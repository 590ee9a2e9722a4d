"""End-to-end benchmark of the engine, one workload per invocation.

    python3 perfbench/run.py --workload relational --seed 7 --seconds 10 --trace 0

Run from the repository root. The benchmark generates its inputs from
``--seed`` with ``tools/make_testdata.py`` (cached per seed and scale under
``.perfbench/data``), starts the engine with ``get_spark()``, warms it up on
a corpus made from another seed, measures the workload for at least
``--seconds``, checks every answer against its DuckDB oracle, and prints one
JSON line last: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` enables Spark's
event log at launch and reports the per-layer metrics instead (see
``spec.py``). Either way the run writes its spans and a per-query breakdown
to ``.perfbench/traces/``, with the event log of a traced run. Everything
the run writes stays under ``.perfbench/``; the run's scratch directory is
removed when it ends. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_FILES = ("traderjoe_etl_spark/__init__.py", "tools/make_testdata.py", "tests/oracle_harness.py")


def _parse(argv):
    from perfbench.spec import WORKLOADS

    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _configure_env(work: str, cores: int, eventlog_dir: str | None) -> None:
    """Keep every file the engine writes inside ``work`` and fix the launch
    settings; must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the engine (stream_position_tracker's state
    # function), so they need the checkout on their path too.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog_dir,
            # Spark 4.1 defaults to a zstd-compressed rolling directory
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"


def _stop_engine(spark) -> None:
    """Stop the session, then the JVM, then wait for every child process."""
    from pyspark import SparkContext

    from perfbench.rss import process_tree

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    while True:
        children = process_tree(os.getpid())[1:]
        if not children:
            return
        if time.monotonic() > deadline:
            for pid in children:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def _per_query(spans, per_span: dict) -> dict:
    """Median seconds, jobs and stages per (query, call kind) of the measured phase."""
    rows: dict = {}
    for s in spans.spans:
        if not s.attrs.get("measured"):
            continue
        jobs, stages = per_span.get(s.id, (0, 0))
        rows.setdefault(s.attrs["query"], {}).setdefault(s.attrs["kind"], []).append((s.duration, jobs, stages))
    return {
        q: {k: {"n": len(v), "s": statistics.median(x[0] for x in v),
                "jobs": statistics.median(x[1] for x in v),
                "stages": statistics.median(x[2] for x in v)} for k, v in kinds.items()}
        for q, kinds in rows.items()
    }


def run(args, work: str) -> dict:
    from perfbench import spec
    from perfbench.rss import PeakRss
    from perfbench.spans import Spans
    from perfbench.workloads import MEASURE, Bench, corpus_seed, prepare, warmup

    cores = len(os.sched_getaffinity(0))
    eventlog_dir = os.path.join(work, "eventlog") if args.trace else None
    _configure_env(work, cores, eventlog_dir)
    prepare(ROOT, args.workload, args.seed)
    spans = Spans()
    spark = None
    # the memory sampler is part of the traced run only, so untraced runs,
    # which give the end-to-end metrics, do not pay for it
    rss = PeakRss() if args.trace else None
    try:
        with spans.span("run", workload=args.workload, seed=args.seed):
            with rss or contextlib.nullcontext():
                with spans.span("setup") as setup:
                    with spans.span("session") as session:
                        from traderjoe_etl_spark.session import get_spark

                        spark = get_spark("perfbench")
                    b = Bench(spark, spans, ROOT, work)
                    b.rss = rss
                    with spans.span("warmup") as warm:
                        warmup(b, args.workload, args.seed)
                with spans.span(f"workload:{args.workload}"):
                    b.measuring = True
                    out = MEASURE[args.workload](b, args.seed, time.perf_counter() + args.seconds)
    finally:
        if spark is not None:
            _stop_engine(spark)

    for p in b.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    e2e = {
        "setup_s": setup.duration,
        "cold_total_s": out["cold_total_s"],
        "warm_total_s": out["warm_total_s"],
    }
    for name, value in e2e.items():
        print(f"{args.workload} {name} = {value:.4f} {spec.units('end_to_end')[name]}")
    print(f"{args.workload} samples {json.dumps(out['samples'])} passes={out['passes']:.2f}"
          f" attempted={b.attempted} failed={b.failed}")
    wl = spec.WORKLOADS[args.workload]
    first = corpus_seed(args.seed, "measure" if args.workload == "relational" else "hour")
    print(f"{args.workload} inputs: {spec.GENERATOR.format(seed=first, scale=wl['scale'])}"
          f" (the warm-up corpus and later hourly landing directories use other derived seeds)")

    traces = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(traces, exist_ok=True)
    stem = os.path.join(traces, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    leaves = [s for s in spans.spans if s.attrs.get("measured")]
    if not args.trace:
        metrics = {k: {"value": v, "unit": spec.units("end_to_end")[k]} for k, v in e2e.items()}
        per_span = {}
    else:
        from perfbench.eventlog import EventLog, per_span_jobs, reduce_layers

        (log_file,) = os.listdir(eventlog_dir)
        shutil.move(os.path.join(eventlog_dir, log_file), stem + ".eventlog")
        log = EventLog.read(stem + ".eventlog")
        per_span = per_span_jobs(log, leaves)
        layers = reduce_layers(log, leaves, cores)
        passes = out["passes"] or 1.0
        for name, unit in spec.units("per_layer").items():
            if unit.endswith("/pass"):
                layers[name] = layers.get(name, 0.0) / passes
        sink = out.get("sink", {})
        layers.update({
            "session.start_s": session.duration,
            "session.warmup_s": warm.duration,
            "process.peak_rss_mb": b.peak_mb,
            "sinks.append_s": sum(s.duration for s in leaves if s.attrs["kind"] == "append") / passes,
            "sinks.files_written": sink.get("files", 0) / passes,
            "sinks.bytes_written": sink.get("bytes", 0) / passes,
            "sinks.bytes_per_row": sink.get("bytes_per_row", 0.0),
            "trace.cold_total_s": out["cold_total_s"],
            "trace.warm_total_s": out["warm_total_s"],
            "trace.passes": out["passes"],
        })
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in spec.units("per_layer").items()}
    spans.dump(stem + ".json", {
        "end_to_end": e2e, "metrics": {k: v["value"] for k, v in metrics.items()},
        "per_query": _per_query(spans, per_span), "problems": b.problems,
    })
    failed = min(b.failed, b.attempted)
    return {"correct": failed == 0 and not b.problems, "attempted": b.attempted,
            "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    # import the benchmark as a package from the checkout root, not as loose
    # scripts from this directory
    if sys.path and os.path.abspath(sys.path[0]) == HERE:
        sys.path[0] = ROOT
    else:
        sys.path.insert(0, ROOT)
    args = _parse(argv)
    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: the program is not here ({', '.join(missing)} missing under {ROOT})",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
