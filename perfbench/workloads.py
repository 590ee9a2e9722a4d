"""The two workloads, their warm-up passes and their correctness gates.

Both drive the engine only through its public entry points: the query
registry (``queries()[name](spark, dir)``), the noop sink for forcing
execution, and ``sinks.append_snapshot`` / ``sinks.read_snapshots`` for the
CLI ``run`` cycle. Every call is timed as its own span under its own Spark
job group, so a traced run can attribute the jobs it launched.

The client is closed-loop: one driver thread, each call starting after the
previous one returned.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import os
import shutil
import statistics
import threading
import time
import traceback
from collections import defaultdict

from .eventlog import GROUP_PREFIX
from .spans import Spans
from .spec import WORKLOADS

#: a call still running after this long is cancelled and counts as failed
OP_TIMEOUT_S = 60.0
#: warm re-executions per cold execution on relational; the median of three
#: drops one call that a burst of host load slowed
WARM_REPS = 3
#: The end-to-end figures come from a fixed number of passes: the first
#: relational pass, the first HOURLY_CYCLES hourly cycles. Passes that still
#: fit into --seconds after those run and are checked, but they feed only the
#: per-pass layer figures, so a faster program reports the same samples, not
#: more of them.
RELATIONAL_PASSES = 1
#: four cycles: the read-back sees a sink that grew, and each call's median
#: over the cycles is not set by the first one, which still pays for JIT
HOURLY_CYCLES = 4
#: read-backs per hourly cycle; each is short, so one alone is mostly noise
READBACKS = 3


def corpus(root: str, seed: int, scale: float) -> str:
    """Generated corpus for (seed, scale), built once per checkout with
    ``tools/make_testdata.py``."""
    from tools.make_testdata import generate

    d = os.path.join(root, ".perfbench", "data", f"seed{seed}-scale{scale}")
    if not os.path.isdir(d):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.redirect_stdout(io.StringIO()):
            generate(tmp, seed, scale)
        os.replace(tmp, d)
    return d


def corpus_seed(seed: int, role: str, h: int = 0) -> int:
    """The generator seed of one corpus of a run: ``role`` is "measure",
    "warmup" or "hour" (landing directory ``h``). The generator seeds numpy's
    ``RandomState``, which takes only 0 .. 2**32 - 1, so any run seed, negative
    or large, maps into that range by a hash."""
    digest = hashlib.sha256(f"{seed}:{role}:{h}".encode()).digest()
    return int.from_bytes(digest[:4], "little")


def prepare(root: str, workload: str, seed: int) -> None:
    """Generate the run's inputs before anything is timed."""
    scale = WORKLOADS[workload]["scale"]
    corpus(root, corpus_seed(seed, "warmup"), scale)
    if workload == "relational":
        corpus(root, corpus_seed(seed, "measure"), scale)
    else:
        for h in range(HOURLY_CYCLES + 1):
            corpus(root, corpus_seed(seed, "hour", h), scale)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Bench:
    """One benchmark run's engine handle, inputs, spans and failure tally."""

    def __init__(self, spark, spans: Spans, root: str, work: str) -> None:
        from traderjoe_etl_spark.queries import oracle_sql, queries

        self.spark = spark
        self.sc = spark.sparkContext
        self.qs = queries()
        self.osql = oracle_sql()
        self.spans = spans
        self.root = root
        self.work = work
        self.measuring = False
        self.rss = None
        self.peak_mb = float("nan")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.ops_by_query: dict[str, int] = defaultdict(int)

    def end_measurement(self) -> None:
        """Close the measured phase; peak memory excludes the check's DuckDB."""
        self.measuring = False
        if self.rss is not None:
            self.peak_mb = self.rss.peak_mb

    # -- inputs --------------------------------------------------------------

    def fresh_copy(self, src: str, name: str) -> str:
        """A copy of ``src`` under a path this process has never read, so the
        engine's directory-keyed caches start cold."""
        d = os.path.join(self.work, "in", name)
        shutil.copytree(src, d)
        return d

    # -- timed calls -----------------------------------------------------------

    def op(self, kind: str, query: str, fn):
        """Run ``fn`` as one timed call; returns (seconds, result)."""
        self.attempted += 1
        self.ops_by_query[query] += 1
        with self.spans.span(kind, kind=kind, query=query, measured=self.measuring) as s:
            group = f"{GROUP_PREFIX}{s.id}"
            self.sc.setJobGroup(group, f"{kind}:{query}")
            timer = threading.Timer(OP_TIMEOUT_S, self.sc.cancelJobGroup, [group])
            timer.start()
            try:
                t0 = time.perf_counter()
                value = fn()
                dt = time.perf_counter() - t0
            finally:
                timer.cancel()
                self.sc.setLocalProperty("spark.jobGroup.id", None)
        return dt, value

    def fail(self, what: str, err: BaseException | str, ops: int = 1) -> None:
        self.failed += ops
        msg = err if isinstance(err, str) else "".join(
            traceback.format_exception_only(type(err), err)).strip()
        self.problems.append(f"{what}: {msg[:500]}")

    def compare(self, what: str, got, expected, query: str) -> bool:
        """``tests/oracle_harness.compare`` on two pandas frames; a mismatch
        fails every call ``query`` made, since each returned that answer."""
        from tests.oracle_harness import compare

        problems = compare(_Collected(_fold_signed_zero(got)), _fold_signed_zero(expected))
        if problems:
            self.fail(f"check {what}", "; ".join(problems), ops=self.ops_by_query[query])
        return not problems

    def check(self, query: str, spark_df, sf_dir: str) -> bool:
        """Compare one result with its DuckDB ``oracle_sql()`` twin."""
        from tests.oracle_harness import duckdb_conn

        with self.spans.span(f"check:{query}"):
            try:
                con = duckdb_conn(sf_dir)
                try:
                    expected = con.execute(self.osql[query]).df()
                finally:
                    con.close()
                got = spark_df.toPandas()
            except Exception as e:  # a check that cannot run fails like a mismatch
                self.fail(f"check {query}", e, ops=self.ops_by_query[query])
                return False
            return self.compare(query, got, expected, query)


class _Collected:
    """A collected result in the shape ``oracle_harness.compare`` takes."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def _fold_signed_zero(pdf):
    """-0.0 -> 0.0 in float columns. The values are equal, but the harness
    formats them as different strings ("-0.000000"), and DuckDB's round()
    keeps the sign of a tiny negative where Spark's does not."""
    for c in pdf.columns:
        if pdf[c].dtype.kind == "f":
            pdf[c] = pdf[c] + 0.0
    return pdf


# -- relational ----------------------------------------------------------------


def relational_pass(b: Bench, d: str, record=None, warm_reps: int = WARM_REPS) -> None:
    """One trip through the mix on directory ``d``: each query built, run
    once (cold) and re-run ``warm_reps`` times (warm)."""
    for q in WORKLOADS["relational"]["mix"]:
        with b.spans.span(f"query:{q}"):
            try:
                tb, df = b.op("build", q, lambda: b.qs[q](b.spark, d))
                tx, _ = b.op("execute", q, lambda: _noop(df))
                warm = [b.op("warm", q, lambda: _noop(df))[0] for _ in range(warm_reps)]
            except Exception as e:  # one failing query stays in the mix
                b.fail(q, e)
                continue
        if record is not None:
            record(q, tb + tx, warm, d, df)


def measure_relational(b: Bench, seed: int, deadline: float) -> dict:
    spec = WORKLOADS["relational"]
    src = corpus(b.root, corpus_seed(seed, "measure"), spec["scale"])
    cold, warm, last = defaultdict(list), defaultdict(list), {}
    p = 0

    def record(q, c, w, d, df):
        if p < RELATIONAL_PASSES:
            cold[q].append(c)
            warm[q].extend(w)
        last[q] = (d, df)

    # whole passes only, so every query has as many samples as the others
    while p < RELATIONAL_PASSES or time.perf_counter() < deadline:
        relational_pass(b, b.fresh_copy(src, f"pass{p}"), record)
        p += 1
    b.end_measurement()
    with b.spans.span("check"):
        for q in spec["mix"]:
            if q in last:
                b.check(q, last[q][1], last[q][0])
    if not cold:
        raise RuntimeError(f"relational: every query failed: {b.problems}")
    return {
        "cold_total_s": sum(statistics.median(v) for v in cold.values()),
        "warm_total_s": sum(statistics.median(v) for v in warm.values()),
        "passes": float(p),
        "samples": {"cold": sum(len(v) for v in cold.values()),
                    "warm": sum(len(v) for v in warm.values())},
    }


# -- hourly ------------------------------------------------------------------------

_READBACK_SQL = """
SELECT pool_address, count(*) AS n_rows, round(avg("APR%"), 6) AS avg_apr
FROM snap GROUP BY pool_address
"""


def _readback(spark, sink: str):
    from pyspark.sql import functions as F

    from traderjoe_etl_spark.sinks import read_snapshots

    return (read_snapshots(spark, sink)
            .groupBy("pool_address")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.round(F.avg(F.col("`APR%`")), 6).alias("avg_apr"))
            .collect())


def hourly_cycle(b: Bench, land: str, sink: str, last: dict) -> tuple[dict, list[float]]:
    """One CLI ``run`` cycle on landing directory ``land`` plus the streaming
    drains of the same hour, then ``READBACKS`` read-backs of the sink.
    Returns ({(query, kind): s} of the cycle's calls, [read-back s])."""
    from traderjoe_etl_spark.sinks import append_snapshot

    snapshot, *streams = WORKLOADS["hourly"]["mix"]
    calls = {}
    calls[snapshot, "build"], snap = b.op("build", snapshot, lambda: b.qs[snapshot](b.spark, land))
    calls[snapshot, "append"], _ = b.op("append", snapshot, lambda: append_snapshot(snap, sink))
    for s in streams:
        calls[s, "build"], df = b.op("build", s, lambda: b.qs[s](b.spark, land))
        calls[s, "execute"], _ = b.op("execute", s, lambda: _noop(df))
        last[s] = (land, df)
    reads = []
    for _ in range(READBACKS):
        tr, last["read_snapshots"] = b.op("readback", "read_snapshots", lambda: _readback(b.spark, sink))
        reads.append(tr)
    return calls, reads


def measure_hourly(b: Bench, seed: int, deadline: float) -> dict:
    import duckdb
    import pandas as pd
    from tests.oracle_harness import duckdb_conn

    from traderjoe_etl_spark.sinks import read_snapshots

    spec = WORKLOADS["hourly"]
    sink = os.path.join(b.work, "sink")
    cold, readbacks, lands, last = defaultdict(list), [], [], {}
    h = 0
    while h < HOURLY_CYCLES or time.perf_counter() < deadline:
        src = corpus(b.root, corpus_seed(seed, "hour", h), spec["scale"])
        land = b.fresh_copy(src, f"hour{h}")
        with b.spans.span(f"cycle:{h}"):
            try:
                calls, r = hourly_cycle(b, land, sink, last)
                if h < HOURLY_CYCLES:
                    for k, v in calls.items():
                        cold[k].append(v)
                    readbacks.extend(r)
            except Exception as e:
                b.fail(f"cycle:{h}", e)
        lands.append(land)
        h += 1
    b.end_measurement()

    with b.spans.span("check"):
        snapshot = spec["mix"][0]
        oracle = []
        for land in lands:
            con = duckdb_conn(land)
            try:
                oracle.append(con.execute(b.osql[snapshot]).df())
            finally:
                con.close()
        expected = pd.concat(oracle, ignore_index=True)
        rows_appended = len(expected)
        try:
            appended = read_snapshots(b.spark, sink).drop("snapshot_date").toPandas()
        except Exception as e:  # a sink that cannot be read back fails every append
            b.fail("check sink rows", e, ops=b.ops_by_query[snapshot] + b.ops_by_query["read_snapshots"])
        else:
            b.compare("sink rows", appended, expected, snapshot)
            con = duckdb.connect()
            try:
                con.register("snap", expected)
                agg = con.execute(_READBACK_SQL).df()
            finally:
                con.close()
            got = pd.DataFrame([r.asDict() for r in last.get("read_snapshots", [])],
                               columns=list(agg.columns))
            b.compare("read-back", got, agg, "read_snapshots")
        for s in spec["mix"][1:]:
            if s in last:
                b.check(s, last[s][1], last[s][0])

    if not cold:
        raise RuntimeError(f"hourly: every cycle failed: {b.problems}")
    files = [os.path.join(dp, f) for dp, _, fs in os.walk(sink) for f in fs if f.endswith(".parquet")]
    sink_bytes = sum(os.path.getsize(f) for f in files)
    return {
        "cold_total_s": sum(statistics.median(v) for v in cold.values()),
        "warm_total_s": statistics.median(readbacks),
        "passes": float(h),
        "samples": {"cycles": max(map(len, cold.values())), "readbacks": len(readbacks)},
        "sink": {"files": len(files), "bytes": sink_bytes,
                 "bytes_per_row": sink_bytes / rows_appended if rows_appended else 0.0},
    }


# -- warm-up ---------------------------------------------------------------------------


def warmup(b: Bench, workload: str, seed: int) -> None:
    """The workload's own operations on a separate corpus (another seed), so
    JIT, codegen and Python-worker start-up are paid before the measured
    phase: one relational pass or one hourly cycle."""
    src = corpus(b.root, corpus_seed(seed, "warmup"), WORKLOADS[workload]["scale"])
    d = b.fresh_copy(src, "warmup")
    if workload == "relational":
        relational_pass(b, d, warm_reps=1)
    else:
        try:
            hourly_cycle(b, d, os.path.join(b.work, "warmup-sink"), {})
        except Exception as e:
            b.fail("warm-up cycle", e)


MEASURE = {"relational": measure_relational, "hourly": measure_hourly}
