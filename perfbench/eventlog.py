"""Reduce Spark's JSON event log and the benchmark's spans to per-layer metrics.

The event log is written by Spark itself (``spark.eventLog.enabled`` set at
launch, uncompressed, not rolling), so the program under test is unchanged.
Attribution:

- a job whose ``spark.jobGroup.id`` is ``perfbench-<span id>`` belongs to
  that span (the benchmark sets the group around each call it times);
- any other job (streaming micro-batches run on the query's own thread,
  under its own group) belongs to the timed span its submission time falls
  in;
- tasks and stages belong to the job that submitted their stage;
- streaming figures come from the ``StreamingQueryListener`` progress events
  that Spark posts to the listener bus, which the event log records.

Only spans of the measured phase (``leaves``) count; set-up, warm-up and the
correctness check are left out.
"""

from __future__ import annotations

import json
from collections import defaultdict
from datetime import datetime

from .spans import Span, self_time, union_length

GROUP_PREFIX = "perfbench-"

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_RUN = "time to run Python workers"
# "time to initialize Python workers" is left out: on a reused worker Spark
# 4.1 reports the time since that worker first started (7.9 s inside a
# 0.6 s task), so summing it over tasks means nothing.
_PY_BOOT = "time to start Python workers"
_SCAN_TIME = "scan time"
_FILES_READ = "number of files read"


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class EventLog:
    """The parts of one application's event log the reduction needs."""

    def __init__(self) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages_completed: list[dict] = []
        self.tasks: list[dict] = []
        self.progress: list[dict] = []
        self.sql_time: dict[int, float] = {}
        self.files_read_ids: set[int] = set()
        self.py_rows_ids: set[int] = set()
        self.driver_updates: list[tuple[int, int, float]] = []

    @classmethod
    def read(cls, path: str) -> "EventLog":
        log = cls()
        with open(path) as f:
            for line in f:
                if line.strip():
                    log.add(json.loads(line))
        return log

    def _walk_plan(self, node: dict) -> None:
        metrics = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
        if _FILES_READ in metrics:
            self.files_read_ids.add(metrics[_FILES_READ])
        if _PY_RECV in metrics and "number of output rows" in metrics:
            self.py_rows_ids.add(metrics["number of output rows"])
        for child in node.get("children", []):
            self._walk_plan(child)

    def add(self, e: dict) -> None:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            self.jobs[jid] = {
                "submit": e["Submission Time"] / 1000.0,
                "end": None,
                "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
            }
            for sid in e.get("Stage IDs", []):
                self.stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            self.stages_completed.append(e["Stage Info"])
        elif kind == "SparkListenerTaskEnd":
            info = e.get("Task Info") or {}
            self.tasks.append({
                "stage": e.get("Stage ID"),
                "attempt": info.get("Attempt", 0),
                "failed": bool(info.get("Failed")) or bool(info.get("Killed")),
                "metrics": e.get("Task Metrics") or {},
                "accums": [(a.get("ID"), a.get("Name"), _num(a.get("Update")))
                           for a in info.get("Accumulables", [])],
            })
        elif kind.endswith("SQLExecutionStart"):
            self.sql_time[e["executionId"]] = e["time"] / 1000.0
            self._walk_plan(e.get("sparkPlanInfo") or {})
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._walk_plan(e.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e.get("accumUpdates", []):
                self.driver_updates.append((e["executionId"], acc_id, _num(value)))
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            p = e["progress"]
            start = _iso_epoch(p["timestamp"])
            self.progress.append({
                "run": p.get("runId"),
                "start": start,
                "end": start + p.get("batchDuration", 0) / 1000.0,
                "input_rows": sum(s.get("numInputRows", 0) for s in p.get("sources", [])),
                "duration_ms": p.get("durationMs") or {},
                "state": p.get("stateOperators") or [],
            })


def _leaf_at(leaves: list[Span], t: float) -> Span | None:
    for s in leaves:
        if s.start <= t <= s.end:
            return s
    return None


def _attribute(log: EventLog, leaves: list[Span]) -> dict[int, Span | None]:
    """Job id -> the measured span it ran for (None: outside the measured phase)."""
    by_id = {s.id: s for s in leaves}
    out = {}
    for jid, job in log.jobs.items():
        g = job["group"] or ""
        if g.startswith(GROUP_PREFIX):
            out[jid] = by_id.get(int(g[len(GROUP_PREFIX):]))
        else:
            out[jid] = _leaf_at(leaves, job["submit"])
    return out


def per_span_jobs(log: EventLog, leaves: list[Span]) -> dict[int, tuple[int, int]]:
    """Span id -> (jobs, completed stages) attributed to it."""
    job_of = _attribute(log, leaves)
    jobs: dict[int, int] = defaultdict(int)
    stages: dict[int, int] = defaultdict(int)
    for s in job_of.values():
        if s is not None:
            jobs[s.id] += 1
    for st in log.stages_completed:
        s = job_of.get(log.stage_job.get(st.get("Stage ID")))
        if s is not None:
            stages[s.id] += 1
    return {sid: (jobs[sid], stages[sid]) for sid in jobs}


def reduce_layers(log: EventLog, leaves: list[Span], cores: int) -> dict[str, float]:
    """Per-layer metrics over the measured ``leaves`` (spans whose ``kind``
    attr is build / execute / warm / append / readback)."""
    def is_stream_job(job: dict) -> bool:
        return not (job["group"] or "").startswith(GROUP_PREFIX)

    job_of = _attribute(log, leaves)
    measured_jobs = {jid for jid, s in job_of.items() if s is not None}
    batches = [p for p in log.progress if _leaf_at(leaves, p["start"]) is not None]
    batch_iv = [(p["start"], p["end"]) for p in batches]

    m: dict[str, float] = defaultdict(float)

    # queries: registry calls, minus the streaming micro-batches they drain
    for s in (s for s in leaves if s.attrs.get("kind") == "build"):
        own = [log.jobs[j] for j in measured_jobs
               if job_of[j] is s and not is_stream_job(log.jobs[j])]
        job_iv = [(j["submit"], j["end"] or s.end) for j in own]
        stream_cover = union_length(batch_iv, s.start, s.end)
        m["queries.build_s"] += s.duration - stream_cover
        m["queries.build_jobs"] += len(own)
        m["queries.build_job_s"] += union_length(job_iv, s.start, s.end)
        m["queries.build_self_s"] += self_time(s.start, s.end, job_iv + batch_iv)

    # exec / sources / shuffle / python, from the tasks of measured jobs
    m["exec.jobs"] = len(measured_jobs)
    m["exec.stages"] = sum(1 for st in log.stages_completed
                           if log.stage_job.get(st.get("Stage ID")) in measured_jobs)
    tasks = [t for t in log.tasks if log.stage_job.get(t["stage"]) in measured_jobs]
    peak_exec = 0.0
    for t in tasks:
        tm = t["metrics"]
        m["exec.tasks"] += 1
        m["exec.task_retries"] += 1 if t["attempt"] > 0 else 0
        m["exec.failed_tasks"] += 1 if t["failed"] else 0
        m["exec.run_s"] += tm.get("Executor Run Time", 0) / 1e3
        m["exec.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        peak_exec = max(peak_exec, tm.get("Peak Execution Memory", 0))
        inp = tm.get("Input Metrics") or {}
        m["sources.bytes_read"] += inp.get("Bytes Read", 0)
        m["sources.rows_read"] += inp.get("Records Read", 0)
        sr = tm.get("Shuffle Read Metrics") or {}
        m["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        m["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        sw = tm.get("Shuffle Write Metrics") or {}
        m["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        m["shuffle.write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
        m["spill.disk_bytes"] += tm.get("Disk Bytes Spilled", 0)
        m["spill.memory_bytes"] += tm.get("Memory Bytes Spilled", 0)
        for acc_id, name, upd in t["accums"]:
            if name == _SCAN_TIME:
                m["sources.scan_s"] += upd / 1e3
            elif name == _PY_RUN:
                m["python.run_s"] += upd / 1e3
            elif name == _PY_BOOT:
                m["python.boot_s"] += upd / 1e3
            elif name == _PY_SENT:
                m["python.bytes_sent"] += upd
            elif name == _PY_RECV:
                m["python.bytes_received"] += upd
            elif acc_id in log.py_rows_ids:
                m["python.rows_received"] += upd
    m["exec.peak_execution_mb"] = peak_exec / 2**20
    n = m["exec.tasks"]
    m["exec.task_success_frac"] = (n - m.pop("exec.failed_tasks")) / n if n else 1.0
    wall = sum(s.duration for s in leaves)
    m["exec.slot_idle_frac"] = 1.0 - m["exec.run_s"] / (wall * cores) if wall else 1.0

    for exec_id, acc_id, value in log.driver_updates:
        t = log.sql_time.get(exec_id)
        if acc_id in log.files_read_ids and t is not None and _leaf_at(leaves, t):
            m["sources.files_read"] += value

    # streaming: per-batch figures, and the last state size of each query run
    last_state: dict[str, list] = {}
    for p in batches:
        m["streaming.batches"] += 1
        m["streaming.input_rows"] += p["input_rows"]
        d = p["duration_ms"]
        m["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
        m["streaming.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
        last_state[p["run"]] = p["state"]
    for ops in last_state.values():
        for op in ops:
            m["streaming.state_rows"] += op.get("numRowsTotal", 0)
            m["streaming.state_mb"] += op.get("memoryUsedBytes", 0) / 2**20
    return dict(m)
