"""What the benchmark measures.

``BENCHMARK.json`` at the repository root is the one list of workloads and
metrics — names, units, directions, bounds — and this module reads it. It
may hold no other keys, so what it has no room for lives here: each
workload's mix, scale and generator command, what each end-to-end metric is
on each workload, and which end-to-end metric each layer should move.

A "pass" is one trip through a workload's mix: on ``relational`` every
query once, cold, then re-executed warm; on ``hourly`` one hourly cycle.
Per-layer counts and times are divided by the number of passes the traced
run made, so a faster program that fits more passes into the same run
length does not read as more work.
"""

from __future__ import annotations

import functools
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def benchmark() -> dict:
    """``BENCHMARK.json``, read once."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def units(kind: str) -> dict[str, str]:
    """Metric name -> unit, for ``kind`` "end_to_end" or "per_layer"."""
    return {m["name"]: m["unit"] for m in benchmark()[kind]}


#: how every input directory is made (``perfbench.workloads.corpus`` calls the
#: same ``generate``)
GENERATOR = "python3 tools/make_testdata.py <dir> --seed {seed} --scale {scale}"

WORKLOADS = {
    "relational": {
        "mix": [
            "pricing_summary", "revenue_by_region", "latest_deposit_per_user",
            "asof_join_last_order", "top3_orders_per_segment", "sessionization",
            "rollup_fees_report", "json_props_stats", "notin_supplier_variety_q16",
            "multi_touch_attribution",
        ],
        "scale": 1,
    },
    "hourly": {
        "mix": ["snapshot_pipeline", "stream_position_tracker"],
        "scale": 1,
    },
}

#: what each end-to-end metric is, per workload
END_TO_END = {
    "setup_s": "get_spark() plus one warm-up pass of the mix on a corpus made from another seed",
    "cold_total_s": "relational: sum over the mix of (registry call + first noop execution) "
                    "on a directory this process never read, in the first pass; hourly: "
                    "sum over one cycle's calls — snapshot_pipeline, append_snapshot, the "
                    "tracker's registry call (it drains) and its first execution — of each "
                    "call's median over the first four cycles",
    "warm_total_s": "relational: sum over the mix of the median of three warm "
                    "re-executions of the same DataFrame in the first pass; hourly: median "
                    "read-back (read_snapshots + per-pool APR aggregate over the growing "
                    "sink) of the first four cycles",
}

#: layer -> the end-to-end metrics it should move, and where
LAYERS = {
    "session": "setup_s on both",
    "queries": "cold_total_s on both; never warm_total_s",
    "process": "memory; reported per layer, not end to end, because its run-to-run spread "
               "(JVM heap growth is adaptive) is wider than the largest allowed bound, 0.25",
    "exec": "warm_total_s on relational and process.peak_rss_mb; task counts also "
            "cold_total_s on hourly",
    "sources": "warm_total_s on both (hourly: the read-back lists more files each cycle)",
    "shuffle": "warm_total_s and cold_total_s on relational",
    "python": "cold_total_s on hourly (stream_position_tracker); flat on relational",
    "streaming": "cold_total_s on hourly; zero on relational",
    "sinks": "cold_total_s and warm_total_s on hourly; zero on relational",
    "trace": "the traced run's own end-to-end figures; minus the untraced medians they "
             "give the tracing overhead",
}


def layer(metric: str) -> str:
    """The layer a per-layer metric belongs to: its name's first part
    (``spill.*`` is the shuffle layer's)."""
    head = metric.split(".", 1)[0]
    return "shuffle" if head == "spill" else head
