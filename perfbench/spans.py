"""Per-call spans and their attribution from Spark's own event log.

A span wraps one call into a public package function, from outside the
package: it sets a job group, notes the wall-clock window, and clears
the group when the call (and the action that materializes its output)
returns. After the session stops, the rolling event log
(``eventlog_v2_*/events_*[.zstd]``) is decompressed with the ``zstd``
binary and every job is attributed to a span:

* jobs carrying the span's job group;
* jobs with no job group whose submission falls inside the span's
  window. The benchmark client is single and sequential, so the window
  is exact; such jobs are also counted as ``ungrouped_jobs`` (the
  ingest loop's fold-back pool launches jobs outside the caller's
  group).

Each span yields six counters: ``wall_s``, ``driver_s`` (wall time with
none of the span's jobs running), ``jobs``, ``exec_cpu_s`` (executor
CPU of the jobs' tasks), ``gc_s`` (JVM GC time of those tasks) and
``shuffle_mb`` (shuffle bytes written, 10^6 bytes).
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import subprocess
import time
from collections import defaultdict
from contextlib import contextmanager

COUNTERS = ("wall_s", "driver_s", "jobs", "exec_cpu_s", "gc_s", "shuffle_mb")
COUNTER_UNITS = {
    "wall_s": "s", "driver_s": "s", "jobs": "count",
    "exec_cpu_s": "s", "gc_s": "s", "shuffle_mb": "MB",
}

#: every traced span, in workload order: ontology_etl, hierarchy_analytics,
#: ingest_loop (the per-batch call, then the store builds in setup)
SPANS = (
    "pipelines.build_concept_graph",
    "pipelines.build_sheet_graph",
    "pipelines.enrich_concepts",
    "sinks.cypher_codegen.write_statements",
    "graph.closure",
    "graph.depth_histogram",
    "graph.topo_depth",
    "graph.connected_components",
    "graph.pagerank",
    "graph.strongly_connected_components",
    "graph.two_hop_motif",
    "pipelines.ingest_micro_batch",
    "dedup.write_dedup_index",
    "textops.write_substring_index",
    "gatestats.build_ccnet_store",
    "gatestats.build_drift_baseline",
    "sketches.write_cardinality_sketches",
    "similarity.write_pq_ivf_index",
)
UNGROUPED = "pipelines.ingest_micro_batch.ungrouped_jobs"
OVERHEAD = "trace.overhead_ratio"


class Tracer:
    """Records spans while ``active``; a no-op otherwise, so the same
    workload code runs traced and untraced."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[tuple[str, str, float, float]] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        gid = f"perfbench-{len(self.spans)}"
        self.sc.setJobGroup(gid, name)
        t0 = time.time() * 1000.0
        try:
            yield
        finally:
            t1 = time.time() * 1000.0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append((name, gid, t0, t1))


def _event_files(log_dir: str) -> list[str]:
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))

    def index(path: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    return sorted(files, key=index)


def read_events(log_dir: str):
    """Yield the event log's JSON events in order."""
    files = _event_files(log_dir)
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    for path in files:
        if path.endswith(".zstd"):
            raw = subprocess.run(
                ["zstd", "-dcq", path], check=True, capture_output=True
            ).stdout
        else:
            with open(path, "rb") as f:
                raw = f.read()
        for line in raw.splitlines():
            if line.strip():
                yield json.loads(line)


def _covered_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute(events, spans) -> list[dict]:
    """One counter record per span (same order as ``spans``)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_cost = defaultdict(lambda: [0, 0, 0])  # cpu ns, gc ms, shuffle B
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "submit": float(ev["Submission Time"]),
                "end": None,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = float(ev["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            cost = stage_cost[ev["Stage ID"]]
            cost[0] += m.get("Executor CPU Time", 0)
            cost[1] += m.get("JVM GC Time", 0)
            cost[2] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
    job_cost = defaultdict(lambda: [0, 0, 0])
    for sid, cost in stage_cost.items():
        jid = stage_job.get(sid)
        if jid is not None:
            for k in range(3):
                job_cost[jid][k] += cost[k]
    by_group = defaultdict(list)
    ungrouped = []
    for jid, j in jobs.items():
        (by_group[j["group"]] if j["group"] else ungrouped).append(jid)
    out = []
    for name, gid, t0, t1 in spans:
        loose = [
            jid for jid in ungrouped if t0 <= jobs[jid]["submit"] <= t1
        ]
        own = by_group.get(gid, []) + loose
        busy = _covered_ms(
            [
                (jobs[j]["submit"], jobs[j]["end"] or t1)
                for j in own
            ],
            t0,
            t1,
        )
        out.append({
            "name": name,
            "wall_s": (t1 - t0) / 1000.0,
            "driver_s": (t1 - t0 - busy) / 1000.0,
            "jobs": len(own),
            "exec_cpu_s": sum(job_cost[j][0] for j in own) / 1e9,
            "gc_s": sum(job_cost[j][1] for j in own) / 1000.0,
            "shuffle_mb": sum(job_cost[j][2] for j in own) / 1e6,
            "ungrouped_jobs": len(loose),
        })
    return out


def per_layer_metrics(records, overhead_ratio: float) -> dict:
    """Median of each counter over a span's traced calls; spans the
    workload never calls report 0."""
    calls = defaultdict(list)
    for r in records:
        calls[r["name"]].append(r)
    metrics = {}
    for span in SPANS:
        rs = calls.get(span, [])
        for c in COUNTERS:
            v = statistics.median(r[c] for r in rs) if rs else 0
            metrics[f"{span}.{c}"] = {"value": v, "unit": COUNTER_UNITS[c]}
    rs = calls.get("pipelines.ingest_micro_batch", [])
    metrics[UNGROUPED] = {
        "value": statistics.median(r["ungrouped_jobs"] for r in rs)
        if rs else 0,
        "unit": "count",
    }
    metrics[OVERHEAD] = {"value": overhead_ratio, "unit": "ratio"}
    return metrics
