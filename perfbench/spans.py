"""Layer spans for the traced run, and the event-log reader that charges
Spark work to them.

Untraced, ``Tracer.layer`` only calls the layer. Traced, every call gets
a Spark job group, a materialization barrier on its output (so the next
layer's span starts from materialized input and measures self time) and
a span with wall time, process-tree CPU time and the job group's id.
Shuffle, spill and failed-task counts come from the Spark event log,
parsed after the session stops.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict

from pyspark.sql import DataFrame

import procfs

#: every layer the traced runs report, in chain order
LAYERS = ("webpages", "warclite", "extract.text", "extract.split",
          "extract.model", "extract.joinback", "linking", "canonicalize.cc",
          "canonicalize.canon", "materialize", "dedup.lsh",
          "dedup.incremental", "dedup.edit_verify", "graph.degrees_lsh")
GAP_GROUP = "perfbench.gap"
#: the six metrics every layer gets, with units
LAYER_METRICS = {"wall_s": "s", "cpu_s": "s", "jobs": "count",
                 "shuffle_mb": "MB", "spill_mb": "MB", "failed_tasks": "count"}
#: counts and ratios the traced run adds, with units
COUNTS = {"extract.sentences": "count", "extract.residue": "ratio",
          "linking.surfaces": "count", "linking.exact_share": "ratio",
          "linking.lsh_share": "ratio", "materialize.read_mb": "MB",
          "materialize.written_mb": "MB", "dedup.lsh.pairs": "count",
          "dedup.incremental.pairs": "count",
          "dedup.edit_verify.pairs": "count",
          "model.sents_per_s_core": "1/s", "text.pages_per_s_core": "1/s",
          "trace.overhead_ratio": "ratio", "trace.gap_s": "s"}
PER_LAYER_UNITS = {**{f"{layer}.{m}": u for layer in LAYERS
                      for m, u in LAYER_METRICS.items()}, **COUNTS}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)

    def layer(self, name: str, fn, barrier: bool = True):
        """Run one call into a layer. ``barrier=False`` for calls whose
        result is not a DataFrame or is materialized by the call itself."""
        if not self.enabled:
            return fn()
        group = f"{name}#{len(self.spans)}"
        self.sc.setJobGroup(group, name)
        c0, t0 = procfs.tree_cpu_s(), time.monotonic()
        try:
            out = fn()
            if barrier and isinstance(out, DataFrame):
                out = out.localCheckpoint(eager=True)
        finally:
            t1, c1 = time.monotonic(), procfs.tree_cpu_s()
            self.sc.setJobGroup(GAP_GROUP, "between layers")
        self.spans.append({"layer": name, "group": group, "t0": t0,
                           "t1": t1, "cpu_s": c1 - c0})
        return out

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] += value


def _events(path: str):
    with open(path) as f:
        for line in f:
            yield json.loads(line)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, shuffle MB (read + written), spill MB (memory
    + disk), input and output MB, and failed tasks, from the one
    application log in log_dir."""
    apps = glob.glob(os.path.join(log_dir, "*"))
    if len(apps) != 1:
        raise RuntimeError(f"expected one application log in {log_dir}, "
                           f"found {apps}")
    # Spark 4 writes a rolling log: a directory of events_<n>_<app> files
    paths = (sorted(glob.glob(os.path.join(apps[0], "events_*")),
                    key=lambda p: int(os.path.basename(p).split("_")[1]))
             if os.path.isdir(apps[0]) else apps)
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "shuffle_mb": 0.0, "spill_mb": 0.0, "read_mb": 0.0,
        "written_mb": 0.0, "failed_tasks": 0})
    for path in paths:
        for ev in _events(path):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id", GAP_GROUP)
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                g = out[stage_group.get(ev["Stage ID"], GAP_GROUP)]
                if (ev.get("Task Info") or {}).get("Failed"):
                    g["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                g["shuffle_mb"] += (rd.get("Remote Bytes Read", 0)
                                    + rd.get("Local Bytes Read", 0)
                                    + wr.get("Shuffle Bytes Written", 0)) / 2**20
                g["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0)) / 2**20
                g["read_mb"] += (m.get("Input Metrics") or {}).get(
                    "Bytes Read", 0) / 2**20
                g["written_mb"] += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0) / 2**20
    return out


def layer_metrics(tracer: Tracer, groups: dict[str, dict]) -> dict[str, float]:
    """Six metrics per layer, summed over the layer's calls."""
    m: dict[str, float] = {}
    for layer in LAYERS:
        spans = [s for s in tracer.spans if s["layer"] == layer]
        ev = [groups.get(s["group"], {}) for s in spans]
        m[f"{layer}.wall_s"] = sum(s["t1"] - s["t0"] for s in spans)
        m[f"{layer}.cpu_s"] = sum(s["cpu_s"] for s in spans)
        for key in ("jobs", "shuffle_mb", "spill_mb", "failed_tasks"):
            m[f"{layer}.{key}"] = sum(e.get(key, 0) for e in ev)
    return m
