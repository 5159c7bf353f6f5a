#!/usr/bin/env python
"""Per-stage profile of registry queries or one perfbench round, read
offline from the Spark event log; also the plan dump and repeat timer.

    python jobs/stage_profile.py --query dedup_edit_verify,graph_degrees \\
        [--sf-dir /root/testdata/sf0.01] [--repeats 3]
    python jobs/stage_profile.py --workload crawl_neardup --seed 101
    python jobs/stage_profile.py --plans --query filter_pushdown,tpch_q3

Each query runs cold, then profiled, then (``--repeats N``) N more
times for wall timing outside the printed profile. Every run writes to
the ``noop`` sink, which computes every column as ``collect()`` would
but sends no rows to the driver. A workload generates its inputs
from the seed, runs one untimed warm-up unit and then one profiled unit,
every layer call of which gets its own job group; nothing else in the
unit changes (no barriers, no traced-only counts), so a lazy layer's
work is charged to the layer that runs it (on kg_recrawl_merge, mostly
``materialize``). After the session
stops the event log is parsed and, per job group, one line is printed
per completed stage: tasks, the largest task's run time in ms, the
stage's executor CPU ms, and the shuffle records it read and wrote.
Skipped stages (shuffle output reused) print nothing. Then one line per
job of the profiled run, in submission order: its group, its wall in ms
and the gap in ms since the jobs before it had all ended. The gaps are
time no job ran, mostly query planning between actions. ``--repeats``
then prints one JSON line: each query's timed runs in seconds and their
median.

``--plans`` runs nothing but the plan build and prints each query's
``explain("formatted")`` as a ``## <name>`` section with a fenced block,
the body of ``BENCH/PLANS.md``.

A stage whose largest task is close to its whole CPU time is serial or
skewed; a stage whose records written dwarf its input is an expansion
worth moving before the shuffle or removing. The session runs at
local[<cores>]; everything the run writes stays under
``.perfbench/stage_profile`` in the checkout and is removed at the end.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_BENCH = os.path.join(_REPO, "perfbench")
sys.path[:0] = [_REPO, _BENCH]

BETWEEN = "between"
TIMED = "timed"


class JobGroups:
    """Stands in for perfbench's ``Tracer``: each layer call runs under
    its own job group and nothing else about the unit changes
    (``enabled`` stays False, so the workload keeps its untraced shape)."""

    enabled = False

    def __init__(self, sc):
        self.sc = sc
        self.groups: list[str] = []

    def layer(self, name: str, fn, barrier: bool = True):
        group = f"{name}#{len(self.groups)}"
        self.groups.append(group)
        self.sc.setJobGroup(group, name)
        try:
            return fn()
        finally:
            self.sc.setJobGroup(BETWEEN, "between layers")


def _log_files(log_dir: str) -> list[str]:
    (app,) = glob.glob(os.path.join(log_dir, "*"))
    if not os.path.isdir(app):
        return [app]
    # Spark 4 writes a rolling log: a directory of events_<n>_<app> files
    return sorted(glob.glob(os.path.join(app, "events_*")),
                  key=lambda p: int(os.path.basename(p).split("_")[1]))


def read_stages(log_dir: str) -> dict[str, list[dict]]:
    """Job group → its completed stages in submission order, each with
    tasks, max_task_ms, cpu_ms, records_read and records_written (summed
    over the stage's successful and failed task ends)."""
    stage_group: dict[int, str] = {}
    stages: dict[int, dict] = {}
    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", BETWEEN)
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    s = stages.setdefault(ev["Stage ID"], {
                        "stage": ev["Stage ID"], "name": "", "tasks": 0,
                        "max_task_ms": 0, "cpu_ms": 0.0, "records_read": 0,
                        "records_written": 0})
                    m = ev.get("Task Metrics") or {}
                    s["tasks"] += 1
                    s["max_task_ms"] = max(s["max_task_ms"],
                                           m.get("Executor Run Time", 0))
                    s["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    s["records_read"] += (m.get("Shuffle Read Metrics") or {}
                                          ).get("Total Records Read", 0)
                    s["records_written"] += (m.get("Shuffle Write Metrics") or {}
                                             ).get("Shuffle Records Written", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if info["Stage ID"] in stages:
                        stages[info["Stage ID"]]["name"] = info["Stage Name"]
    out: dict[str, list[dict]] = defaultdict(list)
    for sid in sorted(stages):
        out[stage_group.get(sid, BETWEEN)].append(stages[sid])
    return out


def read_jobs(log_dir: str, since_ms: int) -> list[dict]:
    """Jobs submitted at or after ``since_ms`` (epoch ms), in submission
    order, each with its group, wall_ms and gap_ms: the time from the end
    of every earlier-submitted job (or from ``since_ms``) to its start,
    0 while an earlier job still runs."""
    jobs: dict[int, dict] = {}
    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "job": ev["Job ID"], "start": ev["Submission Time"],
                        "end": None,
                        "group": (ev.get("Properties") or {}).get(
                            "spark.jobGroup.id", BETWEEN)}
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
    out, last_end = [], since_ms
    for j in sorted(jobs.values(), key=lambda j: (j["start"], j["job"])):
        if j["start"] < since_ms or j["end"] is None:
            continue
        out.append({"job": j["job"], "group": j["group"],
                    "wall_ms": j["end"] - j["start"],
                    "gap_ms": max(0, j["start"] - last_end)})
        last_end = max(last_end, j["end"])
    return out


def print_jobs(jobs: list[dict]) -> None:
    print(f"== jobs: {len(jobs)}, {sum(j['wall_ms'] for j in jobs)} ms in "
          f"jobs, {sum(j['gap_ms'] for j in jobs)} ms in gaps")
    print(f"{'job':>6} {'wall_ms':>8} {'gap_ms':>7}  group")
    for j in jobs:
        print(f"{j['job']:>6} {j['wall_ms']:>8} {j['gap_ms']:>7}  {j['group']}")


def print_profile(by_group: dict[str, list[dict]], groups: list[str]) -> None:
    head = (f"{'stage':>6} {'tasks':>6} {'max_task_ms':>12} {'cpu_ms':>9} "
            f"{'shuffle_read':>13} {'shuffle_written':>16}  name")
    for group in groups:
        rows = by_group.get(group, [])
        print(f"== {group}: {len(rows)} stages, "
              f"{sum(r['cpu_ms'] for r in rows):.0f} cpu ms")
        print(head)
        for r in rows:
            print(f"{r['stage']:>6} {r['tasks']:>6} {r['max_task_ms']:>12} "
                  f"{r['cpu_ms']:>9.0f} {r['records_read']:>13} "
                  f"{r['records_written']:>16}  {r['name'][:60]}")


def noop(df) -> None:
    """Run ``df`` to the noop sink: every column computed, no rows kept."""
    df.write.format("noop").mode("overwrite").save()


def print_plan(name: str, df) -> None:
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted")
    print(f"\n## {name}\n\n```\n{plan.strip()}\n```")


def main() -> None:
    ap = argparse.ArgumentParser()
    what = ap.add_mutually_exclusive_group(required=True)
    what.add_argument("--query",
                      help="comma-separated registered or pending query names")
    what.add_argument("--workload", help="a perfbench workload name")
    ap.add_argument("--seed", type=int, default=101)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--plans", action="store_true",
                    help="print only each query's explain('formatted')")
    ap.add_argument("--repeats", type=int, default=0,
                    help="time N more runs per query after the profiled one")
    a = ap.parse_args()
    if a.workload and (a.plans or a.repeats):
        ap.error("--plans and --repeats take --query")
    if a.plans and a.repeats:
        ap.error("--plans and --repeats exclude each other")

    from joint_entity_and_relation_extraction_spark.plans import registry
    from joint_entity_and_relation_extraction_spark.session import build_session

    queries = {**registry.PENDING_QUERIES, **registry.all_queries()}
    names = a.query.split(",") if a.query else []
    unknown = [n for n in names if n not in queries]
    if unknown:
        ap.error(f"unknown queries: {','.join(unknown)}")

    work = os.path.join(_REPO, ".perfbench", "stage_profile")
    shutil.rmtree(work, ignore_errors=True)
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                      TMPDIR=os.path.join(work, "tmp"))

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false"}
    if a.workload:
        from workloads import WORKLOADS  # perfbench module, used read-only

        wl = WORKLOADS[a.workload](a.seed, work, os.path.join(work, "reference"))
    cores = len(os.sched_getaffinity(0))
    spark = build_session(master=f"local[{cores}]", app_name="stage-profile",
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    tr = JobGroups(spark.sparkContext)
    cold, since_ms = 0, 0
    runs: dict[str, list[float]] = {}
    try:
        if a.workload:
            wl.start(spark)
            wl.run_unit(spark, tr, 0)  # cold unit, not printed
            cold = len(tr.groups)
            since_ms = int(time.time() * 1000)
            wl.run_unit(spark, tr, 1)
        elif a.plans:
            for name in names:
                print_plan(name, queries[name](spark, a.sf_dir))
        else:
            for name in names:  # cold runs, not printed
                noop(queries[name](spark, a.sf_dir))
            since_ms = int(time.time() * 1000)
            for name in names:
                tr.layer(name, lambda: noop(queries[name](spark, a.sf_dir)))
            spark.sparkContext.setJobGroup(TIMED, "timed repeats")
            for name in names:
                for _ in range(a.repeats):
                    t0 = time.monotonic()
                    noop(queries[name](spark, a.sf_dir))
                    runs.setdefault(name, []).append(
                        round(time.monotonic() - t0, 3))
    finally:
        spark.stop()
    if not a.plans:
        print_profile(read_stages(log_dir), tr.groups[cold:])
        print_jobs([j for j in read_jobs(log_dir, since_ms)
                    if j["group"] != TIMED])
    if runs:
        print(json.dumps({"sf_dir": a.sf_dir, "runs": runs, "median": {
            n: round(statistics.median(r), 3) for n, r in runs.items()}}))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
