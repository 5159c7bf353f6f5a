"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_recrawl_merge --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed, sets up a Spark session at local[<cores>] and warms every Python
worker (setup_s), runs an untimed warm-up unit, then runs units in a
closed loop for ``--seconds``. Every unit's output is checked
against the single-process reference after the timed window.
``--trace 1`` instead runs an untraced, a traced and another untraced
unit after the warm-up and reports the per-layer metrics.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics; the line before it discloses
warm-up times, sample counts and host contention.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import joint_entity_and_relation_extraction_spark  # noqa: E402,F401  (sets BLAS threads)
from joint_entity_and_relation_extraction_spark.session import build_session  # noqa: E402

import procfs  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

E2E_UNITS = {"setup_s": "s", "docs_per_s": "doc/s",
             "batch_latency_p50_s": "s", "core_s_per_kdoc": "s",
             "peak_rss_mb": "MB", "output_precision": "ratio",
             "output_recall": "ratio"}
#: driver heap: the package default (24g) exceeds a 15 GB host. Both
#: workloads fill 2g in every run, so peak RSS is steady and moves with
#: Python-worker and off-heap memory; at 4g the near-dup JVM grew its heap
#: by GC heuristics to anywhere from 2.7 to 3.9 GB of RSS across runs.
DRIVER_MEM = "2g"
#: untimed units before the timed window: the cold unit only. The second
#: KG unit still runs ~1.25x a steady one (JIT); untiming it too cut the KG
#: timing spread over five seeds from 0.16 to 0.10, but made a KG run take
#: 62-80 s instead of about a minute.
WARM_UNITS = 1


def _warm_workers(batches):
    """Imports the package and builds the model weights in a worker."""
    from joint_entity_and_relation_extraction_spark.functions import model
    from joint_entity_and_relation_extraction_spark.operators import dedup  # noqa: F401

    model.weights()
    yield from batches


def setup_session(work: str, trace: bool):
    cores = len(os.sched_getaffinity(0))
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"}
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{log_dir}",
                     "spark.eventLog.compress": "false"})
    spark = build_session(master=f"local[{cores}]", app_name="perfbench",
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    n = 2 * cores
    spark.range(n, numPartitions=n).mapInPandas(_warm_workers, "id long").count()
    return spark, cores


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM this process launched, and
    wait until every descendant process has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while len(procfs.tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)


def kernel_probes(pages: list[bytes], sents: list[list[str]],
                  budget_s: float = 2.0) -> dict[str, float]:
    """Single-thread kernel rates outside Spark, in items per CPU second
    of this thread, over the workload's pages and distinct sentences."""
    from joint_entity_and_relation_extraction_spark.functions import model, text

    def rate(items, fn, batch):
        done, c0 = 0, time.thread_time()
        while done < len(items) and time.thread_time() - c0 < budget_s:
            fn(items[done:done + batch])
            done += len(items[done:done + batch])
        return done / max(time.thread_time() - c0, 1e-9) if items else 0.0

    return {"model.sents_per_s_core": rate(sents, model.extract_batch, 256),
            "text.pages_per_s_core": rate(
                pages, lambda b: [text.html_to_text(p) for p in b], 64)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    imports_s = procfs.process_age_s()

    # everything the run writes stays inside the checkout
    work = os.path.join(ROOT, ".perfbench", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                                 DRIVER_MEM),
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    })
    wl = WORKLOADS[a.workload](a.seed, work,
                               os.path.join(ROOT, ".perfbench", "reference"))

    phases = {"generate_s": procfs.process_age_s() - imports_s}
    t0 = time.monotonic()
    spark, cores = setup_session(work, bool(a.trace))
    setup_s = imports_s + time.monotonic() - t0
    wl.start(spark)
    untraced = spans.Tracer(spark, enabled=False)
    results: list[bool] = []  # per unit index: ran without raising

    def unit(tr) -> tuple[int, float] | None:
        try:
            out = wl.run_unit(spark, tr, len(results))
        except Exception:
            traceback.print_exc()
            results.append(False)
            return None
        results.append(True)
        return out

    warm = [out[1] for out in (unit(untraced) for _ in range(WARM_UNITS))
            if out is not None]

    phases["warm_s"] = time.monotonic() - t0 - setup_s + imports_s
    t_timed = time.monotonic()
    load0 = os.getloadavg()[0]
    stat0, cpu0 = procfs.cpu_times(), procfs.tree_cpu_s()
    lat: list[float] = []
    docs = 0
    tracer = spans.Tracer(spark, enabled=bool(a.trace))
    with procfs.RssSampler() as rss:
        if a.trace:
            # untraced units on both sides of the traced one: unit time is
            # still falling, so one comparator alone would bias the ratio
            before = (unit(untraced) or (0, 0.0))[1]
            t = time.monotonic()
            traced_s = (unit(tracer) or (0, 0.0))[1]
            wl.trace_extras(spark, tracer)
            traced_pass_s = time.monotonic() - t
            untraced_s = (before + (unit(untraced) or (0, 0.0))[1]) / 2
        else:
            while sum(lat) < a.seconds:
                out = unit(untraced)
                if out is None:
                    break
                docs += out[0]
                lat.append(out[1])
    cpu_s = procfs.tree_cpu_s() - cpu0
    host = procfs.contention(stat0, procfs.cpu_times())
    load1 = os.getloadavg()[0]

    phases["timed_s"] = time.monotonic() - t_timed
    t_check = time.monotonic()
    checks = []
    for k, ran in enumerate(results):
        if not ran:
            continue
        try:
            checks.append(wl.check(spark, k))
        except Exception:
            traceback.print_exc()
            checks.append({"ok": False, "precision": 0.0, "recall": 0.0})
    failed = results.count(False) + sum(1 for c in checks if not c["ok"])
    last = checks[-1] if checks else {"precision": 0.0, "recall": 0.0}
    precision, recall = last["precision"], last["recall"]
    phases["check_s"] = time.monotonic() - t_check
    stop_spark(spark)  # also flushes the event log

    disclosure = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "master": f"local[{cores}]", "nproc": os.cpu_count(),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "warm_unit_s": [round(w, 3) for w in warm],
        "timed_unit_s": [round(x, 3) for x in lat],
        "units_checked": len(checks),
        "last_check_rows": last.get("rows"),
        "loadavg_1m": [load0, load1], **host,
        "phases_s": {k: round(v, 2) for k, v in phases.items()},
    }
    if a.trace:
        groups = spans.read_event_log(os.path.join(work, "eventlog"))
        metrics = {n: 0.0 for n in spans.PER_LAYER_UNITS}
        metrics.update(spans.layer_metrics(tracer, groups))
        metrics.update(tracer.counts)
        metrics.update(kernel_probes(*wl.probe_inputs()))
        metrics["trace.overhead_ratio"] = traced_s / max(untraced_s, 1e-9)
        metrics["trace.gap_s"] = traced_pass_s - sum(
            s["t1"] - s["t0"] for s in tracer.spans)
        mat = [groups.get(s["group"], {}) for s in tracer.spans
               if s["layer"] == "materialize"]
        metrics["materialize.read_mb"] = sum(g.get("read_mb", 0) for g in mat)
        metrics["materialize.written_mb"] = sum(
            g.get("written_mb", 0) for g in mat)
        units = spans.PER_LAYER_UNITS
        disclosure.update({"untraced_unit_s": untraced_s,
                           "traced_unit_s": traced_s})
    else:
        wall = sum(lat)
        metrics = {
            "setup_s": setup_s,
            "docs_per_s": docs / wall if wall else 0.0,
            "batch_latency_p50_s": statistics.median(lat) if lat else 0.0,
            "core_s_per_kdoc": cpu_s / docs * 1000 if docs else 0.0,
            "peak_rss_mb": rss.peak_mb,
            "output_precision": precision,
            "output_recall": recall,
        }
        units = E2E_UNITS
    shutil.rmtree(work, ignore_errors=True)
    correct = failed == 0 and bool(checks)
    print(json.dumps({"disclosure": disclosure}))
    print(json.dumps({
        "correct": correct, "attempted": len(results), "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]}
                    for n, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
