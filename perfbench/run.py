"""The creditmart benchmark: one closed-loop client, one process, one workload.

    python3 perfbench/run.py --workload credit_refresh --seed 1 --seconds 12 --trace 0

Starts a Spark session on ``local[<cores>]``, sets the workload up, then runs
timed iterations until ``--seconds`` of iteration time has been measured,
checking every output against a DuckDB oracle outside the timers. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). The line before it is an ``info``
object with the session, the inputs and every sample. See README.md here
for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("credit_refresh", "corpus_stream")

FULL = ("wall_s", "planning_s", "driver_only_s", "jobs", "stages", "tasks",
        "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_mb",
        "spill_mb", "output_files", "plan_nodes", "exchanges")
SCHED = ("wall_s", "planning_s", "driver_only_s", "jobs", "stages", "tasks",
         "executor_run_s", "executor_cpu_s")
MARTS = ("fct_dpd_daily", "fct_npl_monthly", "fct_roll_rate_monthly",
         "fct_cure_rate_monthly", "fct_vintage_mob", "fct_collections_monthly",
         "fct_writeoff_recovery_monthly")
# span -> fields reported for it (127 metrics in all)
PER_LAYER = {
    "generator.run_credit_oltp_synth": FULL,
    "pipeline.run_pipeline": FULL,
    **{f"writers.{m}": ("wall_s", "planning_s", "driver_only_s",
                        "executor_run_s", "output_files") for m in MARTS},
    "checks.run_schema_tests": SCHED + ("plan_nodes", "exchanges"),
    "incremental.refresh_marts": tuple(f for f in FULL if f != "spill_mb"),
    **{f"incremental.{m}": ("wall_s",) for m in MARTS if m != "fct_vintage_mob"},
    "curation.build_eval_gram_store": SCHED + ("shuffle_write_mb", "output_files"),
    "streaming.stream_corpus_ingest": tuple(f for f in FULL if f != "spill_mb"),
    "streaming.batch": SCHED + ("plan_nodes", "queryPlanning_s", "addBatch_s",
                                "walCommit_s"),
}
# spans whose mart writes are split out by output path
WRITE_SPLIT = {"pipeline.run_pipeline": "writers", "incremental.refresh_marts": "incremental"}


def unit(field: str) -> str:
    if field.endswith("_s"):
        return "s"
    if field.endswith("_mb"):
        return "MB"
    return "count"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _start_session(work: Path, traced: bool):
    from credit_abs_oltp_to_mart_spark.session import get_spark
    from perfbench.tracing import TRACE_CONF

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # PerfDisableSharedMem: no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:+PerfDisableSharedMem",
        **(TRACE_CONF if traced else {}),
    }
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def _stop_session(spark) -> list[int]:
    """Stop Spark, the JVM and its workers; return any pid still alive."""
    from perfbench.host import descendants, wait_gone

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    pids = [proc.pid, *descendants(proc.pid)]
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits at end of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    return wait_gone(pids, 30)


def _quiesce(spark) -> list[str]:
    """Drop every cache, persisted RDD and temp view, then wait until no job
    or stream is running. Returns what was still running after 30 s."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + 30
    while True:
        busy = []
        if tracker.getActiveJobsIds():
            busy.append(f"active jobs {list(tracker.getActiveJobsIds())}")
        if spark.streams.active:
            busy.append(f"active streams {[q.name for q in spark.streams.active]}")
        if not busy or time.monotonic() > deadline:
            return busy
        time.sleep(0.1)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _layers(tracer) -> tuple[dict, dict]:
    """Per-layer metrics (median over a span's occurrences) and, per span,
    the largest residual between the layers and the wall."""
    recs = tracer.snapshot()
    found: dict[str, list[dict]] = defaultdict(list)
    for s in tracer.spans:
        outputs = s.get("outputs", [])
        m = recs.measure(s["start"], s["end"], outputs)
        for k in ("queryPlanning", "addBatch", "walCommit"):
            if "durations" in s:
                m[f"{k}_s"] = s["durations"].get(k, 0) / 1000.0
        found[s["name"]].append(m)
        if s["name"] in WRITE_SPLIT:
            for w in recs.writes_within(s["start"], s["end"]):
                found[f"{WRITE_SPLIT[s['name']]}.{w['table']}"].append(
                    recs.measure(w["seg_start"], w["end"], outputs, prefix=w["path"])
                )
    metrics = {}
    for span, fields in PER_LAYER.items():
        for f in fields:
            metrics[f"{span}.{f}"] = {
                "value": _median([m[f] for m in found.get(span, [])]),
                "unit": unit(f),
            }
    residual = {
        span: {"n": len(ms), "max_residual_s": max(m["residual_s"] for m in ms),
               "median_wall_s": _median([m["wall_s"] for m in ms])}
        for span, ms in found.items()
    }
    return metrics, residual


def run(args, work: Path) -> dict:
    import pyspark

    from perfbench.host import peak_rss_mb, tree_cpu_s
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS as CLASSES

    t_setup = time.perf_counter()
    traced = bool(args.trace)
    spark = _start_session(work, traced)
    try:
        jvm = spark.sparkContext._gateway.proc.pid
        tracer = Tracer(spark, traced)
        wl = CLASSES[args.workload](spark, tracer, work, args.seed)
        wl.setup()
        setup_s = time.perf_counter() - t_setup
        tracer.capture_outputs()
        failures = wl.check_setup()
        attempted, failed = 1, int(bool(failures))
        busy = _quiesce(spark)
        threads0 = threading.active_count()

        walls, cpus, measured, i = [], [], 0.0, 0
        while measured < args.seconds:
            if busy:
                failures.append(f"before iteration {i}: {busy}")
            c0, w0 = tree_cpu_s(jvm), time.perf_counter()
            try:
                state, errs = wl.iteration(i), []
            except Exception:
                traceback.print_exc()
                state, errs = None, [f"iteration {i} raised"]
            wall, cpu = time.perf_counter() - w0, tree_cpu_s(jvm) - c0
            measured += wall
            tracer.capture_outputs()
            if state is not None:
                errs += wl.check_iteration(state)
            attempted += 1
            if errs or busy:
                failed += 1
                failures += errs
            else:
                walls.append(wall)
                cpus.append(cpu)
            busy = _quiesce(spark)
            i += 1
        rss = peak_rss_mb(jvm)
        end_failures = wl.check_end()
        failed += int(bool(end_failures))
        failures += end_failures

        e2e = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "iteration_s": {"value": _median(walls), "unit": "s"},
            "iteration_cpu_s": {"value": _median(cpus), "unit": "s"},
        }
        phases = defaultdict(list)
        for s in tracer.spans:
            phases[s["name"]].append((s["end"] - s["start"]) / 1000.0)
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "master": spark.sparkContext.master,
            "defaultParallelism": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "pyspark": pyspark.__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "inputs": wl.inputs(),
            "iterations": len(walls),
            "iteration_walls_s": walls,
            "iteration_cpus_s": cpus,
            "iteration_max_s": max(walls) if walls else None,
            "peak_rss_mb": rss,
            "span_walls_s": dict(phases),
            "extra_python_threads": threading.active_count() - threads0,
            "failures": failures,
        }
        if traced:
            metrics, info["span_residuals"] = _layers(tracer)
            info["traced_end_to_end"] = e2e
        else:
            metrics = e2e
        wl.close()
    finally:
        left = _stop_session(spark)
    if left:
        raise RuntimeError(f"processes still alive after stop: {left}")
    return {
        "info": info,
        "result": {"correct": not failures and failed == 0, "attempted": attempted,
                   "failed": failed, "metrics": metrics},
    }


def main(argv=None) -> int:
    args = _parse(argv)
    needed = ["credit_abs_oltp_to_mart_spark/__init__.py", "__spark_entry__.py",
              "tests/duck_oracle.py"]
    missing = [n for n in needed if not (ROOT / n).is_file()]
    if missing:
        print(f"perfbench: {ROOT} does not hold the program: missing {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # keep every temporary file of this process and the JVM inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")  # wins over spark.local.dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:+PerfDisableSharedMem"
    tempfile.tempdir = None
    try:
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"info": out["info"]}, default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
