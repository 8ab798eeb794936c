"""Per-layer spans for the benchmark, measured from outside the program.

The benchmark records a span (name, start, end) around each call it makes
into the program. Everything else comes from Spark's own records:

- a ``QueryExecutionListener`` gives each query's planning phases
  (analysis, optimization, physical planning) and the size of its executed
  plan;
- a ``StreamingQueryListener`` gives each micro-batch's phase durations;
- the status store gives jobs, stages and task metrics, and the SQL status
  store gives each SQL execution's interval, jobs and physical plan, from
  which writes are attributed to marts by output path.

Jobs and planning phases belong to a span when they start inside it. A
span's ``driver_only_s`` is the part of its wall covered neither by a
planning phase nor by a job; ``residual_s`` is how far
``planning_s + job_s + driver_only_s`` exceeds ``wall_s``, i.e. the time in
which planning and jobs overlap.
"""

from __future__ import annotations

import bisect
import datetime as dt
import re
import threading
import time
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

QUERY_LISTENER = "org.apache.spark.sql.util.QueryExecutionListener"

# retention limits raised in the traced run so that no job, stage or SQL
# execution is evicted from the status store before it is read
TRACE_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.ui.retainedTasks": "10000000",
    "spark.sql.ui.retainedExecutions": "1000000",
}

_EXCHANGE = re.compile(r"^[\s:|+\-]*(\*\(\d+\)\s*)?(Broadcast)?Exchange\b")
_WRITE_PATH = re.compile(r"Arguments: file:(\S+?/([A-Za-z0-9_]+)\.parquet),")


def now_ms() -> float:
    """Wall-clock milliseconds, the clock Spark stamps its records with."""
    return time.time() * 1000.0


def plan_size(tree: str) -> tuple[int, int]:
    """(nodes, exchanges) of an executed plan's ``treeString``.

    An adaptive plan prints its final plan and its initial plan; only the
    final plan is counted."""
    nodes = exchanges = 0
    skip_below: int | None = None
    for line in tree.splitlines():
        if not line.strip():
            continue
        indent = len(line) - len(line.lstrip(" :|+-"))
        if skip_below is not None and indent > skip_below:
            continue
        skip_below = None
        if "== Initial Plan ==" in line:
            skip_below = indent
            continue
        if "== Final Plan ==" in line:
            continue
        nodes += 1
        exchanges += bool(_EXCHANGE.match(line))
    return nodes, exchanges


class QueryRecorder:
    """Py4J implementation of Spark's ``QueryExecutionListener``.

    Runs on Spark's listener-bus thread; records each finished query's
    planning interval and executed-plan size."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.queries: list[dict] = []
        self.errors: list[str] = []

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802
        self._record(qe, failed=False)

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802
        # the program probes optional state paths (e.g. an empty signature
        # store on the first micro-batch); such a query fails in analysis
        # and has no executed plan
        self._record(qe, failed=True)

    def _record(self, qe, failed: bool) -> None:
        try:
            starts, ends = [], []
            it = qe.tracker().phases().iterator()
            while it.hasNext():
                phase = it.next()._2()
                starts.append(phase.startTimeMs())
                ends.append(phase.endTimeMs())
            if not starts:  # failed before any phase completed
                return
            if failed:
                nodes = exchanges = 0
            else:
                nodes, exchanges = plan_size(qe.executedPlan().treeString())
            rec = {
                "start": float(min(starts)),
                "end": float(max(ends)),
                "nodes": nodes,
                "exchanges": exchanges,
            }
        except Exception as e:  # a failed read must not kill the listener bus
            with self._lock:
                self.errors.append(repr(e))
            return
        with self._lock:
            self.queries.append(rec)

    class Java:
        implements = [QUERY_LISTENER]


class BatchRecorder(StreamingQueryListener):
    """Records every micro-batch's progress: batch id, input rows, phases."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        start = dt.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
        start_ms = start.replace(tzinfo=dt.timezone.utc).timestamp() * 1000.0
        durations = dict(p.durationMs)
        with self._lock:
            self.batches.append({
                "run_id": str(p.runId),
                "batch_id": p.batchId,
                "rows": p.numInputRows,
                "start": start_ms,
                "end": start_ms + durations.get("triggerExecution", 0),
                "durations": durations,
            })

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def take(self) -> list[dict]:
        with self._lock:
            out, self.batches = self.batches, []
        return out


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals`` (ms)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000.0


def written_files(root: Path, lo: float, hi: float) -> list[tuple[str, float]]:
    """(path, mtime ms) of the parquet files under ``root`` last modified
    within [lo, hi] (ms)."""
    if not root.exists():
        return []
    out = []
    for p in root.rglob("*.parquet"):
        if p.is_file():
            m = p.stat().st_mtime * 1000.0
            if lo <= m <= hi:
                out.append((str(p), m))
    return out


class Tracer:
    """Spans around program calls. With ``traced`` it also registers the
    query listener whose records ``snapshot`` attributes to the spans;
    without it a span costs two clock reads."""

    def __init__(self, spark, traced: bool) -> None:
        self.spark = spark
        self.traced = traced
        self.spans: list[dict] = []
        self.queries = QueryRecorder()
        if traced:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(spark.sparkContext._gateway)
            spark._jsparkSession.listenerManager().register(self.queries)

    @contextmanager
    def span(self, name: str, out_root: Path | None = None):
        rec = {"name": name, "start": now_ms(), "out_root": out_root}
        try:
            yield rec
        finally:
            rec["end"] = now_ms()
            self.spans.append(rec)

    def capture_outputs(self) -> None:
        """Record the files each finished span wrote, before a later span
        rewrites or deletes them. Run outside the timers."""
        if not self.traced:
            return
        for s in self.spans:
            if "outputs" not in s and s.get("out_root") is not None:
                s["outputs"] = written_files(s["out_root"], s["start"], s["end"])

    def snapshot(self) -> "SparkRecords":
        """Read the status stores once every event has been delivered."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(120_000)
        return SparkRecords(self.spark, self.queries)


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def _ints(seq) -> list[int]:
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(int(it.next()))
    return out


class SparkRecords:
    """Jobs, stages, SQL executions and queries read from one Spark session."""

    def __init__(self, spark, recorder: QueryRecorder) -> None:
        if recorder.errors:
            raise RuntimeError(f"query listener failed: {recorder.errors[:3]}")
        self.queries = sorted(recorder.queries, key=lambda q: q["start"])
        self._q_starts = [q["start"] for q in self.queries]
        store = spark.sparkContext._jsc.sc().statusStore()

        self.jobs: list[dict] = []
        ids = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            ids.append(j.jobId())
            start = _opt_ms(j.submissionTime())
            end = _opt_ms(j.completionTime())
            if start is None:
                continue
            self.jobs.append({
                "id": j.jobId(),
                "start": start,
                "end": end if end is not None else start,
                "stages": _ints(j.stageIds()),
            })
        ids.sort()
        if ids != list(range(len(ids))):
            raise RuntimeError(
                f"job ids are not contiguous from 0 ({len(ids)} jobs, "
                f"max {ids[-1] if ids else None}): the status store dropped jobs"
            )
        self.jobs.sort(key=lambda j: j["start"])
        self._j_starts = [j["start"] for j in self.jobs]

        # a stage belongs to the first job that lists it; later jobs that
        # list it reuse its output (status SKIPPED)
        self.stages: dict[int, dict] = {}
        owner: dict[int, int] = {}
        for j in sorted(self.jobs, key=lambda j: j["id"]):
            for sid in j["stages"]:
                owner.setdefault(sid, j["id"])
        for sid, jid in owner.items():
            s = store.lastStageAttempt(sid)
            if s.status().toString() in ("SKIPPED", "PENDING"):
                continue
            self.stages[sid] = {
                "job": jid,
                "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_write_mb": s.shuffleWriteBytes() / 2**20,
                "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20,
            }
        self._job_stages: dict[int, list[dict]] = {}
        for st in self.stages.values():
            self._job_stages.setdefault(st["job"], []).append(st)

        sql = spark._jsparkSession.sharedState().statusStore()
        self.writes: list[dict] = []
        it = sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            end = _opt_ms(e.completionTime())
            desc = e.physicalPlanDescription()
            m = _WRITE_PATH.search(desc)
            if m and end is not None and "InsertIntoHadoopFsRelationCommand" in desc:
                self.writes.append({
                    "start": float(e.submissionTime()),
                    "end": end,
                    "path": m.group(1),
                    "table": m.group(2),
                })
        self.writes.sort(key=lambda w: w["end"])

    def _in(self, starts: list[float], rows: list[dict], lo: float, hi: float):
        return rows[bisect.bisect_left(starts, lo):bisect.bisect_right(starts, hi)]

    def measure(self, lo: float, hi: float, outputs: list[tuple[str, float]],
                prefix: str = "") -> dict:
        """Every per-layer field for the interval [lo, hi] (ms); files count
        when their path starts with ``prefix``."""
        jobs = self._in(self._j_starts, self.jobs, lo, hi)
        queries = self._in(self._q_starts, self.queries, lo, hi)
        stages = [st for j in jobs for st in self._job_stages.get(j["id"], [])]
        plan_iv = [(q["start"], q["end"]) for q in queries]
        job_iv = [(j["start"], j["end"]) for j in jobs]
        wall = (hi - lo) / 1000.0
        planning = _union_s(plan_iv, lo, hi)
        job_s = _union_s(job_iv, lo, hi)
        busy = _union_s(plan_iv + job_iv, lo, hi)
        driver_only = wall - busy
        return {
            "wall_s": wall,
            "planning_s": planning,
            "driver_only_s": driver_only,
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(st["tasks"] for st in stages),
            "executor_run_s": sum(st["run_s"] for st in stages),
            "executor_cpu_s": sum(st["cpu_s"] for st in stages),
            "gc_s": sum(st["gc_s"] for st in stages),
            "shuffle_write_mb": sum(st["shuffle_write_mb"] for st in stages),
            "spill_mb": sum(st["spill_mb"] for st in stages),
            "output_files": sum(
                1 for p, m in outputs if lo <= m <= hi and p.startswith(prefix)
            ),
            "plan_nodes": sum(q["nodes"] for q in queries),
            "exchanges": sum(q["exchanges"] for q in queries),
            "job_s": job_s,
            "residual_s": planning + job_s + driver_only - wall,
        }

    def writes_within(self, lo: float, hi: float) -> list[dict]:
        """Mart writes whose SQL execution ended inside [lo, hi], in order,
        each with the segment [end of previous write or lo, its end]."""
        out, prev = [], lo
        for w in self.writes:
            if lo <= w["start"] and w["end"] <= hi:
                out.append({**w, "seg_start": prev})
                prev = w["end"]
        return out
