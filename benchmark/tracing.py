"""The traced run: per-layer numbers measured from outside the engine.

Everything here lives in the benchmark. It wraps calls into each
layer's public functions, reads Spark's status store, a Catalyst
query-execution listener, ``/proc`` and Postgres's ``pg_stat_database``, and
records spans (name, start, end, parent, query id) in memory; they are
written out once, when the run ends. Spans inside the engine (for
example which dispatch branch ran) are not recorded here.

Layer counters are summed per traced pass and reported as the median
over traced passes. Timed passes alternate untraced and traced, so the
tracing overhead is measured within the run: median traced pass time
minus median untraced pass time.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager

import procs

_PGWIRE_CALLS = ("query", "query_extended", "copy_binary", "copy_csv", "copy_in_text",
                 "copy_in_binary")
_SINK_COMMITS = ("branch_commit", "wap_attempt", "compact_version", "compact_equality_deletes",
                 "cherry_pick", "fast_forward", "tag_version", "vacuum")
_CATALYST_PHASES = ("analysis", "optimization", "planning")

#: Per-pass counters, in report order: name -> unit.
PASS_COUNTERS = {
    "queries.build_ms": "ms",
    "queries.build_jobs": "count",
    "catalyst.plan_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "jvm.jit_ms": "ms",
    "python.worker_cpu_s": "s",
    "pgwire.calls": "count",
    "pgwire.ms": "ms",
    "pg.rows_returned": "count",
    "pg.rows_inserted": "count",
    "pg.cpu_s": "s",
    "sinks.commits": "count",
    "sinks.commit_ms": "ms",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
}
SETUP_METRICS = {
    "session.start_s": "s",
    "catalog.register_s": "s",
    "pgserver.ready_s": "s",
    "queries.prepare_s": "s",
}


def _tree_size(root: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            try:
                size += os.lstat(os.path.join(d, n)).st_size
                files += 1
            except OSError:
                pass
    return size, files


class _PhaseListener:
    """A ``QueryExecutionListener`` (through the py4j callback server)
    that sums Catalyst phase times of every executed query."""

    def __init__(self) -> None:
        self.plan_ms = 0.0

    def _add(self, qe) -> None:
        phases = qe.tracker().phases()
        for name in _CATALYST_PHASES:
            opt = phases.get(name)
            if opt.isDefined():
                self.plan_ms += opt.get().durationMs()

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — Java interface
        self._add(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 — Java interface
        self._add(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, tmp_dir: str) -> None:
        self.tmp_dir = tmp_dir
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._qid: int | None = None
        self.on = False
        self.counts: dict[str, float] = {}
        self.traced_passes: list[dict[str, float]] = []
        self.untraced_pass_s: list[float] = []
        self.traced_pass_s: list[float] = []
        self.result_rows = 0
        #: Spark jobs of each traced execution, by row
        self.row_jobs: dict[str, list[int]] = {}

    # -- spans -------------------------------------------------------
    @contextmanager
    def span(self, name: str, qid: int | None = None):
        rec = {
            "name": name,
            "start": time.time(),
            "parent": self._stack[-1] if self._stack else None,
            "query": qid if qid is not None else self._qid,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def record(self, name: str, start: float, end: float) -> None:
        """Add a span timed elsewhere (another thread)."""
        self.spans.append({"name": name, "start": start, "end": end, "parent": None,
                           "query": None})

    def write_spans(self, path: str) -> str:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps(dict(s, id=i)) + "\n")
        return path

    def _add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0.0) + value

    # -- wrappers ----------------------------------------------------
    def _wrap(self, owner, attr: str, span: str, count: str | None, ms: str) -> None:
        orig = getattr(owner, attr)
        tracer = self
        depth = [0]

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            if not tracer.on or depth[0]:
                return orig(*args, **kwargs)
            depth[0] += 1
            t = time.perf_counter()
            try:
                with tracer.span(span):
                    return orig(*args, **kwargs)
            finally:
                depth[0] -= 1
                if count:
                    tracer._add(count, 1)
                tracer._add(ms, (time.perf_counter() - t) * 1000)

        setattr(owner, attr, wrapped)

    def attach(self, spark, jvm_pid: int | None, pg_pid: int | None) -> None:
        """Install the wrappers and readers; called once the session
        and catalog are up."""
        from datafusion_rdbms_ext_spark.sources import pgwire, sinks
        from pyspark.java_gateway import ensure_callback_server_started

        jsc = spark.sparkContext._jsc.sc()
        self.store = jsc.statusStore()
        self.dag = jsc.dagScheduler()
        self.bus = jsc.listenerBus()
        self.jvm_pid, self.pg_pid = jvm_pid, pg_pid
        ensure_callback_server_started(spark.sparkContext._gateway)
        self.phases = _PhaseListener()
        spark._jsparkSession.listenerManager().register(self.phases)
        self.pg_stats = None
        if pg_pid:
            from datafusion_rdbms_ext_spark.sources import pgserver

            self.pg_stats = pgwire.PgWireClient(
                host="127.0.0.1", port=pgserver.PG_PORT, user=pgserver.PG_USER,
                database=pgserver.PG_DB,
            )
            self._pg_query = pgwire.PgWireClient.query
        for name in _PGWIRE_CALLS:
            self._wrap(pgwire.PgWireClient, name, f"pgwire.{name}", "pgwire.calls", "pgwire.ms")
        for name in _SINK_COMMITS:
            self._wrap(sinks, name, f"sinks.{name}", "sinks.commits", "sinks.commit_ms")

    # -- per pass ----------------------------------------------------
    def _pg_totals(self) -> tuple[float, float]:
        if self.pg_stats is None:
            return 0.0, 0.0
        _, _, rows = self._pg_query(
            self.pg_stats,
            "SELECT sum(tup_returned)::bigint, sum(tup_inserted)::bigint FROM pg_stat_database",
        )
        return float(rows[0][0]), float(rows[0][1])

    def _levels(self) -> dict[str, float]:
        size, files = _tree_size(self.tmp_dir)
        pg_ret, pg_ins = self._pg_totals()
        return {
            "python.worker_cpu_s": procs.python_workers_cpu(self.jvm_pid),
            "pg.cpu_s": procs.snapshot({"pg": self.pg_pid})["pg"],
            "pg.rows_returned": pg_ret,
            "pg.rows_inserted": pg_ins,
            "sinks.bytes_written": size,
            "sinks.files_written": files,
        }

    def pass_start(self, traced: bool) -> None:
        self.counts = {}
        self.on = traced
        if traced:
            self._pass_span = self.span("pass")
            self._pass_span.__enter__()
            self._level0 = self._levels()
            self._plan0 = self.phases.plan_ms

    def pass_end(self, traced: bool, pass_s: float, jit_ms: float) -> None:
        self.on = False
        if not traced:
            return
        self.bus.waitUntilEmpty(10_000)
        for k, v in self._levels().items():
            self.counts[k] = v - self._level0[k]
        self.counts["catalyst.plan_ms"] = self.phases.plan_ms - self._plan0
        self.counts["jvm.jit_ms"] = jit_ms
        self._pass_span.__exit__(None, None, None)
        self.traced_passes.append(self.counts)
        self.traced_pass_s.append(pass_s)

    def untraced_pass(self, pass_s: float) -> None:
        self.untraced_pass_s.append(pass_s)

    # -- per query ---------------------------------------------------
    def _next_job(self) -> int:
        # py4j hands the AtomicInteger back as its current value
        return int(self.dag.nextJobId())

    def run_query(self, spec, spark, fixtures: str) -> None:
        self._qid = (self._qid or 0) + 1
        j0 = self._next_job()
        with self.span(f"query.{spec.name}", self._qid) as q:
            t = time.perf_counter()
            with self.span("queries.build"):
                df = spec.fn(spark, fixtures)
            self._add("queries.build_ms", (time.perf_counter() - t) * 1000)
            self._add("queries.build_jobs", self._next_job() - j0)
            with self.span("spark.execute"):
                df.write.format("noop").mode("overwrite").save()
        j1 = self._next_job()
        q["jobs"] = j1 - j0
        self.row_jobs.setdefault(spec.name, []).append(j1 - j0)
        self._spark_metrics(j0, j1, q["start"] * 1000, q["end"] * 1000)

    def _spark_metrics(self, first: int, end: int, t0_ms: float, t1_ms: float) -> None:
        """Sum job, stage and task metrics of the jobs ``first..end-1``
        from the status store; the uncovered part of the query's wall
        time is the driver gap."""
        self.bus.waitUntilEmpty(10_000)
        intervals, stages = [], set()
        for jid in range(first, end):
            try:
                job = self.store.job(jid)
            except Exception:  # noqa: BLE001 — job evicted from the store
                continue
            self._add("spark.jobs", 1)
            self._add("spark.stages", job.numCompletedStages())
            self._add("spark.tasks", job.numCompletedTasks())
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            ids = job.stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        for sid in stages:
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — skipped stage: no attempt
                continue
            if str(st.status()) != "COMPLETE":
                continue
            self._add("spark.executor_run_ms", st.executorRunTime())
            self._add("spark.executor_cpu_ms", st.executorCpuTime() / 1e6)
            self._add("spark.gc_ms", st.jvmGcTime())
            self._add("spark.shuffle_read_bytes", st.shuffleReadBytes())
            self._add("spark.shuffle_write_bytes", st.shuffleWriteBytes())
            self._add("spark.spill_bytes", st.memoryBytesSpilled() + st.diskBytesSpilled())
        covered, last = 0.0, t0_ms
        for a, b in sorted(intervals):
            a, b = max(a, last), min(b, t1_ms)
            if b > a:
                covered += b - a
                last = b
        self._add("spark.driver_gap_ms", max(0.0, (t1_ms - t0_ms) - covered))

    # -- report ------------------------------------------------------
    def metrics(self, setup: dict[str, float]) -> dict[str, tuple[float, str]]:
        out = {k: (setup.get(k, 0.0), u) for k, u in SETUP_METRICS.items()}
        for k, u in PASS_COUNTERS.items():
            out[k] = (statistics.median(p.get(k, 0.0) for p in self.traced_passes), u)
        pg_rows = out["pg.rows_returned"][0]
        out["pg.rows_returned_per_result_row"] = (
            pg_rows / self.result_rows if self.result_rows else 0.0, "ratio")
        traced = statistics.median(self.traced_pass_s)
        untraced = statistics.median(self.untraced_pass_s)
        out["trace.pass_s"] = (traced, "s")
        out["trace.untraced_pass_s"] = (untraced, "s")
        out["trace.overhead_s"] = (traced - untraced, "s")
        return out
