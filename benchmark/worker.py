"""Engine process of one benchmark run; ``run.py`` starts it.

One client, one session on ``local[nproc]``, closed loop: the next
query starts only when the previous one has finished. The timed action
is the noop-sink write of every column, as in ``bench.py``.

Phases, in order: session start, catalog registration, Postgres ready
(io only), the rows' ``prepare`` hooks, the workload's fixed warm-up
passes, then timed passes until ``--seconds`` have elapsed (the pass
in progress at the deadline completes, so every pass is whole). Each
pass runs the workload's rows in an order drawn from ``--seed``. After
the timed passes, outside every clock, each row's output is compared
once with its DuckDB oracle.

The result (metrics plus the run's record) is written as JSON to
``--out``; ``run.py`` prints it.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procs  # noqa: E402
from workloads import WARMUP_PASSES, WORKLOADS  # noqa: E402


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--fixtures", required=True)
    p.add_argument("--pg-dir", default="")
    p.add_argument("--out", required=True)
    p.add_argument("--spans", default="", help="where the traced run writes its spans")
    p.add_argument("--t0", type=float, required=True, help="time.time() at process launch")
    return p.parse_args()


def _wall_span(fn, *args) -> tuple[float, float]:
    """Run ``fn(*args)``; return its start and end wall times."""
    t0 = time.time()
    fn(*args)
    return t0, time.time()


def _output_check(spark, specs, fixtures: str) -> tuple[dict[str, str], int]:
    """Compare each row's output once with its DuckDB oracle; return
    the failures by row name and the rows all outputs hold."""
    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from oracle_util import assert_matches

    from datafusion_rdbms_ext_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(fixtures, t)}.parquet')"
        )
    failures, n_rows = {}, 0
    for spec in specs:
        try:
            got = spec.fn(spark, fixtures).toPandas()
            n_rows += len(got)
            assert_matches(got, con.execute(spec.oracle).fetchdf(), spec.name)
        except Exception as exc:  # noqa: BLE001 — a failed row is a result
            failures[spec.name] = f"{type(exc).__name__}: {exc}"[:300]
    con.close()
    return failures, n_rows


def main() -> int:
    a = _args()
    wl = WORKLOADS[a.workload]
    from datafusion_rdbms_ext_spark.queries import REGISTRY
    from datafusion_rdbms_ext_spark.queries.base import ensure_tables
    from datafusion_rdbms_ext_spark.session import get_spark

    specs = [REGISTRY[n] for n in wl.rows]
    tracer = None
    if a.trace:
        from tracing import Tracer

        tracer = Tracer(os.environ["TMPDIR"])
    phase = tracer.span if tracer else (lambda name: contextlib.nullcontext())
    record: dict = {
        "workload": a.workload,
        "seed": a.seed,
        "trace": a.trace,
        "rows": list(wl.rows),
        "nproc": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "loadavg_start": os.getloadavg(),
        "fixtures_fp": open(os.path.join(a.fixtures, "FINGERPRINT")).read().strip(),
    }
    setup: dict[str, float] = {}

    def timed(name, fn, *args):
        t = time.perf_counter()
        with phase(name):
            out = fn(*args)
        setup[name] = setup.get(name, 0.0) + time.perf_counter() - t
        return out

    pg_pid = pg_start = None
    if wl.postgres:
        import pg

        from datafusion_rdbms_ext_spark.sources import pgserver

        port = pg.free_port()
        pg_data = os.path.join(a.pg_dir, "data")
        # initdb and server start overlap the session start.
        pg_pool = ThreadPoolExecutor(1)
        pg_start = pg_pool.submit(_wall_span, pg.start, pg_data, port)
        # Point the engine at this run's cluster; its own bootstrap
        # paths are redirected too, so a lost server fails loudly
        # instead of booting a shared one.
        pgserver.PG_PORT = port
        pgserver._DATA_DIR = pg_data
        pgserver._SOCK_DIR = os.path.join(a.pg_dir, "sock")
        record["pg_port"] = port

    spark = timed("session.start_s", get_spark, "engine-benchmark")
    mgmt = spark._jvm.java.lang.management.ManagementFactory
    jit_bean = mgmt.getCompilationMXBean()
    code_heaps = [p for p in mgmt.getMemoryPoolMXBeans() if "Code" in p.getName()]
    jvm_pid = procs.find_descendant(os.getpid(), "java")
    timed("catalog.register_s", ensure_tables, spark, a.fixtures)
    if pg_start:
        t_pg0, t_pg1 = pg_start.result()
        pg_pool.shutdown()
        setup["pgserver.ready_s"] = t_pg1 - t_pg0
        if tracer:
            tracer.record("pgserver.start", t_pg0, t_pg1)
        pg_pid = pg.postmaster_pid(pg_data)
        timed("pgserver.ready_s", pgserver.load_fixture, spark, a.fixtures)
    if tracer:
        tracer.attach(spark, jvm_pid, pg_pid)
    for spec in specs:
        if spec.prepare is not None:
            timed("queries.prepare_s", spec.prepare, spark, a.fixtures)

    rng = random.Random(a.seed)
    roots = {"engine": os.getpid(), "pg": pg_pid}
    attempted = failed = 0
    errors: dict[str, str] = {}

    row_ms: dict[str, list[float]] = {s.name: [] for s in specs}
    code_mb: list[float] = []

    def one_pass(traced: bool) -> tuple[float, float, float, list[float]]:
        nonlocal attempted, failed
        order = specs[:]
        rng.shuffle(order)
        if tracer:
            tracer.pass_start(traced)
        cpu0 = procs.snapshot(roots)
        jit0 = jit_bean.getTotalCompilationTime()
        lat = []
        t_pass = time.perf_counter()
        for spec in order:
            attempted += 1
            t = time.perf_counter()
            try:
                if traced:
                    tracer.run_query(spec, spark, a.fixtures)
                else:
                    spec.fn(spark, a.fixtures).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — count it, keep the loop going
                failed += 1
                errors[spec.name] = f"{type(exc).__name__}: {exc}"[:300]
                continue
            lat.append(time.perf_counter() - t)
            row_ms[spec.name].append(lat[-1] * 1000)
        pass_s = time.perf_counter() - t_pass
        jit_ms = jit_bean.getTotalCompilationTime() - jit0
        code_mb.append(sum(h.getUsage().getUsed() for h in code_heaps) / 2**20)
        cpu1 = procs.snapshot(roots)
        if tracer:
            tracer.pass_end(traced, pass_s, jit_ms)
        return pass_s, sum(cpu1.values()) - sum(cpu0.values()), jit_ms, lat

    warm_jit = []
    for _ in range(WARMUP_PASSES):
        with phase("warmup.pass"):
            warm_jit.append(one_pass(False)[2])
    setup_s = time.time() - a.t0

    # JIT time of every timed pass, traced or not
    passes, cpus, jits, lats = [], [], [], []
    t_start = time.perf_counter()
    i = 0
    while not passes or time.perf_counter() - t_start < a.seconds:
        # The traced run alternates untraced and traced passes, so the
        # tracing overhead is measured inside one run.
        traced = bool(tracer) and i % 2 == 1
        pass_s, cpu_s, jit_ms, lat = one_pass(traced)
        i += 1
        jits.append(jit_ms)
        if tracer and not traced:
            tracer.untraced_pass(pass_s)
            continue
        passes.append(pass_s)
        cpus.append(cpu_s)
        lats.extend(lat)
    measured_s = time.perf_counter() - t_start

    failures, n_rows = _output_check(spark, specs, a.fixtures)
    failed += len(failures)
    attempted += len(specs)
    jit_levelled = max(jits) <= 1.5 * statistics.median(warm_jit[-1:] + jits)
    record.update(
        {
            "setup_phases_s": setup,
            "warmup_jit_ms": warm_jit,
            "timed_jit_ms": jits,
            # JIT code cache in use after each pass, warm-up passes first
            "code_cache_mb": code_mb,
            "jit_levelled": jit_levelled,
            "pass_s": passes,
            "cpu_s": cpus,
            "measured_s": measured_s,
            "executions": len(lats),
            "query_p50_ms": statistics.median(lats) * 1000 if lats else None,
            "query_p90_ms": (
                statistics.quantiles(lats, n=10, method="inclusive")[-1] * 1000
                if len(lats) > 1 else None
            ),
            "output_check": "pass" if not failures else failures,
            # every execution of each row, warm-up passes first
            "row_ms": row_ms,
            "errors": errors,
            "peak_rss_mb": procs.vm_hwm_mb(jvm_pid),
            "loadavg_end": os.getloadavg(),
        }
    )
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(passes), "s"),
        # Each row's median over the timed passes, then their geometric
        # mean: with 4 to 5 rows of 0.3 to 1.5 s, the median of all
        # executions lands on whichever row sits in the middle and
        # jumps between rows from run to run.
        "query_gmean_ms": (
            statistics.geometric_mean(
                statistics.median(v[-len(passes):]) for v in row_ms.values() if v
            ),
            "ms",
        ),
        "cpu_s": (statistics.median(cpus), "s"),
    }
    if tracer:
        tracer.result_rows = n_rows
        metrics = tracer.metrics(setup)
        record["spans"] = tracer.write_spans(a.spans)
        record["row_jobs"] = tracer.row_jobs
    result = {
        "correct": not failures and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "record": record,
    }
    with open(a.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    try:
        rc = main()
    except Exception:  # noqa: BLE001 — report, then exit non-zero
        traceback.print_exc()
        rc = 1
    # No SparkSession.stop(): after streaming rows it can block on the
    # py4j callback server (bench.py's note). Exiting closes the
    # gateway, which takes the JVM down; run.py reaps the rest.
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(rc)
