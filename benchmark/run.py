"""Benchmark entry point.

    python3 benchmark/run.py --workload {local,io} --seed N --seconds 16 --trace {0,1}

Run from the root of a checkout. It writes the fixtures (once per
checkout, from a fixed generator seed), gives the run its own
directory under ``.bench_run/`` (``TMPDIR``, ``SPARK_LOCAL_DIRS``,
the Spark warehouse and, for io, a Postgres cluster on a free port),
starts the engine process (``worker.py``), and removes the run
directory and stops every process when the engine process ends.

It prints the end-to-end metrics by name and unit, the number of
timed executions and the output check, then, as the last line of
standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The run's full record is kept
under ``.bench_out/runs/`` for ``benchmark/steadiness.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import pg  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: Driver heap, the same on every commit; 16g (the session default)
#: exceeds a 15 GB host.
DRIVER_MEM = "3g"
#: The engine process is stopped after this long; the whole run must
#: end within 180 s.
ENGINE_TIMEOUT_S = 150


def _jvm_options(tmp: str) -> list[str]:
    """Options of the engine JVM, the same on every commit.

    C1 only: with C2 the per-pass JIT time at this fixture size still
    falls after 40 s of passes, longer than a run can warm up, so runs
    would time different points of the warm-up curve (README.md,
    "Warm-up"). C1 alone gets a 48 MB code cache, which these rows fill
    after about eight passes; the flush then recompiles for seconds, so
    the cache gets the size the default tiered compiler has."""
    return [
        f"-Djava.io.tmpdir={tmp}",
        "-XX:-UsePerfData",
        "-XX:TieredStopAtLevel=1",
        "-XX:ReservedCodeCacheSize=240m",
    ]


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _stop_group(proc: subprocess.Popen) -> None:
    """SIGTERM, then SIGKILL, the engine's process group, and wait
    until every member has gone."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + grace
        while time.time() < deadline:
            proc.poll()  # reap the engine process itself
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def _listed(trace: int) -> set[str] | None:
    """Metric names ``BENCHMARK.json`` lists for this mode, if present."""
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        return None
    with open(spec_path) as fh:
        return {m["name"] for m in json.load(fh)["per_layer" if trace else "end_to_end"]}


def _print_summary(result: dict, record: dict, record_path: str) -> None:
    for name, m in record["metrics"].items():
        print(f"{name:36s} {m['value']:14.4f} {m['unit']}")
    print(f"{'executions (timed)':36s} {record['executions']:14d}")
    print(f"{'peak_rss_mb (not gated)':36s} {record['peak_rss_mb']:14.4f} MB")
    for name in ("query_p50_ms", "query_p90_ms"):
        if record[name] is not None:
            print(f"{name + ' (not gated)':36s} {record[name]:14.4f} ms")
    print(f"{'failed / attempted':36s} {result['failed']:7d} / {result['attempted']}")
    print(f"{'output check':36s} {record['output_check']}")
    print(f"{'jit_levelled':36s} {record['jit_levelled']}")
    print(f"{'record':36s} {os.path.relpath(record_path, ROOT)}")


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through main's cleanup


def main() -> int:
    signal.signal(signal.SIGTERM, _terminate)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "datafusion_rdbms_ext_spark", "__init__.py")):
        print("the engine package is not in this checkout", file=sys.stderr)
        return 2

    t_run = time.time()
    work = os.path.join(ROOT, ".bench_run")
    os.makedirs(work, exist_ok=True)
    fx = os.path.join(work, "fixtures")
    fixtures.write(fx)
    run_dir = tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-", dir=work)
    for d in ("tmp", "spark-local", "pg"):
        os.makedirs(os.path.join(run_dir, d))
    tmp = os.path.join(run_dir, "tmp")
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_CPUS=str(_nproc()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=ROOT,
        PYTHONHASHSEED="0",
        PYSPARK_SUBMIT_ARGS=" ".join(
            ["--driver-java-options", shlex.quote(" ".join(_jvm_options(tmp))), "pyspark-shell"]
        ),
    )
    out_dir = os.path.join(ROOT, ".bench_out", "runs")
    os.makedirs(out_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}-{os.getpid()}"
    out = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "engine.log")
    argv = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--fixtures", fx, "--pg-dir", os.path.join(run_dir, "pg"),
        "--out", out, "--spans", os.path.join(out_dir, tag + ".spans.jsonl"),
    ]
    rc = None
    try:
        with open(log, "w") as log_fh:
            t0 = time.time()
            proc = subprocess.Popen(
                argv + ["--t0", repr(t0)], cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                stdout=log_fh, stderr=subprocess.STDOUT, start_new_session=True,
            )
            try:
                rc = proc.wait(timeout=ENGINE_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print(f"engine process timed out after {ENGINE_TIMEOUT_S}s", file=sys.stderr)
            finally:
                _stop_group(proc)
                proc.wait()
        result = None
        if rc == 0 and os.path.exists(out):
            with open(out) as fh:
                result = json.load(fh)
        if result is None:
            with open(log) as fh:
                sys.stderr.write(fh.read()[-4000:])
            print(f"engine process failed (exit {rc})", file=sys.stderr)
            return 1
    finally:
        pg.stop(os.path.join(run_dir, "pg", "data"))
        shutil.rmtree(run_dir, ignore_errors=True)

    record = result.pop("record")
    record["metrics"] = result["metrics"]
    listed = _listed(a.trace)
    if listed is not None:
        # the JSON line carries what BENCHMARK.json lists; the summary
        # and the record keep every metric
        result["metrics"] = {k: v for k, v in record["metrics"].items() if k in listed}
    record.update(correct=result["correct"], attempted=result["attempted"],
                  failed=result["failed"], seconds=a.seconds, run_wall_s=time.time() - t_run)
    record_path = os.path.join(out_dir, tag + ".json")
    with open(record_path, "w") as fh:
        json.dump(record, fh, indent=1)
    _print_summary(result, record, record_path)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
