"""Steadiness report: do two sets of runs of one commit agree?

    python3 benchmark/steadiness.py collect SET_DIR [--seeds 10] [--first-seed 1]
    python3 benchmark/steadiness.py compare SET_A SET_B

``collect`` runs ``benchmark/run.py`` (untraced) once per seed and
workload of ``BENCHMARK.json`` and stores each result line, with the
run's ``jit_levelled`` flag, as ``SET_DIR/<workload>-<seed>.json``.
``compare`` prints, for each workload and end-to-end metric, both sets'
medians and quartiles and whether they agree: each set's quartile
spread ((q3 - q1) / median) within the metric's bound, and the two
medians apart by no more than the bound, in either direction. It also
lists the runs whose timed passes were not past JIT warm-up. It exits 1
if any pair disagrees.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def collect(set_dir: str, seeds: list[int]) -> int:
    spec = _spec()
    os.makedirs(set_dir, exist_ok=True)
    for w in (w["name"] for w in spec["workloads"]):
        for seed in seeds:
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            if r.returncode != 0:
                sys.stderr.write(r.stderr[-2000:])
                print(f"{w} seed {seed}: exit {r.returncode}", file=sys.stderr)
                return 1
            lines = r.stdout.strip().splitlines()
            line = json.loads(lines[-1])
            record_path = next(x.split()[-1] for x in lines if x.startswith("record "))
            with open(os.path.join(ROOT, record_path)) as fh:
                levelled = json.load(fh)["jit_levelled"]
            with open(os.path.join(set_dir, f"{w}-{seed}.json"), "w") as fh:
                json.dump(dict(line, workload=w, seed=seed, jit_levelled=levelled), fh)
            vals = " ".join(f"{k}={m['value']:.4g}" for k, m in line["metrics"].items())
            print(f"{w} seed {seed}: correct={line['correct']} jit_levelled={levelled} {vals}",
                  flush=True)
    return 0


def _load(set_dir: str) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(set_dir, "*.json"))):
        with open(path) as fh:
            r = json.load(fh)
        out.setdefault(r["workload"], []).append(r)
    return out


def _stats(values: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def compare(set_a: str, set_b: str) -> int:
    spec = _spec()
    a, b = _load(set_a), _load(set_b)
    bad = 0
    print(f"{'workload':9s} {'metric':14s} {'med A':>10s} {'q1..q3 A':>21s} {'spread':>7s} "
          f"{'med B':>10s} {'q1..q3 B':>21s} {'spread':>7s} {'B vs A':>7s} {'bound':>6s}  ok")
    for w in sorted(set(a) & set(b)):
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            va = [r["metrics"][name]["value"] for r in a[w]]
            vb = [r["metrics"][name]["value"] for r in b[w]]
            if len(va) < 2 or len(vb) < 2:
                continue
            (qa1, ma, qa3), (qb1, mb, qb3) = _stats(va), _stats(vb)
            sa, sb = (qa3 - qa1) / ma, (qb3 - qb1) / mb
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            ok = abs(worse) <= bound and sa <= bound and sb <= bound
            bad += not ok
            print(f"{w:9s} {name:14s} {ma:10.4g} {qa1:10.4g}..{qa3:<9.4g} {sa:7.3f} "
                  f"{mb:10.4g} {qb1:10.4g}..{qb3:<9.4g} {sb:7.3f} {worse:+7.3f} {bound:6.2f}  "
                  f"{'yes' if ok else 'NO'}")
    print(f"runs: A={ {w: len(v) for w, v in a.items()} } B={ {w: len(v) for w, v in b.items()} }")
    for label, runs in (("A", a), ("B", b)):
        cold = [f"{r['workload']}-{r['seed']}" for v in runs.values() for r in v
                if not r.get("jit_levelled", True)]
        print(f"set {label}: timed during JIT warm-up: {', '.join(cold) or 'none'}")
    return 1 if bad else 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("set_dir")
    c.add_argument("--seeds", type=int, default=10)
    c.add_argument("--first-seed", type=int, default=1)
    k = sub.add_parser("compare")
    k.add_argument("set_a")
    k.add_argument("set_b")
    args = p.parse_args()
    if args.cmd == "collect":
        seeds = list(range(args.first_seed, args.first_seed + args.seeds))
        return collect(args.set_dir, seeds)
    return compare(args.set_a, args.set_b)


if __name__ == "__main__":
    sys.exit(main())
