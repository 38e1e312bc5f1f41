"""Steadiness check of the benchmark, the way its acceptance reads it.

    python3 perfbench/steadiness.py --runs 10 --first-seed 1 --out A.json
    python3 perfbench/steadiness.py --compare A.json B.json

The first form runs every workload of ``BENCHMARK.json`` ``--runs``
times untraced, each time with the next seed, and writes each
end-to-end metric's values, median and spread.  The spread is the
distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median.  The
second form compares two such sets: the second median may not be worse
than the first by more than the metric's bound.  Run from the
repository root.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def spread(values: list[float]) -> tuple[float, float]:
    """(median, interquartile distance over the median)"""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def run_set(bench: dict, runs: int, first_seed: int,
            only: list[str] | None) -> dict:
    out = {}
    for wl in bench["workloads"]:
        name = wl["name"]
        if only and name not in only:
            continue
        values: dict[str, list[float]] = {}
        walls = []
        envs = []
        for seed in range(first_seed, first_seed + runs):
            t0 = time.time()
            proc = subprocess.run(
                bench["command"] + ["--workload", name, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]),
                                    "--trace", "0"],
                capture_output=True, text=True, timeout=900)
            walls.append(time.time() - t0)
            if proc.returncode != 0:
                sys.exit(f"{name} seed {seed} exited {proc.returncode}:\n"
                         f"{proc.stderr[-2000:]}")
            lines = proc.stdout.splitlines()
            result = json.loads(lines[-1])
            envs.append(json.loads(lines[-2]))
            if not result["correct"]:
                sys.exit(f"{name} seed {seed}: incorrect output")
            for m, v in result["metrics"].items():
                values.setdefault(m, []).append(v["value"])
            print(f"{name} seed {seed}: {walls[-1]:.1f}s", file=sys.stderr)
        out[name] = {"walls_s": walls, "runs": envs, "metrics": {}}
        for m, vs in values.items():
            med, sp = spread(vs)
            out[name]["metrics"][m] = {"values": vs, "median": med,
                                       "spread": sp}
    return out


def report(bench: dict, result: dict) -> bool:
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for name, wl in result.items():
        print(f"{name}: runs {min(wl['walls_s']):.0f}-"
              f"{max(wl['walls_s']):.0f}s")
        for m, d in wl["metrics"].items():
            within = m == "setup_s" or d["spread"] <= bounds[m]
            ok &= within
            print(f"  {m:14s} median {d['median']:10.4g}  spread "
                  f"{d['spread']:.3f}  bound {bounds[m]}  "
                  f"{'ok' if within else 'OVER'}")
    return ok


def compare(bench: dict, a: dict, b: dict) -> bool:
    spec = {m["name"]: m for m in bench["end_to_end"]}
    ok = True
    for name in a.keys() & b.keys():
        for m, d in a[name]["metrics"].items():
            m1, m2 = d["median"], b[name]["metrics"][m]["median"]
            worse = (m2 - m1) / m1 if spec[m]["better"] == "lower" \
                else (m1 - m2) / m1
            within = worse <= spec[m]["bound"]
            ok &= within
            print(f"{name:22s} {m:14s} {m1:10.4g} -> {m2:10.4g}  worse by "
                  f"{worse:+.3f}  bound {spec[m]['bound']}  "
                  f"{'ok' if within else 'OVER'}")
    return ok


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--out")
    p.add_argument("--compare", nargs=2, metavar="SET")
    p.add_argument("--workloads", nargs="+", metavar="NAME",
                   help="run only these workloads")
    args = p.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    if args.compare:
        with open(args.compare[0]) as fa, open(args.compare[1]) as fb:
            return 0 if compare(bench, json.load(fa), json.load(fb)) else 1
    result = run_set(bench, args.runs, args.first_seed, args.workloads)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(result, fh, indent=1)
    return 0 if report(bench, result) else 1


if __name__ == "__main__":
    sys.exit(main())
