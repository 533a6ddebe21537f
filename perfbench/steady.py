#!/usr/bin/env python3
"""Steadiness check: two interleaved sets of runs of one workload.

    python3 perfbench/steady.py --workload curation [--runs 10]

Runs `perfbench/run.py` 2 x --runs times, alternating set A and set B, each
run with its own seed (A: 1..n, B: 101..100+n), from the current directory.
For every metric it prints each set's median and quartiles, the spread
(quartile distance over the median, as `statistics.quantiles(n=4)` gives the
quartiles), the drift of B's median from A's, and whether both stay within
the metric's bound in BENCHMARK.json; the wall times first_pass_s and
pass_s are reported without a bound. The spread of setup_s, one sample per
run, is printed but not held to its bound; its drift is. It also prints
each set's share of failed operations and each run's wall time.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(workload, seed, seconds):
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True, timeout=900)
    wall = time.monotonic() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        raise SystemExit(f"run failed: {workload} seed {seed}")
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    # the wall times, printed beside the result, are reported without a bound
    walls = next(ln for ln in lines if ln.startswith("wall: ")).split()[1:]
    for name, value in zip(walls[::2], walls[1::2]):
        res["metrics"][name] = {"value": float(value), "unit": "s"}
    return res, wall


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    sets = {"A": [], "B": []}
    for i in range(a.runs):
        for name, base in (("A", 1), ("B", 101)):
            res, wall = run_once(a.workload, base + i, spec["run_seconds"])
            sets[name].append(res)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"{name} seed {base + i}: {wall:.1f} s wall, correct={res['correct']} "
                  f"failed {res['failed']}/{res['attempted']}  {vals}", flush=True)
    ok = True
    print(f"\n{a.workload}: {a.runs} runs per set")
    for metric in sets["A"][0]["metrics"]:
        row, qs = [], {}
        for name in ("A", "B"):
            v = [r["metrics"][metric]["value"] for r in sets[name]]
            q1, med, q3 = statistics.quantiles(v, n=4)
            qs[name] = (q1, med, q3)
            row.append(f"{name} median {med:.4g} [{q1:.4g}, {q3:.4g}] spread {(q3 - q1) / med:.3f}")
        bound = bounds.get(metric)
        drift = qs["B"][1] / qs["A"][1] - 1
        verdict = ""
        if bound is not None:
            spreads = [(q[2] - q[0]) / q[1] for q in qs.values()]
            # the acceptance rule: every spread within its bound, except
            # setup_s's (one set-up per run); every drift within its bound
            good = abs(drift) <= bound and (metric == "setup_s" or max(spreads) <= bound)
            ok &= good
            verdict = f"bound {bound}: {'ok' if good else 'NOT STEADY'}"
        print(f"  {metric}: {'; '.join(row)}; drift {drift:+.3f} {verdict}")
    shares = {n: {r["failed"] / r["attempted"] for r in s} for n, s in sets.items()}
    print(f"  failed share: A {sorted(shares['A'])} B {sorted(shares['B'])}")
    ok &= shares["A"] == shares["B"] and len(shares["A"]) == 1
    print("steady" if ok else "not steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
