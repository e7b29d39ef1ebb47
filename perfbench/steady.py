#!/usr/bin/env python3
"""Steadiness check: two sets of runs of the same commit.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads a,b] [--seed-base 1000]

Run from the repository root. For every workload in BENCHMARK.json, runs
the benchmark --runs times per set (each run on its own seed, the two sets
on disjoint seeds), then prints, per end-to-end metric, each set's median
and quartiles and two verdicts against the metric's bound:
  spread  (Q3-Q1)/median of each set stays within the bound
          (setup_s is exempt, as in the acceptance rule);
  drift   the second set's median is no worse than the first's by more
          than the bound.
It also prints each workload's wall seconds per run. Raw results go to
--out as JSON lines. Exit code 1 if any verdict fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(spec, workload, seed, trace=0):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t0 = time.monotonic()
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    wall = time.monotonic() - t0
    lines = r.stdout.decode().strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: exit {r.returncode}")
    return json.loads(lines[-1]), wall


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2, help="1 reports spreads only")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build", "steady.jsonl"))
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    ok = True
    with open(a.out, "a") as out:
        for w in workloads:
            sets = []
            walls = []
            for s in range(a.sets):
                res = []
                for i in range(a.runs):
                    seed = a.seed_base + 100 * s + i
                    r, wall = run(spec, w, seed)
                    walls.append(wall)
                    out.write(json.dumps({"workload": w, "set": s, "seed": seed, "wall_s": wall,
                                          "result": r}) + "\n")
                    out.flush()
                    if not r["correct"]:
                        print(f"{w} seed {seed}: incorrect ({r['failed']}/{r['attempted']} failed)")
                        ok = False
                    res.append(r["metrics"])
                sets.append(res)
            print(f"\n{w}  ({a.runs} runs per set; wall s per run: median "
                  f"{statistics.median(walls):.1f}, max {max(walls):.1f})")
            print(f"{'metric':<16}{'set':>4}{'Q1':>14}{'median':>14}{'Q3':>14}{'spread':>9}  verdict")
            for m in spec["end_to_end"]:
                n, bound, lower = m["name"], m["bound"], m["better"] == "lower"
                meds = []
                for s, res in enumerate(sets):
                    q1, med, q3 = quartiles([r[n]["value"] for r in res])
                    spread = (q3 - q1) / med if med else 0.0
                    meds.append(med)
                    good = n == "setup_s" or spread <= bound
                    ok &= good
                    print(f"{n:<16}{s:>4}{q1:>14.6g}{med:>14.6g}{q3:>14.6g}{spread:>9.4f}  "
                          f"spread {'ok' if good else 'OVER'} (bound {bound})")
                if len(meds) < 2:
                    continue
                worse = (meds[1] - meds[0]) / meds[0] if lower else (meds[0] - meds[1]) / meds[0]
                good = worse <= bound
                ok &= good
                print(f"{'':<16}{'':>4}  second set worse by {worse:+.4f}: drift {'ok' if good else 'OVER'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
