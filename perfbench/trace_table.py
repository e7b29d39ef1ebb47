#!/usr/bin/env python3
"""Traced-run table: each layer's self-time share per workload.

    python3 perfbench/trace_table.py [--seed 1] [--workloads a,b]

Run from the repository root. Runs the benchmark with --trace 1 once per
workload and prints a markdown table: each layer's share of the traced
wall time less the fused transform (a re-run of the cut tweet layers,
counted as trace overhead), the unattributed share, the tracing overhead
and the dominant layer. A rescrape_stream run also traces one unit of
the curation chain; it gets a column of its own.
"""
import argparse
import json
import os
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["month_ingest", "rescrape_stream"]


def traced(workload, seed, seconds):
    cmd = ["python3", os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, check=True)
    detail, result = [json.loads(l) for l in r.stdout.decode().strip().splitlines()[-2:]]
    return detail["perfbench"], result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    a = ap.parse_args()
    seconds = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"]
    cols = []  # (title, layer shares, unattributed, walls, overhead, transform, dominant, run)
    for w in a.workloads.split(","):
        d, r = traced(w, a.seed, seconds)
        m = r["metrics"]
        cols.append((f"`{w}`", d["layer_share"], m["trace.unattributed_share"]["value"],
                     f"{d['traced_wall_s']:.1f} / {d['untraced_wall_s']:.1f}",
                     f"{m['trace.overhead_s']['value']:.1f}", f"{d['transform_s']:.1f}",
                     d["dominant_layer"], r, d["stream_share_of_untraced"]))
        if "curation_side" in d:
            c = d["curation_side"]
            cols.append((f"curation chain (in `{w}`)", c["layer_share"], c["unattributed_share"],
                         f"{c['traced_wall_s']:.1f} / —", "—", "—", c["dominant_layer"], None, 0))
    pct = lambda v: f"{100 * v:.1f} %" if v else "—"
    print("| layer | " + " | ".join(c[0] for c in cols) + " |")
    print("|---|" + "---:|" * len(cols))
    for l in cols[0][1]:
        if l == "stream":
            print("| `stream` (share of the untraced wall) | "
                  + " | ".join(pct(c[8]) for c in cols) + " |")
        else:
            print(f"| `{l}` | " + " | ".join(pct(c[1][l]) for c in cols) + " |")
    print("| unattributed | " + " | ".join(pct(c[2]) for c in cols) + " |")
    print("| traced / untraced wall (s) | " + " | ".join(c[3] for c in cols) + " |")
    print("| fused `transform`, in the traced wall (s) | " + " | ".join(c[5] for c in cols) + " |")
    print("| `trace.overhead_s` (s) | " + " | ".join(c[4] for c in cols) + " |")
    print("| **dominant layer** | " + " | ".join(f"**`{c[6]}`**" for c in cols) + " |")
    print("| checks passed | " + " | ".join(
        f"{c[7]['attempted'] - c[7]['failed']}/{c[7]['attempted']}" if c[7] else "(in the run)"
        for c in cols) + " |")


if __name__ == "__main__":
    main()
