#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise each end-to-end
metric per workload: median, quartiles, and the quartile spread as a share
of the median, against the bound BENCHMARK.json gives it.

    python3 perfbench/spread.py --seeds 1 2 3 [--workloads etl_star ...] [--out f.json]

Run from the root of a checkout. Every run's last stdout line is kept in
the output file next to the summary, so two sets can be compared later.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def summarise(runs, bounds):
    out = {}
    for name, bound in bounds.items():
        xs = [r["metrics"][name]["value"] for r in runs]
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        out[name] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                     "bound": bound, "values": xs}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    for w in a.workloads or [x["name"] for x in spec["workloads"]]:
        runs = []
        for seed in a.seeds:
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {p.returncode}", flush=True)
                continue
            r = json.loads(lines[-1])
            runs.append(dict(r, seed=seed))
            print(f"{w} seed {seed}: correct={r['correct']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        s = summarise(runs, bounds)
        report[w] = {"runs": runs, "summary": s}
        for name, m in s.items():
            print(f"  {w} {name}: median {m['median']:.4g} spread {m['spread']:.3f} "
                  f"(bound {m['bound']}, a third {m['bound'] / 3:.3f})", flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
