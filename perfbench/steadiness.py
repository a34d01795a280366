#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/steadiness.py [--runs 10] [--first-seed 1] [--workload NAME ...]

Runs the benchmark serially, once per seed, on each workload listed in
BENCHMARK.json (or the ones named), and prints for every end-to-end metric
its median, quartiles and spread: (q3 - q1) / median with the quartiles of
statistics.quantiles(values, n=4). A spread must stay below the metric's
bound (a third of it to leave room); setup_s is reported but exempt.
Appends the table to .bench_build/results/steadiness.md.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main():
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    lines = [f"## steadiness {time.strftime('%Y-%m-%d %H:%M:%S')} runs={a.runs} "
             f"seeds={a.first_seed}..{a.first_seed + a.runs - 1} seconds={bench['run_seconds']}", ""]
    ok = True
    for w in workloads:
        values = {m: [] for m in bounds}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.monotonic()
            r = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(seed),
                               "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               capture_output=True, text=True)
            last = r.stdout.strip().split("\n")[-1] if r.stdout.strip() else ""
            if r.returncode != 0 or not last.startswith("{"):
                print(f"{w} seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}", file=sys.stderr)
                ok = False
                continue
            res = json.loads(last)
            ok = ok and res["correct"]
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            print(f"{w} seed {seed}: {time.monotonic() - t0:.1f} s wall, correct={res['correct']}, "
                  + " ".join(f"{m}={res['metrics'][m]['value']:.4g}" for m in bounds), flush=True)
        lines += [f"### {w}", "", "| metric | median | q1 | q3 | spread | bound | spread/bound |",
                  "|---|---|---|---|---|---|---|"]
        for m, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            lines.append(f"| {m} | {med:.4g} | {q1:.4g} | {q3:.4g} | {spread:.3f} | {bounds[m]} | "
                         f"{spread / bounds[m]:.2f} |")
            if m != "setup_s" and spread > bounds[m]:
                ok = False
        lines.append("")
    text = "\n".join(lines)
    print(text)
    os.makedirs(os.path.join(".bench_build", "results"), exist_ok=True)
    with open(os.path.join(".bench_build", "results", "steadiness.md"), "a") as f:
        f.write(text + "\n")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
