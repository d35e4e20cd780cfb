#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py [--runs 10] [workload ...]

Runs perfbench/run.py once per seed (1, 2, ...) on each workload (all workloads in
BENCHMARK.json by default) and prints, per metric, the median and the
distance between the first and third quartiles as a share of the median
(statistics.quantiles(values, n=4)), beside a third of the metric's bound.
Results go to perfbench/out/spread-<workload>.json.
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


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--runs", type=int, default=10)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w in workloads:
        values = {m: [] for m in bounds}
        walls = []
        for seed in range(1, a.runs + 1):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            walls.append(time.time() - t0)
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}")
                ok = False
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            ok &= r["correct"]
            for m in bounds:
                values[m].append(r["metrics"][m]["value"])
        print(f"{w}: {a.runs} runs, {statistics.median(walls):.0f} s median wall")
        summary = {}
        for m, vs in values.items():
            if len(vs) < 4:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / statistics.median(vs)
            summary[m] = {"median": statistics.median(vs), "spread": spread, "values": vs}
            flag = "" if spread < bounds[m] / 3 else "  <-- above a third of the bound"
            print(f"  {m:16s} median {statistics.median(vs):12.4f}  spread {spread:.3f}"
                  f"  (bound/3 {bounds[m] / 3:.3f}){flag}")
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        with open(os.path.join(HERE, "out", f"spread-{w}.json"), "w") as f:
            json.dump({"workload": w, "walls_s": walls, "metrics": summary}, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
