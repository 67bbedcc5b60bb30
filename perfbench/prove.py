#!/usr/bin/env python3
"""Repeat the benchmark over seeds and summarize the runs.

    python3 perfbench/prove.py --workloads interactive,export,pipeline \\
        --seeds 101-110 --out perfbench/baseline/set1

For each workload, runs `run.py` once per seed (run_seconds from
BENCHMARK.json, tracing off) and writes `<out>/<workload>.json`: every
run's result and detail lines, and per end-to-end metric the values, the
median, the quartiles (`statistics.quantiles(n=4)`) and the spread, the
inter-quartile distance as a share of the median, beside the metric's
bound. Prints one summary line per workload and metric.
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
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seed_range(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True, type=seed_range)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    os.makedirs(args.out, exist_ok=True)
    for w in args.workloads.split(","):
        runs = []
        for seed in args.seeds:
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.PIPE, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                sys.stderr.write(p.stderr[-3000:])
                raise SystemExit("%s seed %d: exit %d" % (w, seed, p.returncode))
            runs.append({"seed": seed, "elapsed_s": time.time() - t0,
                         "info": json.loads(lines[-2]), "result": json.loads(lines[-1])})
        summary = {}
        for m in bench["end_to_end"]:
            xs = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
            q1, q2, q3 = statistics.quantiles(xs, n=4)
            summary[m["name"]] = {"unit": m["unit"], "bound": m["bound"], "values": xs,
                                  "median": statistics.median(xs), "q1": q1, "q3": q3,
                                  "spread": stats.spread(xs)}
            print("%-12s %-16s median %12.3f  q1 %12.3f  q3 %12.3f  spread %.3f  bound %.2f"
                  % (w, m["name"], summary[m["name"]]["median"], q1, q3,
                     summary[m["name"]]["spread"], m["bound"]), flush=True)
        failed = sum(r["result"]["failed"] for r in runs)
        elapsed = [r["elapsed_s"] for r in runs]
        print("%-12s runs %d  failed ops %d  run wall median %.1f s  max %.1f s"
              % (w, len(runs), failed, statistics.median(elapsed), max(elapsed)), flush=True)
        with open(os.path.join(args.out, w + ".json"), "w") as f:
            json.dump({"workload": w, "seeds": args.seeds, "summary": summary,
                       "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
