#!/usr/bin/env python3
"""Steadiness check: run the benchmark on several seeds per workload, in
one or two sets, and compare against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workload W ...]

For each end-to-end metric it reports the spread of one set (distance
between the first and third quartile as a share of the median) and, with
two sets, how far the second set's median moved from the first's in the
metric's worse direction. A spread (except setup_s's) or a move beyond the
metric's bound fails the check. Run from the repository root."""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(bench, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
    res = json.loads(out.strip().splitlines()[-1])
    if not res["correct"]:
        raise SystemExit(f"{workload} seed {seed}: incorrect result\n{out}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2, choices=(1, 2))
    ap.add_argument("--workload", action="append")
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    ok = True
    seed = args.first_seed
    for w in workloads:
        sets = []
        for _ in range(args.sets):
            runs = []
            for _ in range(args.runs):
                runs.append(run_once(bench, w, seed))
                print(f"{w} seed {seed}: {json.dumps(runs[-1])}", file=sys.stderr, flush=True)
                seed += 1
            sets.append(runs)
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds, lines = [], []
            for i, runs in enumerate(sets):
                vals = [r[name] for r in runs]
                s = spread(vals)
                meds.append(statistics.median(vals))
                bad = name != "setup_s" and s > bound
                ok &= not bad
                lines.append(f"set{i + 1} median {meds[-1]:.4g} spread {s:.3f}"
                             f"{' OVER' if bad else ''}")
            if len(meds) == 2:
                worse = (meds[1] - meds[0]) / meds[0]
                if m["better"] == "higher":
                    worse = -worse
                bad = worse > bound
                ok &= not bad
                lines.append(f"worse by {worse:+.3f}{' OVER' if bad else ''}")
            print(f"{w:<10} {name:<16} bound {bound:<5} " + "; ".join(lines))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
