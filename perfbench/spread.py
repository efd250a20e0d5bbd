#!/usr/bin/env python3
"""Runs the benchmark over several seeds and prints, for each end-to-end
metric, its median and its spread: the distance between the first and third
quartile (statistics.quantiles, n=4) as a share of the median, next to the
metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload lang_distinct --seeds 1-10 [--seconds S]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    args = ap.parse_args()
    values = {}
    for seed in args.seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            stdout=subprocess.PIPE, text=True, check=True).stdout
        lines = out.strip().splitlines()
        result = json.loads(lines[-1])
        info = json.loads(next(x for x in lines if x.startswith("perfbench: info ")).split(" ", 2)[2])
        print("seed %d: correct=%s %s steal=%s load=%s" % (seed, result["correct"], " ".join(
            "%s=%.6g" % (k, v["value"]) for k, v in result["metrics"].items()),
            info["cpu_steal_frac"], info["loadavg_end"]), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        print("%-14s median %-12.6g spread %.4f bound %.2f" % (
            m["name"], benchlib.median(xs), benchlib.spread(xs), m["bound"]))


if __name__ == "__main__":
    main()
