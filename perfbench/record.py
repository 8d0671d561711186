#!/usr/bin/env python3
"""Record untraced and traced runs of every workload, with the tracing overhead.

    python3 perfbench/record.py --seed 1 --out perfbench/results/seed1.json

Run from the repository root. Each workload runs three untraced +
traced pairs, alternating which side goes first. The output holds, per
workload, the first pair's end-to-end and per-layer metrics and the
tracing overhead: the traced run's own end-to-end figures (`trace.*`)
against the untraced run's, as a signed share of the untraced value
(positive = the traced run was worse), per pair and as the median.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PAIRS = 3


def run(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} trace={trace} failed: {p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    report = {"seed": args.seed, "seconds": spec["run_seconds"],
              "host": {"cpus": os.cpu_count(), "machine": platform.machine()},
              "workloads": {}}
    flat = lambda r: {k: v["value"] for k, v in r["metrics"].items()}
    for w in (w["name"] for w in spec["workloads"]):
        pairs = []
        for i in range(PAIRS):
            # alternate which side runs first, so host drift does not
            # fall on one side only
            order = (0, 1) if i % 2 == 0 else (1, 0)
            res = {t: run(w, args.seed, spec["run_seconds"], t) for t in order}
            pairs.append((res[0], res[1]))
        overhead = {}
        for k in better:
            shares = []
            for plain, traced in pairs:
                v = plain["metrics"][k]["value"]
                t = traced["metrics"].get(f"trace.{k}", {}).get("value")
                if t is not None and v:
                    sign = -1 if better[k] == "higher" else 1
                    shares.append(sign * (t - v) / v)
            if shares:
                overhead[k] = {"median": statistics.median(shares), "pairs": shares}
        plain, traced = pairs[0]
        report["workloads"][w] = {
            "correct": all(p["correct"] and t["correct"] for p, t in pairs),
            "end_to_end": flat(plain), "tracing_overhead_share": overhead,
            "per_layer": {k: v for k, v in flat(traced).items() if v != 0}}
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
