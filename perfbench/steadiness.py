#!/usr/bin/env python3
"""Run every workload once per seed, untraced, and report how much each
end-to-end metric spreads over the seeds.

    python3 perfbench/steadiness.py --seeds 101-110 --out perfbench/results/steadiness_a.json
    python3 perfbench/steadiness.py --seeds 101-110 --reverse --out perfbench/results/steadiness_b.json

Run from the repository root. Runs go seed by seed, and within a seed
workload by workload (`--reverse` takes the workloads in the opposite
order), so a slow spell of the host falls on all workloads alike. The
spread of a metric is the distance between the first and third
quartile of its values (`statistics.quantiles(values, n=4)`) as a share
of their median; BENCHMARK.json's bound for the metric is stored beside
it. The report also keeps each run's share of CPU time stolen by the
hypervisor (from `/proc/stat`), which shows when a slowdown came from
the host. Given `--against` a report of an earlier set, the output also
holds, per metric, how much worse this set's median is than that one's,
as a share of it.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def cpu_ticks():
    """(steal, total) CPU ticks from /proc/stat; (0, 0) where there is none."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def run(workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed: {p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=seeds, required=True, help="first-last, e.g. 101-110")
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--reverse", action="store_true")
    ap.add_argument("--against")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    if args.reverse:
        workloads = workloads[::-1]
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    values = {w: {k: [] for k in metrics} for w in workloads}
    correct = {w: True for w in workloads}
    steal = {w: [] for w in workloads}
    for seed in args.seeds:
        for w in workloads:
            s0, t0 = cpu_ticks()
            res = run(w, seed, spec["run_seconds"])
            s1, t1 = cpu_ticks()
            # CPU time the hypervisor gave to other guests: a host-side slowdown
            steal[w].append((s1 - s0) / max(1, t1 - t0))
            correct[w] = correct[w] and res["correct"] and res["failed"] == 0
            for k in metrics:
                values[w][k].append(res["metrics"][k]["value"])
            print(w, seed, {k: round(v[-1], 4) for k, v in values[w].items()},
                  f"steal {steal[w][-1]:.3f}", flush=True)
    earlier = {}
    if args.against:
        with open(args.against) as fh:
            earlier = json.load(fh)["workloads"]
    report = {"seconds": spec["run_seconds"], "seeds": args.seeds,
              "order": workloads, "workloads": {}}
    for w in workloads:
        out = {}
        for k, vs in values[w].items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            out[k] = {"values": vs, "q1": q1, "median": med, "q3": q3,
                      "spread": (q3 - q1) / med, "bound": metrics[k]["bound"]}
            if w in earlier:
                before = earlier[w]["metrics"][k]["median"]
                sign = 1 if metrics[k]["better"] == "lower" else -1
                out[k]["worse_than_against"] = sign * (med - before) / before
        report["workloads"][w] = {"all_correct": correct[w], "cpu_steal_share": steal[w],
                                  "metrics": out}
        print(w, {k: round(v["spread"], 3) for k, v in out.items()})
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
