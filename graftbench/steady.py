#!/usr/bin/env python3
"""Steadiness check: runs the benchmark once per seed on each workload, in
one or more sets one after the other, and reports per end-to-end metric the
median and the interquartile range as a share of the median
(statistics.quantiles(values, n=4)), next to the metric's bound in
BENCHMARK.json. With two sets it also reports the drift: how much worse the
second set's median is than the first's, as a share of the first's.

  python3 graftbench/steady.py --seeds 1-10 [--sets 2] \
      [--workloads warehouse,star] [--out graftbench/steadiness.json]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_set(bench, workload, seed_list):
    runs = []
    for s in seed_list:
        t0 = time.time()
        out = subprocess.run(
            bench["command"] + ["--workload", workload, "--seed", str(s), "--seconds",
                                str(bench["run_seconds"]), "--trace", "0"],
            cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        line = json.loads(out.stdout.strip().splitlines()[-1])
        line["seed"], line["wall_s"] = s, time.time() - t0
        # the run's phase split, with the host's steal during the loop
        line["phases"] = next((x.split("phases: ", 1)[1] for x in out.stderr.splitlines()
                               if "phases: " in x), None)
        runs.append(line)
        print(f"{workload} seed {s}: {line['wall_s']:.1f} s, correct={line['correct']}",
              file=sys.stderr, flush=True)
    return runs


def spread(runs, name):
    vals = [r["metrics"][name]["value"] for r in runs]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    med = statistics.median(vals)
    return med, (q3 - q1) / med


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    sets = [{w: run_set(bench, w, seeds(args.seeds)) for w in workloads}
            for _ in range(args.sets)]

    summary = {}
    for w in workloads:
        summary[w] = {}
        for name, m in metrics.items():
            meds, spreads = zip(*(spread(s[w], name) for s in sets))
            worse = ((meds[-1] - meds[0]) / meds[0] * (1 if m["better"] == "lower" else -1))
            gated = name != "setup_s"
            summary[w][name] = {
                "medians": meds, "spreads": [round(x, 3) for x in spreads],
                "drift": round(worse, 3), "bound": m["bound"],
                "within_bound": ((not gated or max(spreads) <= m["bound"])
                                 and worse <= m["bound"])}
            print(f"{w:10s} {name:14s} medians {' '.join(f'{x:10.4f}' for x in meds)}  "
                  f"spreads {' '.join(f'{x:.3f}' for x in spreads)}  "
                  f"drift {worse:+.3f}  bound {m['bound']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"what": "steady.py: each set runs every seed once per workload, "
                               "one set after the other. spreads = (Q3 - Q1) / median "
                               "over a set by statistics.quantiles(n=4); drift = how much "
                               "worse the last set's median is than the first's, as a "
                               "share of the first's. setup_s is held to its bound by "
                               "drift only.",
                       "cores": os.cpu_count(), "seeds": args.seeds,
                       "run_seconds": bench["run_seconds"],
                       "summary": summary, "sets": sets}, f, indent=1)


if __name__ == "__main__":
    main()
