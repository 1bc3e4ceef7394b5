#!/usr/bin/env python3
"""Steadiness check and tracing overhead for the feature-store benchmark.

Run from the repository root:

    python3 perfbench/steadiness.py                      # 10 seeds, every workload
    python3 perfbench/steadiness.py --workloads train_serve --seeds 5
    python3 perfbench/steadiness.py --sets 2             # two sets, medians compared
    python3 perfbench/steadiness.py --overhead           # traced vs plain runs

For each workload it runs the benchmark once per seed and prints, for
each end-to-end metric, the median and the spread: the distance between
the first and third quartile (statistics.quantiles, n=4) as a share of
the median. A spread above a third of the metric's bound in
BENCHMARK.json is flagged, setup_s included. With --sets 2 it runs the
seeds twice and flags a metric whose second median is worse than the
first by more than its bound. With --overhead it pairs a plain and a
traced run per seed and prints how much the traced run's end-to-end
figures differ: the tracing overhead.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace, log_dir=None):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if log_dir:
        os.makedirs(log_dir, exist_ok=True)
        with open(os.path.join(log_dir, f"{workload}-seed{seed}-trace{trace}.log"), "w") as fh:
            fh.write(r.stdout)
    lines = r.stdout.strip().splitlines()
    e2e = {m.group(1): float(m.group(2)) for m in
           (re.match(r"e2e (\S+)\s+(\S+)", l) for l in lines) if m}
    if r.returncode != 0:
        # a failed check is reported, and the run still counts
        print(f"{workload} seed {seed} trace {trace}: exit {r.returncode}: " +
              " ".join(l for l in lines if l.startswith("CHECK FAILED") or l.startswith("perfbench:")))
    if not lines or not lines[-1].startswith("{"):
        sys.exit(f"{workload} seed {seed} trace {trace}: no result\n{r.stdout[-3000:]}")
    return json.loads(lines[-1]), e2e


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--log-dir", help="keep each run's full output here")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seeds = range(a.first_seed, a.first_seed + a.seeds)

    for w in a.workloads.split(","):
        if a.overhead:
            plain, traced = {}, {}
            for s in seeds:
                for trace, acc in ((0, plain), (1, traced)):
                    for k, v in run(w, s, a.seconds, trace, a.log_dir)[1].items():
                        acc.setdefault(k, []).append(v)
            for k in sorted(plain):
                p, t = statistics.median(plain[k]), statistics.median(traced[k])
                print(f"{w:15s} {k:24s} plain {p:12.3f} traced {t:12.3f} "
                      f"overhead {(t - p) / p * 100 if p else float('nan'):+7.1f}%")
            continue
        medians = []
        for n in range(a.sets):
            values = {}
            for s in seeds:
                res, _ = run(w, s, a.seconds, 0, a.log_dir)
                for k, m in res["metrics"].items():
                    values.setdefault(k, []).append(m["value"])
                print(f"{w} set {n + 1} seed {s}: " +
                      " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
            meds = {}
            for k, vs in values.items():
                med, sp = spread(vs)
                meds[k] = med
                bound = bounds.get(k, float("nan"))
                flag = "" if sp < bound / 3 else "  <-- above a third of the bound"
                print(f"{w:15s} set {n + 1} {k:12s} median {med:12.4f} spread {sp:7.4f} bound {bound}{flag}")
            medians.append(meds)
        better = {m["name"]: m["better"] for m in bench["end_to_end"]}
        for n in range(1, len(medians)):
            for k, med in medians[n].items():
                first = medians[0][k]
                worse = (med - first) / first if better.get(k) == "lower" else (first - med) / first
                flag = "" if worse <= bounds.get(k, 0) else "  <-- worse than the first set beyond the bound"
                print(f"{w:15s} set {n + 1} vs 1 {k:12s} worse by {worse:+7.4f} bound {bounds.get(k)}{flag}")


if __name__ == "__main__":
    main()
