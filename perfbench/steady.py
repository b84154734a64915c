#!/usr/bin/env python3
"""Steadiness and comparison tool for the benchmark.

Run each workload repeatedly, one seed per run, and print for every
end-to-end metric its median and (Q3 - Q1) / median, the spread the bounds
in BENCHMARK.json are set from:

    python3 perfbench/steady.py --runs 10 [--label NAME]

Seeds run from 1 to --runs, each untraced.

Each run's full result is kept under .bench_work/steady/<label>/. Two such
sets can be compared; the comparison is flagged when they come from
different hosts (ncpu, local[N], -Xmx or hostname differ), since numbers do
not carry across hosts:

    python3 perfbench/steady.py --compare LABEL_A LABEL_B
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STEADY = os.path.join(ROOT, ".bench_work", "steady")
HOST_KEYS = ["ncpu", "local", "xmx_mb", "hostname"]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def load(label):
    d = os.path.join(STEADY, label)
    runs = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".json"):
            with open(os.path.join(d, f)) as fh:
                r = json.load(fh)
            runs.setdefault(r["workload"], []).append(r)
    return runs


def summary(runs, names):
    """metric -> (median, spread, n) over one workload's runs."""
    out = {}
    for n in names:
        xs = [r["metrics"][n]["value"] for r in runs if n in r["metrics"]]
        if xs:
            q1, med, q3 = quartiles(xs)
            out[n] = (med, (q3 - q1) / med if med else float("inf"), len(xs))
    return out


def run_set(args):
    s = spec()
    d = os.path.join(STEADY, args.label)
    os.makedirs(d, exist_ok=True)
    for w in [w["name"] for w in s["workloads"]]:
        for seed in range(1, args.runs + 1):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(s["run_seconds"]),
                 "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            last = p.stdout.strip().splitlines()[-1:] or ["{}"]
            try:
                r = json.loads(last[0])
            except json.JSONDecodeError:
                r = {}
            if p.returncode != 0 or "metrics" not in r:
                print(f"{w} seed {seed}: run failed ({p.returncode}) {p.stderr[-300:]}")
                continue
            res = os.path.join(ROOT, ".bench_work", "results", f"{w}-{seed}-t0.json")
            with open(res) as fh:
                full = json.load(fh)
            full["workload"] = w
            with open(os.path.join(d, f"{w}-{seed}.json"), "w") as fh:
                json.dump(full, fh)
            print(f"{w} seed {seed}: correct={r['correct']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    report(args.label)


def report(label):
    s = spec()
    bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
    names = list(bounds)
    for w, runs in load(label).items():
        print(f"\n{w}: {len(runs)} runs, all correct: "
              f"{all(r['correct'] for r in runs)}")
        for n, (med, spread, cnt) in summary(runs, names).items():
            b = bounds[n]
            flag = "  ok" if spread <= b / 3 else "  WIDE" if spread > b else "  >1/3 bound"
            print(f"  {n:32s} median {med:12.5g}  iqr/median {spread:7.4f}"
                  f"  bound {b}{flag}")


def compare(a, b):
    s = spec()
    names = [m["name"] for m in s["end_to_end"]]
    bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
    ra, rb = load(a), load(b)
    hosts = {json.dumps({k: r["host"].get(k) for k in HOST_KEYS}, sort_keys=True)
             for runs in list(ra.values()) + list(rb.values()) for r in runs}
    if len(hosts) > 1:
        print("WARNING: the runs come from different hosts or JVM settings; "
              "their numbers do not compare:\n  " + "\n  ".join(sorted(hosts)))
    for w in sorted(set(ra) & set(rb)):
        sa, sb = summary(ra[w], names), summary(rb[w], names)
        print(f"\n{w}:")
        for n in names:
            if n in sa and n in sb:
                ma, mb = sa[n][0], sb[n][0]
                better = next(m["better"] for m in s["end_to_end"] if m["name"] == n)
                worse = (mb - ma) / ma if better == "lower" else (ma - mb) / ma
                flag = "  WORSE than bound" if worse > bounds[n] else ""
                print(f"  {n:20s} {ma:12.5g} -> {mb:12.5g}  "
                      f"worse by {worse:+.3f} (bound {bounds[n]}){flag}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--label", default="default")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = ap.parse_args()
    if args.compare:
        compare(*args.compare)
    else:
        run_set(args)


if __name__ == "__main__":
    main()
