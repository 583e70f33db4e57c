#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, and drift between sets.

    python3 perfbench/spread.py --workload <w> --seeds 1-10 [--seconds 4] [--save a.json]
    python3 perfbench/spread.py --compare a.json b.json

The first form runs the benchmark once per seed (untraced), then prints,
per metric, the median and the distance between the first and third
quartile as a share of the median - the figure BENCHMARK.json's bounds
are held against. --save keeps the values. The second form compares two
saved sets of the same workload: per metric, how much worse the second
median is than the first, as a share of the first, beside the bound.
Run from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def spread(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4)
    m = statistics.median(xs)
    return (q3 - q1) / m if m else float("nan")


def compare(a_path, b_path):
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    for k, m in spec.items():
        ma, mb = statistics.median(a[k]), statistics.median(b[k])
        worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
        flag = "EXCEEDS" if worse > m["bound"] else "ok"
        print(f"{k:24s} median1={ma:.6g} median2={mb:.6g} worse_by={worse:+.4f} "
              f"bound={m['bound']} spread1={spread(a[k]):.4f} spread2={spread(b[k]):.4f} {flag}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default=None)
    ap.add_argument("--save", default=None)
    ap.add_argument("--compare", nargs=2, default=None)
    a = ap.parse_args()
    if a.compare:
        return compare(*a.compare)
    if not a.workload:
        ap.error("--workload or --compare is required")
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        seconds = a.seconds or str(json.load(f)["run_seconds"])
    values = {}
    for s in seeds(a.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(s), "--seconds", seconds,
                            "--trace", "0"], stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not last:
            sys.exit(f"seed {s}: run failed (rc={p.returncode})")
        res = json.loads(last)
        print(f"seed {s}: correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        print(f"{k:24s} median={statistics.median(xs):.6g} spread={spread(xs):.4f}")
    if a.save:
        with open(a.save, "w") as f:
            json.dump(values, f, indent=1)


if __name__ == "__main__":
    main()
