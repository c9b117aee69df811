#!/usr/bin/env python3
"""Runs one workload on several seeds and summarises each metric.

    python3 perfbench/repeat.py --workload curation --seeds 1-10 [--trace 1] [--out FILE]

Run from the root of a graft checkout. Prints, per metric, the median, the
quartiles (Python's statistics.quantiles, n=4) and the spread: the
interquartile distance as a share of the median. With --out, also writes
every run's result line and the summary as JSON. It stops at the first run
that fails, including one whose output check failed (run.py exits 1 then),
so no wrong run enters the medians.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    runs = []
    for seed in seeds(args.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds",
             str(spec["run_seconds"]), "--trace", str(args.trace)],
            capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stdout}{p.stderr}")
        result = json.loads(p.stdout.strip().splitlines()[-1])
        if not result["correct"]:
            sys.exit(f"seed {seed}: output check failed\n{p.stdout}")
        result["seed"] = seed
        # the run's notes, host CPU steal among them, for reading outliers
        result["notes"] = [l for l in p.stdout.splitlines()
                           if l.startswith("[perfbench]") and " = " not in l]
        runs.append(result)
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                         if not args.trace or k.startswith("traced.")), flush=True)
    summary = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        summary[name] = {"unit": runs[0]["metrics"][name]["unit"], "median": med,
                         "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / med if med else 0.0,
                         "min": min(vals), "max": max(vals)}
    for name, s in summary.items():
        print(f"{name:32s} median {s['median']:.6g} {s['unit']:6s} "
              f"q1 {s['q1']:.6g} q3 {s['q3']:.6g} spread {s['spread']:.3f}")
    print(f"{sum(r['correct'] for r in runs)}/{len(runs)} runs correct")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "trace": args.trace,
                       "runs": runs, "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
