#!/usr/bin/env python3
"""Repeats run.py over seeds and summarizes each metric.

    python3 perfbench/spread.py --workload W --seeds 1-10 [--seconds T]
        [--trace 0|1] [--out FILE]

For every metric it prints the median and the spread: the distance
between the first and third quartile (statistics.quantiles, n=4) as a
share of the median. With --trace 1 it also prints the end-to-end
values measured under tracing, so the tracing overhead is the traced
median minus the untraced one. --out appends the raw per-run results
as JSON lines.
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
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    if args.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]

    runs = []
    for s in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(s), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, capture_output=True, text=True, cwd=os.path.dirname(HERE))
        lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
        if p.returncode != 0 or not lines:
            print(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            sys.exit(1)
        rec = {"seed": s}
        for l in lines:
            rec.update(json.loads(l))
        runs.append(rec)
        print(f"seed {s}: correct={rec['correct']} attempted={rec['attempted']} "
              f"failed={rec['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in rec["metrics"].items()
                  if not k.startswith(("pipelines.", "queries.")) or args.trace == 0),
              flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps(dict(rec, workload=args.workload)) + "\n")

    def table(key):
        names = list(runs[0][key])
        for n in names:
            vals = [r[key][n]["value"] for r in runs]
            if len(vals) >= 2 and statistics.median(vals):
                med, sp = spread(vals)
                print(f"  {n:40s} median {med:12.5g}  spread {sp:7.4f}")
            else:
                print(f"  {n:40s} median {statistics.median(vals):12.5g}")

    print(f"{args.workload}: {len(runs)} runs, trace={args.trace}")
    table("metrics")
    if args.trace:
        print("end-to-end under tracing:")
        table("end_to_end_traced")


if __name__ == "__main__":
    main()
