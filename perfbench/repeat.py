"""Run the benchmark several times, one seed per run, and report each
metric's median and spread (interquartile range as a share of the median).

    python3 perfbench/repeat.py --workload headline --runs 10 --first-seed 100

Run from the repository root. Each run is a separate process, as the
benchmark is meant to be run.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=100)
    p.add_argument("--seconds", type=int, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="append every run's result line to this file")
    args = p.parse_args(argv)

    values: dict[str, list[float]] = {}
    walls = []
    for i in range(args.runs):
        seed = args.first_seed + i
        cmd = [
            sys.executable, "perfbench/run.py", "--workload", args.workload,
            "--seed", str(seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        walls.append(time.perf_counter() - t0)
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return proc.returncode
        line = proc.stdout.strip().splitlines()[-1]
        res = json.loads(line)
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps({"workload": args.workload, "seed": seed, **res}) + "\n")
        print(
            f"seed {seed}: correct={res['correct']} failed={res['failed']}/"
            f"{res['attempted']} wall={walls[-1]:.1f}s",
            file=sys.stderr,
        )
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{args.workload}: {args.runs} runs, wall median {statistics.median(walls):.1f} s,"
          f" max {max(walls):.1f} s")
    for k, vs in values.items():
        print(f"  {k:40s} median {statistics.median(vs):12.6g}  spread {spread(vs):.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
