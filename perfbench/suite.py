#!/usr/bin/env python3
"""Run every workload untraced and then traced, for one seed.

    python3 perfbench/suite.py [--seed N] [--seconds S]

Prints every end-to-end metric of each workload by name, with unit,
sample count and quartiles, the failed operations, and the tracing
overhead (traced against untraced `wall_s`). The records land in
`.bench_build/records/`.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    a = ap.parse_args()
    status = 0
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(a.seed), "--seconds", str(a.seconds),
                                "--trace", str(trace)], cwd=ROOT, capture_output=True, text=True)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                sys.stderr.write(r.stderr[-4000:])
                print(f"{w} trace={trace}: run failed with exit code {r.returncode}")
                status = 1
                continue
            result = json.loads(lines[-1])
            show = lines[:-1] if trace == 0 else [l for l in lines[:-1] if not l.startswith(w)]
            print("\n".join(show))
            print(f"{w} trace={trace}: correct={result['correct']} attempted={result['attempted']} "
                  f"failed={result['failed']}")
            status |= 0 if result["correct"] else 1
    sys.exit(status)


if __name__ == "__main__":
    main()
