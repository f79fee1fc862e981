#!/usr/bin/env python3
"""Self-test of failure accounting.

    python3 perfbench/selftest.py

Runs the `reads` workload plus an injected query that always throws,
and asserts that the failure is counted, not dropped: the injected
query's timed samples, and only they, raise `failed` and `fail_ratio`,
its name is listed with the reason in the record, the run reports
`correct: false`, and the workload's own queries still pass.
"""
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
INJECTED = "zz_injected_failure"


def main():
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "reads",
                        "--seed", "7", "--seconds", "1", "--trace", "0",
                        "--inject", INJECTED],
                       cwd=ROOT, capture_output=True, text=True)
    assert r.returncode == 0, r.stderr[-3000:]
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    rec_line = [l for l in lines if l.startswith("record ")][-1]
    with open(os.path.join(ROOT, rec_line.split(" ", 1)[1])) as f:
        record = json.load(f)
    passes = record["end_to_end"]["wall_s"]["n"]
    per_pass = len({o["name"] for o in record["ops"]})
    assert result["correct"] is False, result
    assert result["attempted"] == per_pass * passes, (result, passes, per_pass)
    assert result["failed"] == passes, (result, passes)
    assert abs(record["end_to_end"]["fail_ratio"]["median"] - 1 / per_pass) < 1e-9, record["end_to_end"]
    assert list(record["failed_ops"]) == [INJECTED], record["failed_ops"]
    assert "injected failure" in record["failed_ops"][INJECTED], record["failed_ops"]
    assert record["narrowed"] is True
    print(f"selftest ok: {INJECTED} counted in {result['failed']}/{result['attempted']} "
          f"operations and listed by name")


if __name__ == "__main__":
    main()
