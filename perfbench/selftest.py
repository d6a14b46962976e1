#!/usr/bin/env python3
"""Fast self-test of the benchmark (about three minutes on 4 cores).

Usage, from the root of a checkout: python3 perfbench/selftest.py

For each workload, at tiny size:
  - a traced run must pass its checks and print every per_layer metric
    of BENCHMARK.json with its unit;
  - an untraced run fed a corrupted result (sync skipped, an ACL
    missing, a query row dropped) must fail its output check, exit 1
    and still print every end_to_end metric with its unit.
Exits 1 on the first expectation that does not hold.
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CASES = [("lake_sync", "skip_sync", "synchronized copy matches the source"),
         ("lake_metadata", "drop_acl", "final ACL set equals the expected set"),
         ("query_mix", "drop_row", "differs from its oracle")]


def run(workload, trace, corrupt=""):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd + (["--corrupt", corrupt] if corrupt else []), cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def expect(ok, what, detail=""):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        print(detail[-3000:])
        sys.exit(1)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}
    for workload, corrupt, message in CASES:
        rc, res, err = run(workload, 1)
        expect(rc == 0 and res and res["correct"] and res["failed"] == 0, f"{workload}: traced run passes", err)
        expect({k: v["unit"] for k, v in res["metrics"].items()} == units["per_layer"],
               f"{workload}: prints every per_layer metric with its unit")
        rc, res, err = run(workload, 0, corrupt)
        expect(rc == 1 and res and not res["correct"] and res["failed"] > 0 and message in err,
               f"{workload}: {corrupt} fails the output check", err)
        expect({k: v["unit"] for k, v in res["metrics"].items()} == units["end_to_end"],
               f"{workload}: prints every end_to_end metric with its unit")


if __name__ == "__main__":
    main()
