#!/usr/bin/env python3
"""Self-test of the benchmark's output checks.

Runs each workload once with `--corrupt-expectation`, which makes one
expected value wrong, and requires the run to report the mismatch
(`failed` > 0, `correct` false). Run from the root of a checkout:

    python3 perfbench/selftest.py [--seconds N]
"""
import argparse
import json
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=int, default=5)
    args = ap.parse_args()
    workloads = [w["name"] for w in json.load(open("BENCHMARK.json"))["workloads"]]
    ok = True
    for wl in workloads:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", wl, "--seed", "1",
             "--seconds", str(args.seconds), "--trace", "1", "--corrupt-expectation"],
            capture_output=True, text=True)
        res = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None
        caught = (res is not None and res["failed"] > 0 and not res["correct"]
                  and res["metrics"]["failed_frac"]["value"] > 0)
        print(f"{wl}: {'caught' if caught else 'MISSED'} "
              f"({res['failed']}/{res['attempted']} failed)" if res else f"{wl}: exit {p.returncode}")
        ok &= caught
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
