#!/usr/bin/env python3
"""Self-test of the benchmark's failure handling and contract.

    python3 perfbench/selftest.py

Run from the root of a checkout. Checks that:
  * BENCHMARK.json lists exactly the workloads and metrics run.py prints;
  * an op made to return a wrong result, or to throw, is counted as failed,
    every metric still prints, and the command exits nonzero (once on a
    registry workload, whose outputs the harness checks, and once on the
    serving workload, whose lookups and fetches run.py checks);
  * in a directory holding only BENCHMARK.json and the benchmark's files the
    command exits nonzero without printing a result.
Exits 1 on the first failed check.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        sys.exit(1)


def bench(cwd, *args):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines


def injected(workload, kind):
    rc, lines = bench(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
                      "--trace", "0", "--inject", kind)
    last = json.loads(lines[-1])
    check(rc == 1, f"{workload} --inject {kind}: exit code 1 (got {rc})")
    check(last["failed"] >= 1 and not last["correct"],
          f"{workload} --inject {kind}: failed={last['failed']} of {last['attempted']}")
    check(set(last["metrics"]) == set(run.END_TO_END),
          f"{workload} --inject {kind}: every end-to-end metric printed")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check([w["name"] for w in spec["workloads"]] == run.WORKLOADS,
          "BENCHMARK.json workloads match run.py")
    check({m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END,
          "BENCHMARK.json end-to-end metrics match run.py")
    check({m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER,
          "BENCHMARK.json per-layer metrics match run.py")

    injected("registry", "wrong")
    injected("registry", "throw")
    injected("catalog_serve", "wrong")

    bare = os.path.join(run.STATE, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".state", "target", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        rc, lines = bench(bare, "--workload", run.WORKLOADS[0], "--seed", "1",
                          "--seconds", "1", "--trace", "0")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    check(rc != 0, f"bare directory: nonzero exit (got {rc})")
    check(not any(l.startswith("{") for l in lines), "bare directory: no result printed")
    print("selftest passed")


if __name__ == "__main__":
    main()
