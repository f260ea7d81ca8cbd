#!/usr/bin/env python3
"""Steadiness check: many untraced runs per workload, one seed each.

    python3 perfbench/steady.py run SET --runs 10 --first-seed 100 [--workloads a,b]
    python3 perfbench/steady.py report SET [SET2]
    python3 perfbench/steady.py traced WORKLOAD SEED

Run from the root of a checkout. `run` executes run.py once per seed and
workload and stores every run's metrics in perfbench/steadiness/SET.json.
`report` prints, per workload and end-to-end metric, the median and the
quartile spread (q3 - q1) / median, as statistics.quantiles(n=4) gives the
quartiles, next to the metric's bound from BENCHMARK.json; given two sets it
also prints how far the second set's median is from the first's. `traced`
prints the per-layer table of one kept traced run and, from its spans, the
share of op wall time spent outside any stage (fixed cost: definition,
planning, scheduling gaps) against the share with a stage running (compute),
per op kind; registry ops are split into short and iterative queries.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "steadiness")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_set(name, runs, first_seed, workloads):
    path = os.path.join(OUT, f"{name}.json")
    data = {}
    if os.path.exists(path):
        with open(path) as f:
            data = json.load(f)
    for w in workloads:
        for seed in range(first_seed, first_seed + runs):
            t0 = time.monotonic()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec()["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            last = json.loads(p.stdout.strip().splitlines()[-1]) if p.stdout.strip() else {}
            wall = time.monotonic() - t0
            data.setdefault(w, []).append({"seed": seed, "rc": p.returncode,
                                           "wall_s": wall, **last})
            print(w, seed, p.returncode, f"{wall:.0f}s",
                  {k: round(v["value"], 4) for k, v in last.get("metrics", {}).items()},
                  flush=True)
            os.makedirs(OUT, exist_ok=True)
            with open(path, "w") as f:
                json.dump(data, f, indent=1)


def summary(runs, metric):
    vals = [r["metrics"][metric]["value"] for r in runs if "metrics" in r]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return statistics.median(vals), (q3 - q1) / statistics.median(vals), len(vals)


def report(names):
    sets = []
    for n in names:
        with open(os.path.join(OUT, f"{n}.json")) as f:
            sets.append(json.load(f))
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    head = "| workload | metric | bound | " + " | ".join(
        f"{n}: median | {n}: spread | {n}: runs" for n in names)
    if len(sets) == 2:
        head += " | median shift"
    print(head + " |")
    print("|" + "---|" * (head.count("|") - 0))
    for w in sets[0]:
        for metric, bound in bounds.items():
            row = [w, metric, f"{bound:.2f}"]
            meds = []
            for s in sets:
                med, spread, n = summary(s[w], metric)
                meds.append(med)
                row += [f"{med:.4g}", f"{spread:.3f}", str(n)]
            if len(sets) == 2:
                row.append(f"{(meds[1] - meds[0]) / meds[0]:+.3f}")
            print("| " + " | ".join(row) + " |")
    for s, n in zip(sets, names):
        bad = [(w, r["seed"], r.get("failed")) for w in s for r in s[w] if r["rc"] != 0]
        print(f"\n{n}: {sum(len(v) for v in s.values())} runs, nonzero exits: {bad or 'none'}")


def traced(workload, seed):
    keep = os.path.join(HERE, ".state", "results", f"{workload}-seed{seed}-trace1")
    with open(keep + ".json") as f:
        result = json.load(f)
    print("| metric | value | unit |\n|---|---|---|")
    for k, v in result["metrics"].items():
        print(f"| `{k}` | {v['value']:.4g} | {v['unit']} |")
    kinds = {o["id"]: o["kind"] for o in result["ops"]}
    names = {o["id"]: o["name"] for o in result["ops"]}
    iterative = set(result["stamp"]["inputs"].get("iterative", []))
    wall, busy, self_by, count = {}, {}, {}, {}
    with open(keep + ".spans.jsonl") as f:
        for line in f:
            s = json.loads(line)
            op = s["op"]
            cls = kinds[op]
            if workload == "registry":
                cls = "iterative" if names[op] in iterative else "short"
            if s["parent"] == -1:
                wall[cls] = wall.get(cls, 0) + s["end"] - s["start"]
                count[cls] = count.get(cls, 0) + 1
            if s["name"] == "stages":
                busy[cls] = busy.get(cls, 0) + s["self_ms"]
            d = self_by.setdefault(cls, {})
            d[s["name"]] = d.get(s["name"], 0) + s["self_ms"]
    print("\n| op kind | ops | total wall ms | fixed share | compute share "
          "| total self time by span (ms) |")
    print("|---|---|---|---|---|---|")
    for cls in sorted(wall):
        w = wall[cls]
        parts = ", ".join(f"{k} {v:.0f}" for k, v in sorted(self_by[cls].items(),
                                                          key=lambda kv: -kv[1]))
        print(f"| {cls} | {count[cls]} | {w:.0f} | {1 - busy.get(cls, 0) / w:.2f} | "
              f"{busy.get(cls, 0) / w:.2f} | {parts} |")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("set")
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=100)
    r.add_argument("--workloads", default=",".join(w["name"] for w in spec()["workloads"]))
    p = sub.add_parser("report")
    p.add_argument("sets", nargs="+")
    t = sub.add_parser("traced")
    t.add_argument("workload")
    t.add_argument("seed", type=int)
    a = ap.parse_args()
    if a.cmd == "run":
        run_set(a.set, a.runs, a.first_seed, a.workloads.split(","))
    elif a.cmd == "report":
        report(a.sets)
    else:
        traced(a.workload, a.seed)


if __name__ == "__main__":
    main()
