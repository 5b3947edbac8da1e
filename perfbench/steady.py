#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports each metric's median,
quartiles and spread (quartile distance over the median) against its bound.

Usage (from the repository root):
  python3 perfbench/steady.py --workload queries --seeds 1-10 \
      [--seconds 6] [--trace 0] [--out runs.jsonl]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def seeds(spec: str):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", help="append each run's result line here")
    a = p.parse_args()
    root = os.path.dirname(HERE)
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    seconds = a.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    runs = []
    for seed in seeds(a.seeds):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(a.trace)],
            cwd=root, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            return 1
        res = json.loads(lines[-1])
        ctx = json.loads(lines[-2])["context"] if len(lines) > 1 else {}
        res["seed"], res["wall_s"] = seed, round(time.time() - t0, 1)
        res["host_speed_s"] = ctx.get("host_speed_s")
        res["context"] = ctx
        runs.append(res)
        if a.out:
            with open(a.out, "a") as fh:
                fh.write(json.dumps(res) + "\n")
        share = res["failed"] / res["attempted"]
        print(f"seed {seed}: wall {res['wall_s']} s, correct {res['correct']}, "
              f"failed {res['failed']}/{res['attempted']} ({share:.4f}), "
              f"host {res['host_speed_s']}", flush=True)
    print(f"{'metric':28} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6}")
    for name in runs[0]["metrics"]:
        xs = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(xs)
        if len(xs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(xs, n=4)
            sp = stats.spread(xs)
        else:
            q1 = q3 = med
            sp = 0.0
        b = bounds.get(name)
        print(f"{name:28} {med:12.4f} {q1:12.4f} {q3:12.4f} {sp:7.3f} "
              f"{'' if b is None else b:>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
