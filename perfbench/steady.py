#!/usr/bin/env python3
"""Run one workload K times with consecutive seeds and report, for each
end-to-end metric, the median, the quartiles and the spread (quartile
distance over the median) — the figures the bounds in BENCHMARK.json are
set from. With --overhead each seed also runs traced, and the tracing
overhead (traced minus untraced end-to-end figures) is reported too.

    python3 perfbench/steady.py --workload rt_warehouse --runs 10 [--seconds 20]
        [--first-seed 1] [--overhead]
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def bench_seconds():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)["run_seconds"]


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"seed {seed}: run failed (exit {p.returncode})\n{p.stdout[-2000:]}")
    result = json.loads(lines[-1])
    traced = {}
    for line in lines[:-1]:
        parts = line.split()
        if len(parts) == 3 and parts[0].startswith("traced."):
            traced[parts[0][len("traced."):]] = float(parts[1])
    return result, traced, time.time() - t0


def summary(values):
    q1, q2, q3 = stats.quartiles(values) if len(values) > 1 else (values[0],) * 3
    return {"median": q2, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / q2 if q2 else None, "n": len(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    seconds = a.seconds or bench_seconds()
    values, overhead, walls = {}, {}, []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        result, _, wall = run(a.workload, seed, seconds, 0)
        walls.append(wall)
        if not result["correct"]:
            sys.exit(f"seed {seed}: incorrect output")
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed} wall {wall:.1f} s " + " ".join(
            f"{k}={m['value']:.5g}" for k, m in result["metrics"].items()),
            file=sys.stderr, flush=True)
        if a.overhead:
            _, traced, _ = run(a.workload, seed, seconds, 1)
            for k, v in traced.items():
                overhead.setdefault(k, []).append(v - result["metrics"][k]["value"])
    out = {"workload": a.workload, "seconds": seconds, "runs": a.runs,
           "run_wall_s": summary(walls),
           "metrics": {k: summary(v) for k, v in values.items()}}
    if overhead:
        out["tracing_overhead"] = {k: summary(v) for k, v in overhead.items()}
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
