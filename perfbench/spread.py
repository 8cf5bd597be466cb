#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports each metric's median and
spread (interquartile range over median), the figures a benchmark change is
accepted on. With --overhead it also makes the traced runs and reports the
tracing overhead: traced op time minus untraced op time, as medians over seeds.

    python3 perfbench/spread.py --workload poll_steady --seeds 10 [--overhead]

Run from the repository root; results are appended to perfbench/.work/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"run failed: {workload} seed {seed} trace {trace}")
    out = json.loads(lines[-1])
    guard = json.loads(lines[-2])
    with open(os.path.join(HERE, ".work", "spread.jsonl"), "a") as f:
        f.write(json.dumps({"workload": workload, "seed": seed, "trace": trace,
                            "guard": guard, "result": out}) + "\n")
    if not out["correct"]:
        sys.exit(f"incorrect result: {workload} seed {seed}")
    return {k: v["value"] for k, v in out["metrics"].items()}, guard


def summary(rows):
    out = {}
    for k in rows[0]:
        v = [r[k] for r in rows]
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4)
        out[k] = {"median": med, "spread": (q3 - q1) / med if med else 0.0}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seeds = range(a.first_seed, a.first_seed + a.seeds)
    runs = [run(a.workload, s, seconds, 0) for s in seeds]
    e2e = summary([r[0] for r in runs])
    for k, s in e2e.items():
        print(f"{a.workload} {k}: median {s['median']:.4g} spread {s['spread']:.3f} "
              f"(bound {bounds[k]}, target < {bounds[k] / 3:.3f})")
    print(f"{a.workload} contaminated runs: {sum(r[1]['guard']['contaminated'] for r in runs)}")
    if a.overhead:
        traced = summary([run(a.workload, s, seconds, 1)[0] for s in seeds])
        op = traced["trace.op_ms"]["median"] - e2e["op_ms"]["median"]
        print(f"{a.workload} tracing overhead: {op:.1f} ms per operation "
              f"({op / e2e['op_ms']['median']:.1%} of the untraced median)")


if __name__ == "__main__":
    main()
