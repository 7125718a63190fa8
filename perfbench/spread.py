#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--trace 0]

Runs the benchmark once per seed, one run at a time, and prints for each
metric its median and the distance between the first and third
quartiles (``statistics.quantiles(values, n=4)``) as a share of the
median, next to the metric's bound from BENCHMARK.json. Each run's result
line, with its summary line under ``summary``, is appended to
``perfbench/.work/spread/<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    log_dir = os.path.join(ROOT, "perfbench", ".work", "spread")
    os.makedirs(log_dir, exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [*spec["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        *_, summary, line = proc.stdout.strip().splitlines()
        out = json.loads(line)
        with open(os.path.join(log_dir, f"{args.workload}.jsonl"), "a") as fh:
            fh.write(json.dumps({**out, "summary": json.loads(summary.split(" ", 1)[1])}) + "\n")
        print(f"seed {seed}: {time.time() - t0:.0f} s wall, correct={out['correct']}", flush=True)
        for name, m in out["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        share = (q3 - q1) / med if med else float("nan")
        print(f"{name:28s} median {med:12.4f}  iqr/median {share:6.3f}  bound {bounds.get(name)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
