#!/usr/bin/env python3
"""Run the benchmark on several seeds and summarise each metric.

    python3 perfbench/spread.py --workloads cds_batch,query_heads,llm_corpus \
        --seeds 1-10 [--seconds 10] [--trace 0] [--out summary.json]

Runs ``run.py`` once per (workload, seed), one process at a time, and
prints for every metric its median, quartiles (``statistics.quantiles``,
n=4) and spread = (Q3 - Q1) / median, plus each process's wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out")
    args = p.parse_args()

    report: dict[str, dict] = {}
    for workload in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        walls, failed = [], 0
        for seed in seeds_of(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            walls.append(time.perf_counter() - t0)
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            if result is None or not result["correct"]:
                failed += 1
                print(f"{workload} seed {seed}: FAILED rc={proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
                continue
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{workload} seed {seed}: {walls[-1]:.1f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in list(result["metrics"].items())[:4]),
                  file=sys.stderr, flush=True)
        report[workload] = {
            "metrics": {k: summarise(v) for k, v in values.items()},
            "process_wall_s": summarise(walls),
            "failed_runs": failed,
        }
        for k, s in report[workload]["metrics"].items():
            if args.trace == 0 or s["median"]:
                print(f"{workload:12s} {k:36s} median={s['median']:.5g} spread={s['spread']:.3f}")
        print(f"{workload:12s} process wall median={report[workload]['process_wall_s']['median']:.1f}s "
              f"failed runs={failed}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
