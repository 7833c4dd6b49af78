#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's median
and quartile spread (``(q3 - q1) / median``), the figure the benchmark's
bounds are set against.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds 8] [--trace 0]

Runs one seed at a time, from the repository root.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="8")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True, check=False,
        )
        wall = time.perf_counter() - t0
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        jobs = [ln.split("] ", 1)[-1] for ln in out.stderr.splitlines() if "timed jobs" in ln]
        print(f"seed {seed}: wall {wall:.1f} s correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
              + "".join(f" [{j}]" for j in jobs),
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:28s} median {med:10.4f}  spread {spread:6.3f}  n={len(vs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
