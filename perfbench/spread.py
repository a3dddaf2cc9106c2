"""Run a workload over several seeds and report each end-to-end metric's
median and spread (interquartile distance as a share of the median).

    python3 perfbench/spread.py --workload etl_upsert --seeds 1-10 [--seconds 10]

Runs are sequential, one process each, from the repository root. Prints
one JSON object per run (values and wall seconds), then a summary line
per metric; exits 1 if any run failed or reported incorrect results.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with ``statistics.quantiles(values, n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    bad = 0
    for seed in _seeds(args.seeds):
        t = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        wall = time.perf_counter() - t
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(json.dumps({"seed": seed, "exit": proc.returncode, "stderr": proc.stderr[-2000:]}))
            bad += 1
            continue
        result = json.loads(lines[-1])
        bad += not result["correct"]
        diag = json.loads(lines[-2])["diagnostics"] if len(lines) > 1 else {}
        row = {k: v["value"] for k, v in result["metrics"].items()}
        row["noop_job_med_s"] = diag.get("noop_job_med_s")
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1), "correct": result["correct"], **row}), flush=True)
    for k, vs in values.items():
        if len(vs) >= 2:
            print(json.dumps({"metric": k, "median": statistics.median(vs), "spread": spread(vs)}))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
