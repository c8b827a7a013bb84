"""Run every workload, untimed and traced, and print the full report.

    python3 perfbench/report.py [--seed 1] [--seconds 10] [--workloads stream_ingest curation_mix]

Each (workload, trace) pair runs in its own fresh process through
``run.py``. The report prints every end-to-end metric by name with its
unit, every per-layer metric of the traced run, and the tracing
overhead: traced minus untimed value of each end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import unit_of  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} (trace {trace}) exited with {proc.returncode}")
    path = os.path.join(HERE, ".out", f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as fh:
        return json.load(fh)


def fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--workloads", nargs="*", default=list(WORKLOADS))
    args = ap.parse_args()

    for w in args.workloads:
        plain = run_one(w, args.seed, args.seconds, 0)
        traced = run_one(w, args.seed, args.seconds, 1)
        print(f"== {w}: attempted {plain['attempted']}, failed {plain['failed']}")
        for name, v in sorted(plain["end_to_end"].items()):
            t = traced["end_to_end"].get(name)
            over = ""
            if isinstance(v, (int, float)) and isinstance(t, (int, float)):
                over = f"   tracing overhead {t - v:+.6g}"
            print(f"  {name:<28} {fmt(v):>14} {unit_of(name):<6}{over}")
        print(f"  -- per-layer (traced run): attempted {traced['attempted']}, failed {traced['failed']}")
        for name, v in sorted(traced["layers"].items()):
            print(f"  {name:<44} {fmt(v):>14} {unit_of(name)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
