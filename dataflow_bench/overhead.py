"""Tracing overhead: run a workload untraced and traced on the same
seeds and print, per timing, the traced median minus the untraced one.

    python3 dataflow_bench/overhead.py --workload bulk --seeds 1,2,3
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"
PAIRS = [("insert_ms", "trace.insert_ms"), ("pq_p50_ms", "trace.pq_p50_ms")]


def metrics(workload: str, seed: int, trace: int) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", "45", "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout.strip().splitlines()[-1]
    return {k: v["value"] for k, v in json.loads(out)["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated")
    args = ap.parse_args()
    plain, traced = [], []
    for s in (int(x) for x in args.seeds.split(",")):
        plain.append(metrics(args.workload, s, 0))
        traced.append(metrics(args.workload, s, 1))
    for untraced_name, traced_name in PAIRS:
        a = statistics.median(m[untraced_name] for m in plain)
        b = statistics.median(m[traced_name] for m in traced)
        print(f"{untraced_name:12s} untraced {a:10.1f}  traced {b:10.1f}  "
              f"overhead {b - a:+9.1f} ms ({(b - a) / a:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
