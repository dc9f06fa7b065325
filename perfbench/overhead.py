"""Tracing overhead: run one workload untraced and traced in alternating
pairs and report the median traced pass wall minus the median untraced
(both raw, as the context line gives them).

    python3 perfbench/overhead.py --workload feed [--seed 1]

Pair i runs seed ``seed + i`` both ways; the leg that runs first
alternates from pair to pair, so a drift in host load lands on both.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAIRS = 3


def _pass_s(workload: str, seed: int, seconds: float, trace: int) -> float:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True, timeout=600,
    )
    context = json.loads(out.stdout.strip().splitlines()[-2])["context"]
    return context["raw"]["pass_s"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    legs: dict[int, list[float]] = {0: [], 1: []}
    for i in range(PAIRS):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            legs[trace].append(_pass_s(args.workload, args.seed + i, args.seconds, trace))
    plain, traced = statistics.median(legs[0]), statistics.median(legs[1])
    print(json.dumps({
        "workload": args.workload, "seeds": [args.seed, args.seed + PAIRS - 1],
        "pass_s": legs[0], "traced_pass_s": legs[1],
        "overhead_s": traced - plain, "overhead_share": (traced - plain) / plain,
    }))


if __name__ == "__main__":
    main()
