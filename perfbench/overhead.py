"""Tracing overhead: traced minus untraced end-to-end medians.

    python3 perfbench/overhead.py --workload ticket_tail --seeds 1 2 3 --seconds 25

Runs run.py once per seed without and once with ``--trace 1``
(alternating which goes first) and prints, per end-to-end metric, both
medians and their difference. The traced run prints its end-to-end
figures as ``e2e`` lines; only untraced runs count as results.
"""

from __future__ import annotations

import argparse
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def e2e(workload: str, seed: int, seconds: int, trace: int) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout
    vals = {}
    for ln in out.splitlines():
        f = ln.split()
        if len(f) >= 3 and f[0] == "e2e":
            vals[f[1]] = float(f[2])
    return vals


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=25)
    a = ap.parse_args()
    runs = {0: [], 1: []}
    for k, seed in enumerate(a.seeds):
        for trace in ((0, 1) if k % 2 == 0 else (1, 0)):
            runs[trace].append(e2e(a.workload, seed, a.seconds, trace))
    print(f"{'metric':28s} {'untraced':>12s} {'traced':>12s} {'overhead':>12s}")
    for name in runs[0][0]:
        u = statistics.median(r[name] for r in runs[0])
        t = statistics.median(r[name] for r in runs[1])
        print(f"{name:28s} {u:12.4f} {t:12.4f} {t - u:12.4f}")


if __name__ == "__main__":
    main()
