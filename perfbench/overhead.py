#!/usr/bin/env python3
"""Compare traced runs with untraced runs of the same workload.

    python3 perfbench/overhead.py [RUNS_DIR]

Reads the run records ``run.py`` leaves under ``.perfbench/runs`` and
prints, per workload, the tracing overhead (median timed-pass wall of
the traced runs over that of the untraced runs, minus one) and, per op,
the median request wall untraced and traced. An op's traced wall agrees
with its untraced median when it lies within the tracing overhead plus
the op's own run-to-run spread (IQR over median of the untraced runs);
the script exits 1 if any op does not.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def _spread(vals: list[float]) -> float:
    if len(vals) < 2:
        return 0.0
    q = statistics.quantiles(vals, n=4)
    return (q[2] - q[0]) / statistics.median(vals)


def main() -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    runs_dir = (sys.argv[1] if len(sys.argv) > 1
                else os.path.join(root, ".perfbench", "runs"))
    recs = []
    for path in glob.glob(os.path.join(runs_dir, "*.json")):
        if not path.endswith(".spans.json"):
            with open(path) as fh:
                recs.append(json.load(fh))
    ok = True
    for wl in sorted({r["workload"] for r in recs}):
        by = {t: [r for r in recs if r["workload"] == wl and r["trace"] == t]
              for t in (0, 1)}
        if not by[0] or not by[1]:
            continue
        passes = {t: statistics.median(p for r in by[t]
                                       for p in r["noise"]["timed_passes"])
                  for t in (0, 1)}
        overhead = passes[1] / passes[0] - 1
        print(f"{wl}: {len(by[0])} untraced, {len(by[1])} traced runs; "
              f"timed pass {passes[0]:.2f} s untraced, {passes[1]:.2f} s "
              f"traced: overhead {overhead:+.1%}")
        ops = by[0][0]["noise"]["request_p50_by_op"]
        for op in ops:
            un = [r["noise"]["request_p50_by_op"][op] for r in by[0]]
            tr = [r["noise"]["request_p50_by_op"][op] for r in by[1]]
            med = statistics.median(un)
            tol = abs(overhead) + _spread(un)
            worst = max(abs(t / med - 1) for t in tr)
            agree = worst <= tol
            ok &= agree
            print(f"  {op:34s} untraced {med:7.3f} s  traced "
                  f"{statistics.median(tr):7.3f} s  worst deviation "
                  f"{worst:.1%} (tolerance {tol:.1%}) "
                  f"{'ok' if agree else 'DISAGREES'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
