"""Summarise one directory of run records, or compare two.

    python3 perfbench/compare.py BASE_DIR [NEW_DIR]

For every workload and end-to-end metric: each side's median, first and
third quartile (``statistics.quantiles(values, n=4)``), the spread
(quartile distance over median) and the new/base ratio of medians, flagged
when it is worse than the metric's bound in ``BENCHMARK.json``. Below that,
from the traced records, each per-layer count of each side (median over
runs) and its delta, so a wall-time change can be read next to the counts
that did or did not move with it, and every registry key whose jobs, stages
or tasks per op differ between runs or sides.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
COUNT_UNITS = ("count", "bytes")


def load(results_dir: str) -> tuple[dict, dict]:
    """{(workload, trace): {metric: [values over runs]}}, and from the
    traced records {workload: {key: {(jobs, stages, tasks) seen}}}"""
    out: dict = {}
    per_key: dict = {}
    for path in sorted(glob.glob(os.path.join(results_dir, "*.json"))):
        with open(path) as fh:
            rec = json.load(fh)
        metrics = out.setdefault((rec["workload"], rec["trace"]), {})
        for name, m in rec["result"]["metrics"].items():
            metrics.setdefault(name, []).append(m["value"])
        keys = per_key.setdefault(rec["workload"], {})
        for key, ops in rec.get("op_counts", {}).items():
            keys.setdefault(key, set()).update(
                (o["jobs"], o["stages"], o["tasks"]) for o in ops)
    return out, per_key


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    sides, key_counts = zip(*(load(d) for d in argv))
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for w in (w["name"] for w in bench["workloads"]):
        print(f"== {w}")
        for name, spec in e2e.items():
            cells = []
            medians = []
            for side in sides:
                vals = side.get((w, 0), {}).get(name)
                if not vals:
                    cells.append("         (no runs)")
                    medians.append(None)
                    continue
                q1, med, q3 = quartiles(vals)
                medians.append(med)
                spread = (q3 - q1) / med if med else 0.0
                cells.append(f"n={len(vals):2d} med {med:10.4f} "
                             f"q [{q1:.4f}, {q3:.4f}] spread {spread:6.1%}")
            line = f"  {name:12s} " + " | ".join(cells)
            if len(sides) == 2 and None not in medians and medians[0]:
                ratio = medians[1] / medians[0]
                worse = ratio - 1 if spec["better"] == "lower" else 1 - ratio
                flag = "  WORSE THAN BOUND" if worse > spec["bound"] else ""
                line += f" | new/base {ratio:.3f}{flag}"
            print(line)
        traced = [side.get((w, 1), {}) for side in sides]
        if not any(traced):
            continue
        print("  per-layer counts (traced runs, median)")
        for name, unit in units.items():
            if unit not in COUNT_UNITS:
                continue
            meds = [statistics.median(t[name]) if t.get(name) else None
                    for t in traced]
            if not any(meds):
                continue
            cells = " | ".join("-" if m is None else f"{m:g}" for m in meds)
            delta = ""
            if len(meds) == 2 and None not in meds:
                delta = f"  delta {meds[1] - meds[0]:+g}"
            print(f"    {name:40s} {cells}{delta}")
        counts = [kc.get(w, {}) for kc in key_counts]
        keys = sorted(set().union(*counts))
        differ = [k for k in keys
                  if len(set().union(*(c.get(k, set()) for c in counts))) > 1]
        print(f"  per-key (jobs, stages, tasks) per op: {len(keys)} keys, "
              f"{len(differ)} differ between runs or sides")
        for k in differ:
            print(f"    {k}: " + " | ".join(
                str(sorted(c.get(k, set()))) for c in counts))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
