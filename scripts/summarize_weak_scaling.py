"""Aggregate the round-5 weak-scaling runs per the pre-registered rule.

Pre-registered (BASELINE.md, weak-scaling run 2) BEFORE run 2
executed: the reported weak-scaling summary is the per-metric median
over both runs' clean-pair medians, recorded regardless of outcome.
Weak scaling is complementary evidence (the judged strong-scaling rule
is closed by scripts/summarize_scaling_runs.py); there is no pass/fail
threshold here — this prints the aggregate a reader should cite.

Usage: python scripts/summarize_weak_scaling.py
"""
from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS = sorted(glob.glob(os.path.join(HERE, "..", "bench_runs", "weak_scaling_r05*.json")))


def main() -> int:
    rows = []
    for path in RUNS:
        with open(path) as f:
            d = json.loads(f.read().strip().splitlines()[-1])
        rows.append(
            {
                "file": os.path.relpath(path, os.path.join(HERE, "..")),
                "paired": d["weak_scaling_efficiency"],
                "level_median": d["weak_scaling_efficiency_level_median"],
                "clean_pairs": d.get("clean_pair_efficiencies", []),
                "small_per_core": d["small"]["median_per_core_urls_per_sec"],
                "large_per_core": d["large"]["median_per_core_urls_per_sec"],
            }
        )
        r = rows[-1]
        print(
            f"{r['file']}: paired={r['paired']:.3f} level_median={r['level_median']:.3f} "
            f"clean_pairs={r['clean_pairs']} per_core {r['small_per_core']:.0f} -> {r['large_per_core']:.0f}"
        )
    if not rows:
        print("no weak-scaling runs found", file=sys.stderr)
        return 1
    paired = statistics.median(r["paired"] for r in rows)
    level = statistics.median(r["level_median"] for r in rows)
    print(
        f"MEDIANS over {len(rows)} runs: paired={paired:.3f} level_median={level:.3f} "
        "(complementary evidence; no judged threshold)"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
