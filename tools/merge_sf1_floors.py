"""Merge N ``bench.py --sf1`` reports into bench_floors.json["sf1"].

Floors = per-query MIN over the clean runs (same methodology as the
r8 headline table: the floor is the best the reference machine has
actually done, and the gate fails only at allowed_ratio × floor AND
2 × the floor-table share, with the canary-pair tier on top).

Usage:
    python bench.py --sf1 > /tmp/sf1_run1.json   (repeat N times)
    python tools/merge_sf1_floors.py /tmp/sf1_run*.json
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FLOORS = os.path.join(ROOT, "bench_floors.json")


def main() -> int:
    runs = []
    for p in sys.argv[1:]:
        with open(p) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    runs.append(json.loads(line))
                    break
    if len(runs) < 2:
        print("need >= 2 run reports")
        return 1
    names = set(runs[0]["queries"])
    for r in runs:
        assert set(r["queries"]) == names, "suites differ between runs"
    floors = {
        n: round(min(r["queries"][n] for r in runs), 3) for n in sorted(names)
    }
    suite_min = min(r["value"] for r in runs)
    with open(FLOORS) as fh:
        spec = json.load(fh)
    spec["sf1"] = {
        "comment": (
            "10x-scale floor section (r10 verdict #9): floors measured AT "
            f"the synthesized sf1 over {len(runs)} clean runs (min), same "
            "three-tier grading as the headline table. Suite ceiling = "
            "3x the best observed suite (10x data wobbles more than sf0.1 "
            "- the headline table's 2x host-noise measurements scale up)."
        ),
        "measured_rounds": [f"r11 ({len(runs)} clean runs merged)"],
        "allowed_ratio": 2.6,
        "share_ratio": 2.0,
        "canary": "op-join-inner-star",
        "canary_ratio": 1.8,
        "suite_ceiling_sec": round(3.0 * suite_min, 1),
        "floors": floors,
    }
    with open(FLOORS, "w") as fh:
        json.dump(spec, fh, indent=1)
    print(f"wrote sf1 section: {len(floors)} floors, "
          f"suite min {suite_min:.2f}s, ceiling {3.0 * suite_min:.1f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
