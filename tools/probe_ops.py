"""Ad-hoc scale probe: time named registry queries at sf0.1 and at the
bench's synthesized 10× dataset (.scratch/sf1), min of N warm runs each.
With ``--sf10`` a third leg runs at the synthesized 100× dataset
(.scratch/sf10) — two decades of scale in one curve.

Usage:  python tools/probe_ops.py [--iters N] [--sf10] name [name ...]

Prints one line per (query, sf) and a final JSON summary; used to record
the per-wave BASELINE.md scale-probe sections (same method as rounds
5-7: warm-up once, then min of N timed noop-sink materializations).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402  (SparkSession factory + force + synthesize_sf1)


def main() -> int:
    args = sys.argv[1:]
    iters = 3
    if args and args[0] == "--iters":
        iters = int(args[1])
        args = args[2:]
    with_sf10 = False
    if args and args[0] == "--sf10":
        with_sf10 = True
        args = args[1:]
    names = args
    from data_warehousing_assignment_spark.session import get_spark

    spark = get_spark("probe")
    sf01 = bench.SF_DIR
    sf1 = bench.synthesize_sf1(spark)
    legs = [("sf0.1", sf01), ("sf1", sf1)]
    if with_sf10:
        legs.append(("sf10", bench.synthesize_sf10(spark)))
    from data_warehousing_assignment_spark import registry

    qs = registry.all_queries()
    # Same split as bench.run_suite: iterative driver-loop ops do their
    # distributed work EAGERLY at build (timing force(df) alone would
    # measure a no-op), so they rebuild inside the timer with the
    # session memo cleared. Everything else builds ONCE and re-forces
    # the same frame — for lazy queries the build is milliseconds either
    # way, but for build-side-effect queries (the bucketed twins write
    # their layout at build) this times the READ path a production
    # consumer pays, not the one-off amortized write.
    eager = {
        "op-ext-dedup-clusters",
        "op-ext-dedup-survivors",
        "op-ext-dedup-best-survivor",
        "op-ext-bpe-learn",
        # r11: staged verify pins run at build (same as bench.py)
        "op-ext-winnow-neardup",
    }
    out: dict[str, dict[str, float]] = {}
    for name in names:
        fn = qs[name]
        out[name] = {}
        for label, d in legs:
            if name in eager:
                def build():
                    from data_warehousing_assignment_spark import (
                        registry_extensions as rx,
                    )

                    rx.clear_dedup_cluster_cache()
                    return fn(spark, d)
            else:
                df = fn(spark, d)
                build = lambda: df  # noqa: E731 — build-once, force-many
            bench.force(build())  # warm-up: JIT, broadcast, page cache
            best = min(_timed(bench.force, build) for _ in range(iters))
            out[name][label] = round(best, 3)
            print(f"{name} {label}: {out[name][label]}s", flush=True)
    print(json.dumps(out))
    return 0


def _timed(force, build) -> float:
    t0 = time.perf_counter()
    force(build())
    return time.perf_counter() - t0


if __name__ == "__main__":
    raise SystemExit(main())
