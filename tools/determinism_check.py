"""Parallelism-independence gate: every registered query must produce
the IDENTICAL canonical result under different parallelism configs.

Why this exists: a query can be oracle-green yet still parallelism-
dependent — float aggregation order follows the partition layout, so a
`avg(double)`-shaped expression can drift in the last ulp when the
shuffle width changes, then flip a round()/threshold and change visible
output between a 32-core laptop and a 1000-executor cluster. Round 8
found exactly this shape in the IVF centroid update (round(avg(v)) over
a DOUBLE sum — fixed to exact integer arithmetic); this tool sweeps the
whole registry for survivors.

Method: run each query twice in one session — once at
spark.sql.shuffle.partitions=32 (the repo default) and once at 7 (a
coprime width that reshapes every exchange) — canonicalize rows the
same way tools/check_local.py does, and compare. AQE stays ON both
times (production config); the initial widths still differ enough to
permute every partial-aggregation order.

A second axis, ``--aqe``, compares AQE ON vs OFF at fixed width —
adaptive re-planning (coalesced partitions, demoted broadcasts, skew
splits) must also never change answers.

op-fn-uuid returns a structural summary (counts) that IS run-to-run
deterministic even though the underlying uuid values are not, so no
query is excluded.

Usage: python tools/determinism_check.py [--aqe] [sf_dir] [only ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def canon(df) -> tuple:
    from tools.check_local import canon_df

    return canon_df(df.toPandas())


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--aqe"]
    aqe_axis = "--aqe" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as e
    from data_warehousing_assignment_spark.session import get_spark

    spark = get_spark("determinism-check")
    qs = e.queries()

    n_ok = n_fail = 0
    failures: list[str] = []
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        key, vals = (
            ("spark.sql.adaptive.enabled", ("true", "false"))
            if aqe_axis
            else ("spark.sql.shuffle.partitions", ("32", "7"))
        )
        try:
            spark.conf.set(key, vals[0])
            a = canon(fn(spark, sf_dir))
            spark.conf.set(key, vals[1])
            b = canon(fn(spark, sf_dir))
        except Exception:
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: raised\n{traceback.format_exc()}")
            continue
        finally:
            spark.conf.set(key, vals[0])
            spark.conf.set("spark.sql.shuffle.partitions", "32")
        if a != b:
            n_fail += 1
            failures.append(name)
            diff = [(x, y) for x, y in zip(a[1], b[1]) if x != y][:3]
            print(f"FAIL  {name}: differs across {key}; first: {diff}")
        else:
            n_ok += 1
            print(f"ok    {name}: {len(a[1])} rows  [{time.time()-t0:.1f}s]")

    print(
        f"\n== {n_ok} parallelism-independent, "
        f"{n_fail} FAIL" + (f": {failures}" if failures else "")
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
