"""Capture .explain("formatted") for named queries into plans/r14/.

Usage: python tools/opt_plans.py <suffix> [name ...]
  suffix = "before" | "after" (file name tail)

Writes plans/r14/<name>_<suffix>.txt for each query (headline+tpch
default set when no names given). Plan capture is driver-side only —
no job runs for lazy queries; eager-build ops (dedup-clusters family)
do run their build jobs, so keep them out of the default set.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DEFAULT = [
    # headline suite (bench.py HEADLINE)
    "op-join-inner-star",
    "op-pipe-kpi-gross-monthly",
    "op-pipe-scd2",
    "op-pipe-fact-incr",
    "op-pipe-impute",
    "op-agg-count-distinct",
    "op-join-update",
    "op-ext-dedup-exact",
    "op-ext-minhash-lsh",
    "op-ext-simhash",
    "op-ext-ann-bruteforce",
    "op-ext-stream-session",
    "op-ext-asof-join",
    "op-ext-salted-join",
    # tpch suite (bench.py TPCH_HEADLINE)
    "op-ext-tpch-q1",
    "op-ext-tpch-q7",
    "op-ext-tpch-q9",
    "op-ext-tpch-q18",
    "op-ext-tpch-q21",
]


def main() -> int:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod
    from data_warehousing_assignment_spark.session import get_spark

    spark = get_spark("opt-plans")
    qs = entrymod.queries()
    outdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", "r14")
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        if name not in qs:
            print(f"skip {name}: not registered", file=sys.stderr)
            continue
        try:
            df = qs[name](spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:
            print(f"ERR {name}: {exc!r}", file=sys.stderr)
            continue
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
