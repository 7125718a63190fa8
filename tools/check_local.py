"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf parquet tables, then compares row count, sorted
column names, and order-insensitive values — stricter than any plausible
driver hash (exact equality after canonicalization), so green here should
mean green in CORRECTNESS_r{N}.json.

Usage:  python tools/check_local.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def canon_cell(v):
    """Canonicalize one cell for cross-engine comparison."""
    import datetime as dt
    from decimal import Decimal

    import numpy as np

    if v is None:
        return "<NULL>"
    if isinstance(v, float) and math.isnan(v):
        return "<NULL>"
    if isinstance(v, (np.floating,)):
        v = float(v)
        if math.isnan(v):
            return "<NULL>"
        return ("f", repr(v))
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, (np.integer,)):
        return ("i", int(v))
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, Decimal):
        return ("f", repr(float(v)))
    if isinstance(v, (dt.datetime,)):
        return ("ts", v.isoformat())
    if isinstance(v, dt.date):
        return ("d", v.isoformat())
    if isinstance(v, (list, np.ndarray)):
        return ("l", tuple(canon_cell(x) for x in v))
    return ("s", str(v))


def canon_df(pdf):
    cols = sorted(pdf.columns)
    rows = [
        tuple(canon_cell(row[c]) for c in cols)
        for _, row in pdf[cols].iterrows()
    ]
    rows.sort(key=repr)
    return cols, rows


# Row counts above this use the DuckDB multiset compare instead of the
# per-cell Python canonicalizer (iterrows is ~20k rows/s; a 6M-row
# op-derive output at the synthesized sf1 would take >10 min per SIDE).
BIG_ROWS = 100_000


def _canon_type(duck_type: str) -> str:
    t = duck_type.upper()
    if t.startswith(("DECIMAL", "DOUBLE", "FLOAT", "REAL")):
        return "DOUBLE"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "BIGINT"
    if t == "BOOLEAN":
        return "BOOLEAN"
    if t == "DATE":
        return "DATE"
    if t.startswith("TIMESTAMP"):
        return "TIMESTAMP"
    if t.endswith("[]") or t.startswith(("LIST", "STRUCT", "MAP")):
        return "JSON"
    return "VARCHAR"


def _multiset_diff(con, rel_s: str, rel_o: str, cols):
    """Canonicalized EXCEPT ALL both ways between two DuckDB relations.

    canon_df semantics: NaN folds to NULL, floats compare bitwise-exact
    after widening to DOUBLE, ints widen to BIGINT, mismatched types
    fall back to VARCHAR, list/struct cells go through to_json. Returns
    (ok, message)."""
    types: dict[str, str] = {}
    for rel in (rel_s, rel_o):
        for cname, ctype, *_ in con.execute(f"DESCRIBE {rel}").fetchall():
            t = _canon_type(ctype)
            prev = types.get(cname)
            # widen: if either side is DOUBLE the compare is DOUBLE
            if prev is None or prev == t:
                types[cname] = t
            elif {prev, t} == {"BIGINT", "DOUBLE"}:
                types[cname] = "DOUBLE"
            else:
                types[cname] = "VARCHAR"
    exprs = []
    for c in cols:
        t = types[c]
        q = f'"{c}"'
        if t == "DOUBLE":
            exprs.append(
                f"CASE WHEN isnan(CAST({q} AS DOUBLE)) THEN NULL "
                f"ELSE CAST({q} AS DOUBLE) END AS {q}"
            )
        elif t == "JSON":
            exprs.append(f"to_json({q}) AS {q}")
        else:
            exprs.append(f"CAST({q} AS {t}) AS {q}")
    sel = ", ".join(exprs)
    diff = con.execute(
        f"(SELECT {sel} FROM {rel_s} EXCEPT ALL SELECT {sel} FROM {rel_o})"
        f" UNION ALL "
        f"(SELECT {sel} FROM {rel_o} EXCEPT ALL SELECT {sel} FROM {rel_s})"
        f" LIMIT 3"
    ).fetchall()
    if diff:
        return False, f"values differ (multiset); sample: {diff}"
    return True, ""


def compare_big(con, spdf, opdf):
    """Exact order-insensitive multiset compare of two big COLLECTED
    frames in DuckDB (see _multiset_diff for semantics)."""
    cols = sorted(spdf.columns)
    con.register("__cmp_s", spdf[cols])
    con.register("__cmp_o", opdf[cols])
    try:
        return _multiset_diff(con, "__cmp_s", "__cmp_o", cols)
    finally:
        con.unregister("__cmp_s")
        con.unregister("__cmp_o")


def compare_huge(con, sdf, oracle_sql: str):
    """NO-COLLECT compare for results too big for the driver
    (spark.driver.maxResultSize): the Spark side spills to a temp
    parquet directory that DuckDB reads directly, and the whole
    count + schema + multiset check runs inside DuckDB — nothing
    data-sized ever crosses the Python driver. This is also the shape
    a 100 TB verification would take (engine writes, verifier reads).
    Returns (ok, message)."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="cmp_huge_")
    try:
        sdf.write.mode("overwrite").parquet(tmp)
        con.execute(
            "CREATE OR REPLACE TEMP VIEW __cmp_s AS "
            f"SELECT * FROM '{tmp}/*.parquet'"
        )
        con.execute(
            f"CREATE OR REPLACE TEMP VIEW __cmp_o AS {oracle_sql}"
        )
        s_cols = sorted(
            r[0] for r in con.execute("DESCRIBE __cmp_s").fetchall()
        )
        o_cols = sorted(
            r[0] for r in con.execute("DESCRIBE __cmp_o").fetchall()
        )
        if s_cols != o_cols:
            return False, f"columns {s_cols} vs {o_cols}"
        n_s = con.execute("SELECT COUNT(*) FROM __cmp_s").fetchone()[0]
        n_o = con.execute("SELECT COUNT(*) FROM __cmp_o").fetchone()[0]
        if n_s != n_o:
            return False, f"rowcount {n_s} vs {n_o}"
        ok, msg = _multiset_diff(con, "__cmp_s", "__cmp_o", s_cols)
        if ok:
            return True, f"{n_s} rows (duckdb multiset, parquet spill)"
        return ok, msg
    finally:
        con.execute("DROP VIEW IF EXISTS __cmp_s")
        con.execute("DROP VIEW IF EXISTS __cmp_o")
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from data_warehousing_assignment_spark.session import get_spark
    from data_warehousing_assignment_spark.sources import TESTDATA_TABLES

    spark = get_spark("check-local")
    qs = e.queries()
    oracles = e.oracle_sql()

    con = duckdb.connect()
    for tab in TESTDATA_TABLES:
        # driver testdata ships single parquet FILES; the synthesized
        # 10× dataset (bench.synthesize_sf1) writes Spark parquet
        # DIRECTORIES — glob the part files so the same sweep runs on
        # either layout (r8 verdict #6: oracle-sweep the sf1 synth).
        import os

        src = f"{sf_dir}/{tab}.parquet"
        if os.path.isdir(src):
            src = f"{src}/*.parquet"
        con.execute(f"CREATE VIEW {tab} AS SELECT * FROM '{src}'")

    n_pass = n_fail = n_rows_only = 0
    failures: list[str] = []
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = None  # bound only if fn() returned — eager actions inside
        # fn() (e.g. a .first()) can raise BEFORE sdf exists, and the
        # huge-compare fallback must not NameError over it (r10 advice)
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception:
            err = traceback.format_exc()
            if "maxResultSize" in err and name in oracles and sdf is not None:
                # result too big to collect (a data-sized projection at
                # a large SF) — compare via parquet spill entirely
                # inside DuckDB instead of through the driver
                try:
                    ok, msg = compare_huge(con, sdf, oracles[name])
                except Exception:
                    n_fail += 1
                    failures.append(name)
                    print(
                        f"FAIL  {name}: huge-compare raised\n"
                        f"{traceback.format_exc()}"
                    )
                    continue
                if ok:
                    n_pass += 1
                    print(f"ok    {name}: {msg}  [{time.time()-t0:.1f}s]")
                else:
                    n_fail += 1
                    failures.append(name)
                    print(f"FAIL  {name}: {msg}")
                continue
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: spark raised\n{err}")
            continue
        if name not in oracles:
            n_rows_only += 1
            print(f"rows  {name}: {len(spdf)} rows (no oracle)  [{time.time()-t0:.1f}s]")
            continue
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception:
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: duckdb raised\n{traceback.format_exc()}")
            continue
        if sorted(spdf.columns) != sorted(opdf.columns):
            n_fail += 1
            failures.append(name)
            print(
                f"FAIL  {name}: columns {sorted(spdf.columns)}"
                f" vs {sorted(opdf.columns)}"
            )
            continue
        if max(len(spdf), len(opdf)) > BIG_ROWS:
            if len(spdf) != len(opdf):
                n_fail += 1
                failures.append(name)
                print(f"FAIL  {name}: rowcount {len(spdf)} vs {len(opdf)}")
                continue
            ok, msg = compare_big(con, spdf, opdf)
            if not ok:
                n_fail += 1
                failures.append(name)
                print(f"FAIL  {name}: {msg}")
                continue
            n_pass += 1
            print(
                f"ok    {name}: {len(spdf)} rows (duckdb multiset)"
                f"  [{time.time()-t0:.1f}s]"
            )
            continue
        scols, srows = canon_df(spdf)
        ocols, orows = canon_df(opdf)
        if scols != ocols:
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: columns {scols} vs {ocols}")
            continue
        if len(srows) != len(orows):
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: rowcount {len(srows)} vs {len(orows)}")
            continue
        if srows != orows:
            n_fail += 1
            failures.append(name)
            diff = [
                (a, b) for a, b in zip(srows, orows) if a != b
            ][:3]
            print(f"FAIL  {name}: values differ; first diffs: {diff}")
            continue
        n_pass += 1
        print(f"ok    {name}: {len(srows)} rows  [{time.time()-t0:.1f}s]")

    print(
        f"\n== {n_pass} ok, {n_rows_only} rows-only, {n_fail} FAIL"
        + (f": {failures}" if failures else "")
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
