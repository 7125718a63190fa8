"""SCD Type 2 merge as a pure-functional DataFrame transform.

Reference algorithm (``03_load_into_fact_and_dim_tables/A3_load_dim_emp.sql:27-62``):
stamp an md5(concat_ws) row hash on staging, expire current dim rows whose
hash ``IS DISTINCT FROM`` the incoming hash (``valid_to = today,
is_current = false``), then insert new/changed rows (``valid_from = today,
valid_to = NULL, is_current = true``). The dbt variant is the
timestamp-strategy snapshot (``snapshots/scd2_dim_employee.sql:1-31``).

Spark-first design: no MERGE/UPDATE exists without a lakehouse format, so
the merge produces the four disjoint row sets — history, unchanged-open,
expired, inserts — and the caller overwrites the dim with the result.
The open-vs-incoming classification is ONE full-outer equi-join on the
natural key (r14: previously three separate key joins), so at 100 TB the
whole merge is a single co-partitioned shuffle stage (or zero if both
sides are bucketed on the key). Idempotent by construction: re-running
with the same incoming batch finds zero distinct hashes and returns the
input partition-for-partition.

Upgrade path: with Delta/Iceberg present this becomes a single
``MERGE INTO`` with the same hash predicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.functions.cleaning import sql_str

#: Marker substituted for NULL attributes inside the row hash so that
#: (NULL, 'x') and ('x', NULL) hash differently (concat_ws would silently
#: drop the NULL and collapse the two).
_NULL_MARK = "\x00null\x00"

SCD2_COLS = ("row_hash", "valid_from", "valid_to", "is_current")


def scd2_row_hash(attrs: list[str]) -> str:
    """md5(concat_ws('::', ...)) change-detection hash over the tracked
    attribute columns (ref ``A3_load_dim_emp.sql:28``; dbt
    ``generate_surrogate_key``, ``stg_hr_employee.sql:10``), made
    null-total by coalescing each attribute to a marker first. SQL text:
    a caller that needs a Column wraps it in ``F.expr``."""
    parts = ", ".join(
        f"coalesce(CAST(`{a}` AS STRING), {sql_str(_NULL_MARK)})" for a in attrs
    )
    return f"md5(concat_ws('::', {parts}))"


def merge_scd2(
    current: DataFrame,
    incoming: DataFrame,
    key: str,
    attrs: list[str],
    as_of: str,
) -> DataFrame:
    """Merge an incoming attribute snapshot into an SCD2 dimension.

    ``current`` carries (key, *attrs, row_hash, valid_from, valid_to,
    is_current); ``incoming`` carries (key, *attrs) — at most one row per
    key. Returns the new full dimension content.

    Plan shape (r14 optimization round): ONE full-outer join of the open
    rows against the incoming batch classifies every key — (changed, new,
    unchanged, absent-from-batch) all fall out of side-presence plus the
    null-safe hash comparison — and each joined row emits its ≤2 output
    rows (the surviving/expired open row and/or the fresh insert) in one
    ``inline`` projection. The previous formulation derived the same
    four row sets with THREE key joins (changed-keys inner, new-keys
    anti, plus semi/anti consumers) and re-evaluated the open-rows and
    incoming subtrees up to three times each — 6 exchanges at scale
    where the single full-outer join needs 2 (guide §2.4). Row-set
    equality with that formulation is pinned in tests/test_scd2.py; at
    most one open row per key (the documented contract) makes the two
    classifications identical.
    """
    c = current.where("is_current").selectExpr(
        f"`{key}`",
        *(f"`{a}` AS `_c_{a}`" for a in attrs),
        "row_hash AS _c_hash",
        "valid_from AS _c_from",
        "valid_to AS _c_to",
        "true AS _c_present",
    )
    i = incoming.selectExpr(
        f"`{key}`",
        *(f"`{a}` AS `_i_{a}`" for a in attrs),
        f"{scd2_row_hash(attrs)} AS _i_hash",
        "true AS _i_present",
    )
    # Null-safe hash inequality = IS DISTINCT FROM (ref A3_load_dim_emp.sql:48,61)
    changed = (
        "(_c_present IS NOT NULL AND _i_present IS NOT NULL"
        " AND NOT _c_hash <=> _i_hash)"
    )
    as_of_d = f"to_date({sql_str(as_of)})"

    def row(side: str, *scd2: str) -> str:
        fields = [f"'{a}', `_{side}_{a}`" for a in attrs]
        fields += [f"'{n}', {v}" for n, v in zip(SCD2_COLS, scd2)]
        return f"named_struct({', '.join(fields)})"

    open_row = row(
        "c", "_c_hash", "_c_from", f"IF({changed}, {as_of_d}, _c_to)", f"NOT {changed}"
    )
    insert_row = row("i", "_i_hash", as_of_d, "CAST(NULL AS DATE)", "true")
    # filter, not array_compact: the array stays containsNull, so inline
    # types every emitted field nullable, as the history rows are
    emitted = c.join(i, on=key, how="full_outer").selectExpr(
        f"`{key}`",
        "inline(filter(array("
        f"IF(_c_present IS NOT NULL, {open_row}, NULL), "
        f"IF({changed} OR (_i_present IS NOT NULL AND _c_present IS NULL), "
        f"{insert_row}, NULL)), s -> s IS NOT NULL))",
    )
    cols = [key, *attrs, *SCD2_COLS]
    return current.where("NOT is_current").select(cols).unionByName(emitted)


def expire_deleted(
    current: DataFrame, deleted_keys: DataFrame, key: str, as_of: str
) -> DataFrame:
    """Close the open SCD2 row of every tombstoned key — the delete half
    of a CDC→SCD2 composition (Debezium op='d' has no analogue in the
    reference's snapshot-driven loads, which only ever see upserts; ref
    ``A3_load_dim_emp.sql:42-62`` expires strictly on attribute change).

    ``deleted_keys`` carries one column ``key``. A tombstoned key's open
    row gets ``valid_to = as_of, is_current = false``; history rows and
    untouched keys pass through bit-identical. A later re-insert of the
    key (via :func:`merge_scd2`) starts a fresh version — the validity
    gap between the closure and the re-insert is the real deletion
    window, which is why the contiguity invariant only applies to
    never-deleted keys.

    One equi-join on the natural key against the (typically tiny)
    tombstone set — same single-shuffle shape as the merge itself.
    """
    marks = (
        deleted_keys.select(key).distinct().withColumn("_del", F.lit(True))
    )
    hit = F.col("_del").isNotNull() & F.col("is_current")
    return (
        current.join(marks, on=key, how="left")
        .withColumn(
            "valid_to",
            F.when(hit, F.to_date(F.lit(as_of))).otherwise(F.col("valid_to")),
        )
        .withColumn(
            "is_current",
            F.when(hit, F.lit(False)).otherwise(F.col("is_current")),
        )
        .drop("_del")
    )


def assert_scd2_invariants(dim: DataFrame, key: str) -> dict[str, int]:
    """Sanity counters for tests: keys with more than one current row,
    rows with valid_from > valid_to, and broken chains. Returns counts
    (0 = healthy), all from one aggregate over one window pass.

    Contiguity: within a key's history ordered by valid_from, every
    non-last version must close exactly where the next one opens
    (valid_to = next valid_from, never NULL mid-chain) — the cross-batch
    shape of the reference's expire-then-insert
    (A3_load_dim_emp.sql:42-62). A key's current rows are counted on its
    first version, so each key counts once."""
    k = f"`{key}`"
    w = f"PARTITION BY {k} ORDER BY valid_from"
    row = dim.selectExpr(
        "is_current", "valid_from", "valid_to",
        f"row_number() OVER ({w}) AS _version",
        f"lead(valid_from) OVER ({w}) AS _next_from",
        f"count_if(is_current) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND UNBOUNDED FOLLOWING) AS _current_rows",
    ).selectExpr(
        "count_if(_version = 1 AND _current_rows > 1) AS multi_current_keys",
        "count_if(valid_to IS NOT NULL AND valid_from > valid_to) AS bad_valid_ranges",
        "count_if(_next_from IS NOT NULL"
        " AND (valid_to IS NULL OR valid_to != _next_from)) AS broken_chains",
    ).first()
    return row.asDict()
