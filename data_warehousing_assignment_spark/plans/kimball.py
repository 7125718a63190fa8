"""Kimball dimensional-modeling operators beyond the reference's SCD2:
SCD Type 1 (overwrite), SCD Type 3 (previous-value column),
accumulating-snapshot facts, junk dimensions, bridge-table allocation,
and a generic MERGE INTO (the Delta/Iceberg upsert statement the
reference's UPDATE+INSERT pair approximates,
ref ``03_load_into_fact_and_dim_tables/A3_load_dim_emp.sql:42-62``).

Everything is a single-shuffle join/aggregate plan: SCD1/SCD3/MERGE are
one full-outer join on the business key, the accumulating snapshot is
one groupBy over the fact, junk-dim numbering runs on the post-distinct
combination frame (low-cardinality by construction), and bridge
allocation is exact integer-cents largest-remainder with one
order-partitioned ranking window. No driver-side loops, no collects.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def overwrite_dim(
    current: DataFrame,
    incoming: DataFrame,
    key: str,
    attrs: Sequence[str],
) -> DataFrame:
    """SCD Type 1: incoming attributes overwrite matched rows, new keys
    insert, unmatched current rows persist — no history kept (Kimball
    ch. 5; the reference's pandas ``to_sql(if_exists='replace')`` is the
    degenerate whole-table version, ref ``A2_hr_etl.py:96``).

    One full-outer shuffle join on the business key; at 100 TB the dim
    is orders of magnitude smaller than facts, and both sides hash-join
    on the same key so AQE can pick broadcast when the batch is small.
    Emits ``change_type`` ∈ {inserted, updated, unchanged} so audits
    (ref A3_load_dim_emp.sql:65-69) need no second pass.
    """
    inc = incoming.select(
        F.col(key).alias("_ik"), *[F.col(a).alias(f"_i_{a}") for a in attrs]
    )
    cur = current.select(key, *attrs)
    joined = cur.join(inc, cur[key] == inc["_ik"], "full_outer")
    same = _all([F.col(f"_i_{a}").eqNullSafe(F.col(a)) for a in attrs])
    change = (
        F.when(F.col(key).isNull(), F.lit("inserted"))
        .when(F.col("_ik").isNull(), F.lit("kept"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("updated"))
    )
    out_key = F.coalesce(F.col(key), F.col("_ik")).alias(key)
    out_attrs = [
        F.when(F.col("_ik").isNotNull(), F.col(f"_i_{a}"))
        .otherwise(F.col(a))
        .alias(a)
        for a in attrs
    ]
    return joined.select(out_key, *out_attrs, change.alias("change_type"))


def _all(cols: Sequence[Column]) -> Column:
    acc = cols[0]
    for c in cols[1:]:
        acc = acc & c
    return acc


def scd3_merge(
    current: DataFrame,
    incoming: DataFrame,
    key: str,
    attr: str,
    prev_attr: str,
    effective: str,
) -> DataFrame:
    """SCD Type 3: on change, the old value slides into ``prev_attr`` and
    the change date stamps ``attr_changed_on`` — bounded history in-row,
    the classic "alternate reality" column (Kimball ch. 5).

    ``current`` carries (key, attr, prev_attr, attr_changed_on);
    ``incoming`` carries (key, attr). One full-outer join; new keys
    insert with NULL previous value.
    """
    inc = incoming.select(
        F.col(key).alias("_ik"), F.col(attr).alias("_i_attr")
    )
    joined = current.join(inc, current[key] == inc["_ik"], "full_outer")
    changed = (
        F.col("_ik").isNotNull()
        & F.col(key).isNotNull()
        & ~F.col("_i_attr").eqNullSafe(F.col(attr))
    )
    return joined.select(
        F.coalesce(F.col(key), F.col("_ik")).alias(key),
        F.when(F.col("_ik").isNotNull(), F.col("_i_attr"))
        .otherwise(F.col(attr))
        .alias(attr),
        F.when(changed, F.col(attr))
        .otherwise(
            F.when(F.col(key).isNotNull(), F.col(prev_attr)).otherwise(
                F.lit(None)
            )
        )
        .alias(prev_attr),
        F.when(changed, F.lit(effective))
        .otherwise(
            F.when(F.col(key).isNotNull(), F.col("attr_changed_on")).otherwise(
                F.lit(None)
            )
        )
        .cast("string")
        .alias("attr_changed_on"),
    )


def junk_dimension(
    df: DataFrame, flags: Sequence[str]
) -> DataFrame:
    """Junk dimension: the distinct combinations of low-cardinality
    flag/indicator columns get a surrogate key (Kimball ch. 6 — collapses
    N degenerate flag columns on the fact into one FK).

    Surrogate = dense row numbering over the POST-DISTINCT combination
    frame, which is bounded by the product of flag cardinalities
    (here ≈ 10² rows), never the fact; the single-partition ordering
    window is sanctioned for exactly that reason. ``n_rows`` keeps the
    occupancy so rare combos are auditable.
    """
    combos = df.groupBy(*flags).agg(F.count(F.lit(1)).alias("n_rows"))
    # asc_nulls_last matches ANSI/DuckDB default ASC ordering (Spark
    # alone defaults to nulls-first) — surrogate keys must not shift
    # between engines the day a flag column turns nullable
    w = Window.orderBy(*[F.col(c).asc_nulls_last() for c in flags])
    return combos.withColumn(
        "junk_key", F.row_number().over(w).cast("bigint")
    ).select("junk_key", *flags, "n_rows")


def bridge_allocate(
    fact: DataFrame,
    group: str,
    line: str,
    weight_cents: str,
    total_cents: str,
) -> DataFrame:
    """Bridge-table allocation: split a group-level amount across its
    members proportional to integer-cent weights, largest-remainder so
    the allocations sum EXACTLY to the total (Kimball ch. 6 allocation
    bridges; float pro-rata never reconciles, this always does).

    base_i = total * w_i // W; the remainder (total − Σ base) cents go
    +1 each to the rows with the largest truncation remainder
    (total * w_i mod W), tie-broken by line number. All integer
    arithmetic → bit-identical in any engine. One groupBy shuffle for W
    plus one group-partitioned ranking window; both keyed on ``group``
    so the exchange is reused.
    """
    # total*weight ≤ ~2.5e15 ≪ int64 max, so the product stays integral;
    # `div`/`%` on bigints are exact in Spark and `//`/`%` in DuckDB —
    # never F.floor(a/b), whose double division drops low bits past 2^53.
    w_tot = Window.partitionBy(group)
    base = F.col(total_cents) * F.col(weight_cents)
    with_parts = fact.withColumn(
        "_W", F.sum(weight_cents).over(w_tot)
    ).select(
        group,
        line,
        weight_cents,
        total_cents,
        F.expr(
            f"({total_cents} * {weight_cents}) div _W"
        ).cast("bigint").alias("_floor"),
        (base % F.col("_W")).cast("bigint").alias("_rem"),
    )
    w_grp = Window.partitionBy(group)
    w_rank = Window.partitionBy(group).orderBy(
        F.col("_rem").desc(), F.col(line).asc()
    )
    return (
        with_parts.withColumn(
            "_short",
            (F.col(total_cents) - F.sum("_floor").over(w_grp)).cast("bigint"),
        )
        .withColumn("_rk", F.row_number().over(w_rank))
        .select(
            group,
            line,
            (
                F.col("_floor")
                + F.when(F.col("_rk") <= F.col("_short"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("alloc_cents"),
        )
    )


def merge_into(
    target: DataFrame,
    source: DataFrame,
    key: str,
    attrs: Sequence[str],
) -> DataFrame:
    """Generic MERGE INTO (ANSI / Delta ``MERGE`` semantics), expressed
    as ONE full-outer join — the set-based re-expression of the
    reference's UPDATE-then-INSERT pair (ref A3_load_dim_emp.sql:42-62)
    and the upgrade path documented in plans/scd2.py for Delta/Iceberg.
    The source's ``op`` column says what each change is:

    * WHEN MATCHED AND s.op = 'D'  → DELETE
    * WHEN MATCHED (op = 'U'/'I')  → UPDATE SET attrs = source attrs
    * WHEN NOT MATCHED AND op <> 'D' → INSERT
    * target rows with no source row → kept unchanged

    Source must be key-unique (CDC-compacted — compose with
    op-ext-cdc-apply for raw change streams). Single shuffle on the
    key; at scale Delta/Iceberg add file-pruning on top of exactly this
    join, so the plan shape is the portable core.
    """
    src = source.selectExpr(
        f"`{key}` AS _sk", "op AS _sop", *(f"`{a}` AS `_s_{a}`" for a in attrs)
    )
    tgt = target.select(key, *attrs)
    return (
        tgt.join(src, F.expr(f"`{key}` = _sk"), "full_outer")
        .where(
            "NOT (_sk IS NOT NULL AND _sop = 'D')"
            f" AND NOT (`{key}` IS NULL AND _sop = 'D')"
        )
        .selectExpr(
            f"coalesce(`{key}`, _sk) AS `{key}`",
            *(
                f"CASE WHEN _sk IS NOT NULL THEN `_s_{a}` ELSE `{a}` END AS `{a}`"
                for a in attrs
            ),
        )
    )
