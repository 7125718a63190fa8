"""Snapshot diff — classify row-level drift between two versions of a
table (extension surface, SURVEY.md §7.5; the reference's closest
behavior is the SCD2 expire-vs-insert split, ref
``03_load_into_fact_and_dim_tables/A3_load_dim_emp.sql:42-62``, which is
exactly a one-sided snapshot diff applied to a dimension).

The operator a warehouse team runs after every backfill: "what changed
between yesterday's snapshot and today's?" — rows added, rows removed,
rows whose tracked attributes drifted.

Scale design: ONE full-outer equi-join on the key (a single shuffle;
zero if both snapshots are bucketed/partitioned on the key — the normal
layout for snapshot tables), with change classification as row-local
expressions. Nothing is collected; output is typically a tiny fraction
of either input (only non-unchanged rows are emitted), so the join
dominates and scales exactly like any keyed fact join.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.functions import exact as ex


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str],
    include_unchanged: bool = False,
) -> DataFrame:
    """Diff two snapshots on ``keys``.

    Returns one row per key present in either side:
    ``(*keys, change_type, old_<c>/new_<c> for each compare col)`` where
    ``change_type`` ∈ {'added', 'removed', 'changed'} (plus 'unchanged'
    when ``include_unchanged``). Attribute comparison is null-safe
    (``IS DISTINCT FROM`` semantics — NULL→value and value→NULL both
    count as changes, NULL→NULL does not).

    Precondition: ``keys`` must be unique per side (snapshots are keyed
    tables); duplicate keys would make the full-outer join fan out.
    """
    o = old.select(
        *keys,
        F.lit(True).alias("_in_old"),
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
    )
    n = new.select(
        *keys,
        F.lit(True).alias("_in_new"),
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
    )
    j = o.join(n, on=keys, how="full_outer")

    any_drift = reduce(
        lambda a, b: a | b,
        [
            ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
            for c in compare_cols
        ],
        F.lit(False),
    )
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(any_drift, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.withColumn("change_type", change).drop("_in_old", "_in_new")
    if not include_unchanged:
        out = out.filter(F.col("change_type") != "unchanged")
    return out


def partition_digest(
    df: DataFrame,
    key_col: str,
    cols: list[str],
    bucket_size: int = 1000,
) -> DataFrame:
    """Merkle-style range-bucket digest for table reconciliation
    (anti-entropy, Dynamo/Cassandra repair shape): rows hash to a
    60-bit value (first 15 hex nibbles of md5 over all compared
    columns — same int64-safe slice as the KMV sketch hash), buckets
    are key ranges, and each bucket reduces to (n_rows,
    digest = Σ row-hash mod 2^63) — order-insensitive and mergeable
    (mod is homomorphic under addition, so partial digests combine),
    so two replicas compare by exchanging |key-range|/bucket_size
    digest rows instead of the data. A mismatched bucket pinpoints
    WHERE to do the expensive row-level diff (snapshot_diff). One
    map-side-combined pass per replica; digests are exact integers,
    so any engine computes the identical frame. Per-bucket false-match
    probability is ~2^-60 per colliding edit pair — bounded by the
    60-bit row-hash width (15 md5 nibbles), not the 2^63 fold modulus
    (the r7 32-bit slice made two offsetting row edits plausibly
    collide; r8 review, width corrected r9).

    ``key_col`` must be an integral column — range-bucketing a
    non-numeric key would silently collapse every row into one NULL
    bucket, so it raises instead."""
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
    )

    key_type = df.schema[key_col].dataType
    if not isinstance(key_type, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"partition_digest key_col {key_col!r} must be integral, "
            f"got {key_type.simpleString()}; range buckets over a "
            f"non-numeric key would all collapse to the NULL bucket"
        )
    # NULL columns take an explicit sentinel: bare concat_ws SKIPS nulls,
    # so ('x','F',NULL) and ('x',NULL,'F') would collide — a value moved
    # between nullable columns must change the digest (r8 review). The
    # sentinel itself colliding with a literal '<NULL>' string is the
    # documented residual risk of any sentinel scheme.
    fields = ", ".join(f"COALESCE(CAST(`{c}` AS STRING), '<NULL>')" for c in cols)
    row_hash = F.expr(ex.hex_int(f"md5(concat_ws('|', {fields}))", 1, 15))
    # Sum in DECIMAL(38,0) (1000 × 2^60 overflows int64), then fold
    # back to a canonical int64 digest via mod 2^63.
    return (
        df.select(
            (F.col(key_col).cast("bigint") - F.col(key_col).cast("bigint") % bucket_size)
            .alias("bucket_start"),
            row_hash.cast("decimal(38,0)").alias("_h"),
        )
        .groupBy("bucket_start")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.pmod(
                F.sum("_h"),
                F.expr("CAST(9223372036854775808 AS DECIMAL(38,0))"),
            )
            .cast("bigint")
            .alias("digest"),
        )
    )
