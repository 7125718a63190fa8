"""Incremental fact load with dedup + snapshot fact.

Reference: candidate rows = staging ⋈ dims, insert candidates not already
present via correlated NOT EXISTS over every measure+FK (ref
``03_load_into_fact_and_dim_tables/B3_load_fin_facts.sql:67-126``,
``C3_load_dim_ops.sql:71-122``); the dbt variant adds a watermark filter
``t.full_date > (SELECT max(full_date) FROM this)`` (ref
``05_dbt_implementation/.../models/facts/fact_expenses.sql:39-45``).

Scale design (SURVEY.md §4): the reference re-scans the ENTIRE fact per
batch — O(|fact|) per load. Here the anti-join is preceded by a
partition prune: the existing side is filtered to the batch's own date
window first, so at 100 TB (fact partitioned by date on disk) the
anti-join shuffles only the overlap days, not years of history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.operators.joins import (
    not_exists_all_columns,
    scalar_subquery,
)


def incremental_fact_insert(
    existing: DataFrame,
    batch: DataFrame,
    date_col: str | None = None,
) -> DataFrame:
    """Rows of ``batch`` to append: those with no existing row equal on
    every batch column (the reference's full-row NOT EXISTS).

    When ``date_col`` is given, ``existing`` is pre-pruned to the batch's
    [min, max] date window — the partition-prune wrapper the reference
    lacks. Both bounds come from one 1-row aggregate collect, which
    prunes the fact scan: the one legitimate driver-side value (see
    joins.scalar_subquery). The prune keeps the result exact because the
    date is part of the full-row key (the reference's NOT EXISTS compares
    time_id too, ``B3_load_fin_facts.sql:84-94``): any existing match
    shares the batch row's date, so it lies inside the window.
    """
    if date_col is not None:
        lo, hi = batch.selectExpr(f"min(`{date_col}`)", f"max(`{date_col}`)").first()
        if lo is not None:
            existing = existing.filter(F.col(date_col).between(F.lit(lo), F.lit(hi)))
    return not_exists_all_columns(batch, existing.select(*batch.columns))


def watermark_filter(
    batch: DataFrame, existing: DataFrame, date_col: str
) -> DataFrame:
    """dbt-style incremental watermark (ref ``fact_expenses.sql:39-45``):
    keep only batch rows strictly newer than max(date) already loaded.
    Cheaper than full-row dedup when loads are strictly append-ordered."""
    wm = scalar_subquery(existing, F.max(date_col))
    if wm is None:
        return batch
    return batch.filter(F.col(date_col) > F.lit(wm))


def snapshot_fact(
    dim_current: DataFrame,
    time_dim: DataFrame,
    snapshot_date,
) -> DataFrame:
    """Daily snapshot fact (ref ``A3_load_dim_emp.sql:85-95``): current dim
    rows × the single time row whose ``full_date`` is the snapshot date.
    The 1-row time side broadcasts — the dim never shuffles.

    Note reference quirk Q4: the reference's snapshot has NO dedup guard
    (re-running same-day double-inserts); callers here pair this with
    incremental_fact_insert for idempotency.
    """
    today_row = time_dim.filter(F.col("full_date") == F.lit(snapshot_date))
    return dim_current.crossJoin(F.broadcast(today_row))
