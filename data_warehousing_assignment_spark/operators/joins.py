"""Join operators beyond plain equi-joins (SURVEY.md §2.3).

The reference expresses anti-joins three ways — ``NOT IN`` subqueries (ref
``03_load_into_fact_and_dim_tables/A3_load_dim_emp.sql:17-19``), correlated
``NOT EXISTS`` (ref ``B3_load_fin_facts.sql:84-94``), and LEFT JOIN ... IS
NULL (ref ``B3_load_fin_facts.sql:42-45``). All three are the same logical
operator; Spark's ``left_anti`` join is the single physical primitive, and
Catalyst/AQE picks broadcast vs shuffled-hash per side size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.functions.cleaning import normalize_upper_trim


def anti_join(left: DataFrame, right: DataFrame, on: list[str] | Column) -> DataFrame:
    """op-pred-not-in / op-pred-left-null / op-join-anti: rows of `left`
    with no match in `right`.

    NULL-key note: SQL ``NOT IN`` returns no rows if the subquery yields a
    NULL; ``left_anti`` keeps NULL-keyed left rows (they match nothing).
    The reference's natural keys are NOT NULL by the time these run, so the
    semantics coincide; callers with nullable keys should filter first.
    """
    return left.join(right, on=on, how="left_anti")


def not_exists_all_columns(batch: DataFrame, existing: DataFrame) -> DataFrame:
    """op-pred-not-exists: correlated NOT EXISTS on every column — the
    reference's incremental fact dedup (ref ``B3_load_fin_facts.sql:84-94``,
    ``C3_load_dim_ops.sql:85-92``): keep batch rows not already present.

    Null-safe on every column (the reference's NOT EXISTS arms use ``=``,
    but its fact columns are non-null post-cleaning; ``<=>`` makes the
    operator total). At 100 TB, pre-filter `existing` to the batch's date
    partitions before calling (see plans/facts.py) — the anti-join then
    shuffles only the overlap window, not the whole fact.
    """
    # alias-qualified so batch/existing may derive from the same source
    # (self-join) without ambiguous-column resolution
    cond = " AND ".join(f"__b.`{c}` <=> __e.`{c}`" for c in batch.columns)
    return batch.alias("__b").join(existing.alias("__e"), F.expr(cond), "left_anti")


def case_insensitive_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """op-join-caseinsensitive: inner equi-join on ``UPPER(TRIM(x))`` normalized
    keys (ref ``A3_load_dim_emp.sql:39``, ``fact_downtime.sql:31-33``) —
    ``cleaning.normalize_upper_trim``, the key ``plans/dims.upsert_dim``
    keeps its members unique on.

    Implemented as an expression-keyed equi-join — Catalyst still plans it
    as a hash join on the normalized expression (it is NOT a theta join),
    so broadcast/shuffled-hash strategies apply normally. The sides are
    alias-qualified, so they may derive from the same source.
    """
    cond = (
        f"{normalize_upper_trim(f'__l.`{left_key}`')} = "
        f"{normalize_upper_trim(f'__r.`{right_key}`')}"
    )
    return left.alias("__l").join(right.alias("__r"), F.expr(cond), "inner")


def scalar_subquery(df: DataFrame, agg: Column):
    """op-agg-scalar-max: evaluate a scalar aggregate (e.g. an incremental
    watermark ``max(full_date)``, ref dbt ``fact_expenses.sql:39-45``) to a
    driver-side Python value for use in a subsequent filter.

    This is a deliberate, tiny collect (1 row × 1 col) — the one place a
    driver-side value is correct, because the watermark must be known to
    prune partitions *before* the scan.
    """
    row = df.agg(agg.alias("v")).first()
    return row["v"] if row is not None else None
