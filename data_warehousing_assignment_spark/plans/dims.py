"""Conformed-dimension upsert + surrogate keys.

Reference: insert-only-unseen-members anti-join upsert (ref
``03_load_into_fact_and_dim_tables/A3_load_dim_emp.sql:14-19``,
``C3_load_dim_ops.sql:14-34``) with SERIAL surrogate ids.

Spark has no SERIAL: new members get ``max(existing_id) + row_number()``
ordered by the natural key — deterministic and gap-free, but the
unpartitioned window is a single-partition exchange. Correct choice ONLY
for dim-sized inputs (the distinct-members set, thousands of rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.functions.cleaning import (
    normalize_upper_trim,
)


def upsert_dim(
    existing: DataFrame,
    batch_members: DataFrame,
    member_col: str,
    id_col: str,
    normalize: bool = True,
) -> DataFrame:
    """Insert only unseen members, preserving existing ids (ref
    ``A3_load_dim_emp.sql:14-19``: ``INSERT ... WHERE name NOT IN
    (SELECT name FROM dim)``, case/trim-normalized).

    ``existing``: (id_col, member_col); ``batch_members``: (member_col).
    Returns the new full dim content. The anti-join broadcasts the
    existing member list when dim-sized; new-member numbering continues
    from max(existing_id).
    """
    norm = (lambda c: F.expr(normalize_upper_trim(c))) if normalize else F.col

    batch_distinct = (
        batch_members.select(F.trim(F.col(member_col)).alias(member_col))
        .filter(F.col(member_col).isNotNull())
        .distinct()
    )
    new_members = batch_distinct.alias("b").join(
        existing.alias("e"),
        on=norm(f"b.{member_col}").eqNullSafe(norm(f"e.{member_col}")),
        how="left_anti",
    )

    # max() over a dim is a tiny agg; cross-join the 1-row max to number
    # new members after it (broadcast, no shuffle of the member set).
    max_id = existing.agg(
        F.coalesce(F.max(id_col), F.lit(0)).alias("_max_id")
    )
    numbered = (
        new_members.crossJoin(F.broadcast(max_id))
        .withColumn(
            id_col,
            (
                F.col("_max_id")
                + F.row_number().over(Window.orderBy(member_col))
            ).cast(existing.schema[id_col].dataType),
        )
        .select(id_col, member_col)
    )
    return existing.select(id_col, member_col).unionByName(numbered)
