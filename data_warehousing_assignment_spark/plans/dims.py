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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.functions.cleaning import (
    normalize_upper_trim,
)


def upsert_dim(
    existing: DataFrame,
    batch_members: DataFrame,
    member_col: str,
    id_col: str,
) -> DataFrame:
    """Insert only unseen members, preserving existing ids (ref
    ``A3_load_dim_emp.sql:14-19``: ``INSERT ... WHERE name NOT IN
    (SELECT name FROM dim)``, case/trim-normalized).

    ``existing``: (id_col, member_col); ``batch_members``: (member_col).
    Returns the new full dim content. Members are equal when their
    :func:`~..functions.cleaning.normalize_upper_trim` keys are — the key
    the fact loads look members up on — so a batch spelling a member two
    ways inserts one row (its least trimmed spelling), and a lookup
    matches at most one member. The anti-join broadcasts the existing
    member list when dim-sized; new-member numbering continues from
    max(existing_id).
    """
    m, i = f"`{member_col}`", f"`{id_col}`"
    # distinct before the per-key least spelling: Catalyst then folds both
    # into one aggregate over the batch (and drops the batch's own
    # dropDuplicates). array_min(collect_set), not min: a string min plans
    # as a sort aggregate, which AQE runs as one Spark job more.
    new_members = (
        batch_members.selectExpr(f"trim({m}) AS {m}")
        .where(f"{m} IS NOT NULL")
        .distinct()
        .groupBy(F.expr(normalize_upper_trim(m)).alias("_key"))
        .agg(F.expr(f"array_min(collect_set({m})) AS {m}"))
        .alias("b")
        .join(
            existing.alias("e"),
            F.expr(f"b._key <=> {normalize_upper_trim(f'e.{m}')}"),
            "left_anti",
        )
    )
    # max() over a dim is a tiny agg; cross-join the 1-row max to number
    # new members after it (broadcast, no shuffle of the member set). The
    # sum keeps an INT or BIGINT id's type.
    max_id = existing.selectExpr(f"coalesce(max({i}), 0) AS _max_id")
    numbered = new_members.crossJoin(F.broadcast(max_id)).selectExpr(
        f"_max_id + row_number() OVER (ORDER BY {m}) AS {i}", m
    )
    return existing.select(id_col, member_col).unionByName(numbered)
