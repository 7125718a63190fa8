"""Date/time functions (SURVEY.md §2.8 date rows).

Covers the reference's dim_time generation (``generate_series`` date spine +
EXTRACT parts + weekend flag, ref ``01_DW_schema_and_roles_creation/
combined_dw_schema.sql:28-58``; dbt variant ``models/dims/dim_time.sql``).

Semantics decision (SURVEY.md §7.3): Postgres ``EXTRACT(DOW)`` is 0=Sunday,
Spark ``dayofweek`` is 1=Sunday — we translate, not transliterate.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: The reference's sentinel date for unparseable inputs
#: (ref combined_dw_schema.sql:51-58, macros/utils/date_safe.sql:5).
FALLBACK_DATE = "1957-01-01"


def pg_day_of_week(col: Column | str) -> Column:
    """op-fn-extract (DOW): Postgres semantics, 0=Sunday..6=Saturday.
    Spark's dayofweek is 1=Sunday..7=Saturday → subtract 1."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.dayofweek(c) - F.lit(1)).alias("dow")


def with_calendar_parts(df: DataFrame, date_col: str) -> DataFrame:
    """op-fn-extract: EXTRACT(DAY/MONTH/QUARTER/YEAR/DOW) + is_weekend
    (ref combined_dw_schema.sql:42-46)."""
    c = F.col(date_col)
    dow = F.dayofweek(c) - F.lit(1)  # Postgres DOW
    return (
        df.withColumn("day", F.dayofmonth(c))
        .withColumn("month", F.month(c))
        .withColumn("quarter", F.quarter(c))
        .withColumn("year", F.year(c))
        .withColumn("is_weekend", dow.isin(0, 6))
    )


def date_spine(
    spark: SparkSession,
    start: str = "2020-01-01",
    end: str = "2030-12-31",
    fallback: str | None = FALLBACK_DATE,
) -> DataFrame:
    """op-fn-generate-series + op-union-distinct: the dim_time date spine.

    ``explode(sequence(...))`` is the Spark equivalent of Postgres
    ``generate_series('2020-01-01','2030-12-31','1 day')`` (ref
    combined_dw_schema.sql:47). The fallback date is unioned in with SQL
    UNION (distinct) semantics like the dbt variant (ref dim_time.sql:28-41).

    Scale note: sequence() materializes the array on a single row before
    explode — fine for an 11-year day spine (~4k elements); for
    second-granularity spines switch to ``spark.range`` + date arithmetic,
    which parallelizes the generation itself.
    """
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(F.lit(start)),
                F.to_date(F.lit(end)),
                F.expr("interval 1 day"),
            )
        ).alias("full_date")
    )
    if fallback is not None:
        # a DATE literal, not to_date('...'): it is non-null before
        # constant folding too, so the spine's declared schema is non-null
        # as its data is (a checkpoint keeps the declared schema)
        fb = spark.range(1).select(F.expr(f"DATE'{fallback}'").alias("full_date"))
        # SQL UNION dedups; Spark union() is UNION ALL → add distinct()
        spine = spine.unionByName(fb).distinct()
    return spine


def build_dim_time(
    spark: SparkSession,
    start: str = "2020-01-01",
    end: str = "2030-12-31",
    fallback: str | None = FALLBACK_DATE,
) -> DataFrame:
    """The full dim_time: spine + calendar parts + deterministic surrogate
    key via row_number over full_date (ref dbt ``dim_time.sql:45``).

    The single-partition exchange row_number forces is acceptable only
    because a date dim is tiny by construction (≤ tens of k rows even at
    second-granularity years); fact-sized tables get hash surrogate keys
    instead (see plans/dims.py).
    """
    from pyspark.sql import Window

    spine = date_spine(spark, start, end, fallback)
    return with_calendar_parts(spine, "full_date").withColumn(
        "time_id", F.row_number().over(Window.orderBy("full_date"))
    ).select("time_id", "full_date", "day", "month", "quarter", "year", "is_weekend")


def date_safe_dispatch(col: Column | str) -> Column:
    """op-fn-date-safe: the dbt ``date_safe`` macro's regex dispatch (ref
    ``05_dbt_implementation/.../macros/utils/date_safe.sql:1-7``): pick the
    parse format by the string's *shape* — ``^\\d{4}-\\d{2}-\\d{2}$`` →
    ISO, ``^\\d{2}-\\d{2}-\\d{4}$`` → day-first — anything else gets the
    1957 fallback. Unlike :func:`~...cleaning.parse_date_multi` (ordered
    trial parsing), ambiguous strings resolve by shape, never by which
    format happens to parse first."""
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    return (
        F.when(c.rlike(r"^\d{4}-\d{2}-\d{2}$"), F.try_to_date(c, "yyyy-MM-dd"))
        .when(c.rlike(r"^\d{2}-\d{2}-\d{4}$"), F.try_to_date(c, "dd-MM-yyyy"))
        .otherwise(F.to_date(F.lit(FALLBACK_DATE)))
    )


def fixed_today(today: str | dt.date | None) -> Column:
    """op-fn-current-date with testability: the reference stamps
    CURRENT_DATE into SCD2/snapshot rows (ref A3_load_dim_emp.sql:43,57,95);
    we accept an injected load date so runs are reproducible, defaulting to
    current_date() in production."""
    if today is None:
        return F.current_date()
    return F.to_date(F.lit(str(today)))
