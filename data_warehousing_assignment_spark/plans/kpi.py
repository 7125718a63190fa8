"""The 8 KPI views (op-pipe-kpi, ref ``04_KPI/KPIs.sql:3-110``),
re-expressed over the driver's testdata star schema:

reference domain            → testdata surrogate
---------------------------   ------------------------------------------
employee / dim_employee     → customer (c_custkey natural key)
department                  → nation (via c_nationkey)
gender                      → c_mktsegment
salary                      → c_acctbal
fact_employee status        → orders.o_orderstatus ('O' active, 'F' resigned)
expenses fact               → orders.o_totalprice / lineitem revenue
expense_type                → o_orderpriority
is_refund                   → l_returnflag = 'R'
downtime fact               → events.value
process                     → events.event_type
department (ops)            → user_id % 5 bucket

Every view is a fact ⋈ broadcast-dims star join + grouped aggregate —
the plan shape Catalyst handles with map-side partial aggregation and
broadcast hash joins, so the fact table is scanned once and never
shuffled for the dim joins (only for the final groupBy).

All builders take already-loaded DataFrames so they are unit-testable
and reusable at any scale factor.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.functions import exact as ex
from data_warehousing_assignment_spark.registry import ROUND2_MEAN_EXPR, dec


def _month_key(col: str = "o_orderdate") -> Column:
    """Integer yyyy·100+MM grouping key (r14, guide §1.2 per-task work):
    the monthly views group on this int — one calendar-field extraction
    and an int hash per row — instead of running a per-row
    DateTimeFormatter and hashing its string; :func:`_month_label` then
    formats the handful of post-agg groups. year·100+month ↔ 'yyyy-MM'
    is a bijection, so the groups are identical, and the label is
    value-identical to date_format for any 1-to-4-digit year (``%04d``);
    every rider op's DuckDB oracle re-attests the output hash-exact."""
    return (F.year(col) * 100 + F.month(col)).alias("_ym")


def _month_label() -> Column:
    """'yyyy-MM' of :func:`_month_key`; a NULL key stays NULL (format_string
    alone prints 'null-null')."""
    return F.expr(
        "IF(_ym IS NULL, NULL, format_string('%04d-%02d', _ym div 100, _ym % 100))"
    ).alias("order_month")


def kpi_headcount(orders: DataFrame) -> DataFrame:
    """Daily headcount: COUNT(DISTINCT employee) of active rows per day
    (ref ``KPIs.sql:3-13``)."""
    return (
        orders.filter(F.col("o_orderstatus") == "O")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"))
        .agg(F.countDistinct("o_custkey").alias("headcount"))
        .orderBy("order_date")
    )


def kpi_resignations(orders: DataFrame) -> DataFrame:
    """Daily resignations: distinct keys in 'Resigned' state per day
    (ref ``KPIs.sql:17-27``)."""
    return (
        orders.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"))
        .agg(F.countDistinct("o_custkey").alias("resignations"))
        .orderBy("order_date")
    )


def kpi_avg_salary_by_gender(customer: DataFrame) -> DataFrame:
    """ROUND(AVG(salary),2) by gender (ref ``KPIs.sql:31-38``). Rounded
    mean computed in exact int64 cents (registry.ROUND2_MEAN_EXPR) —
    engines round doubles near 2-dp ties differently, so no double is
    ever rounded."""
    return (
        customer.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.expr(ex.sum_cents("c_acctbal")).alias("_p"),
            F.count(F.lit(1)).alias("_c"),
        )
        .select("segment", F.expr(ROUND2_MEAN_EXPR).alias("avg_salary"))
    )


def kpi_gross_monthly_expenses(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Gross monthly expenses by department and type (ref
    ``KPIs.sql:43-57`` — the 4-dim star join)."""
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(
            _month_key(),
            F.col("n_name").alias("department"),
            F.col("o_orderpriority").alias("expense_type"),
        )
        .agg(
            # exact integer cents summed in decimal(38,0), one final IEEE
            # cast→divide — identical values to the former
            # round(sum(decimal), 2) (inputs are 2-dp clean) with the
            # cheaper long-multiply inner loop (r7 decomposition)
            (
                F.sum((dec("o_totalprice") * 100).cast("bigint").cast("decimal(38,0)"))
                .cast("double")
                / 100.0
            ).alias("gross_amount")
        )
        .select(_month_label(), "department", "expense_type", "gross_amount")
        .orderBy("order_month", "department", "expense_type")
    )


def kpi_net_monthly_expenses_by_dept(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Net monthly expenses by department — refunds excluded
    (ref ``KPIs.sql:61-74`` WHERE is_refund = FALSE)."""
    revenue = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    return (
        lineitem.filter(F.col("l_returnflag") != "R")
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(_month_key(), F.col("n_name").alias("department"))
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("net_amount"))
        .select(_month_label(), "department", "net_amount")
        .orderBy("order_month", "department")
    )


def kpi_net_monthly_expenses_by_type(
    lineitem: DataFrame, orders: DataFrame
) -> DataFrame:
    """Net monthly expenses by expense type (ref ``KPIs.sql:77-88``;
    quirk Q8's unused dim_employee join deliberately dropped)."""
    revenue = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    return (
        lineitem.filter(F.col("l_returnflag") != "R")
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy(_month_key(), F.col("o_orderpriority").alias("expense_type"))
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("net_amount"))
        .select(_month_label(), "expense_type", "net_amount")
        .orderBy("order_month", "expense_type")
    )


def kpi_downtime_by_process(events: DataFrame) -> DataFrame:
    """Total + avg downtime by process, ranked (ref ``KPIs.sql:91-99``).
    Rounded mean via exact int64 cents (see kpi_avg_salary_by_gender)."""
    return (
        events.groupBy(F.col("event_type").alias("process_name"))
        .agg(
            F.round(F.sum(dec("value")), 2).cast("double").alias("total_downtime"),
            F.expr(ex.sum_cents("value")).alias("_p"),
            F.count(F.lit(1)).alias("_c"),
        )
        .select(
            "process_name",
            "total_downtime",
            F.expr(ROUND2_MEAN_EXPR).alias("avg_downtime"),
        )
        .orderBy(F.desc("total_downtime"), "process_name")
    )


def kpi_downtime_by_department(events: DataFrame) -> DataFrame:
    """Total + avg downtime by department, ranked (ref ``KPIs.sql:102-110``;
    department bucketed from the user key)."""
    return (
        events.withColumn("department_id", F.col("user_id") % 5)
        .groupBy("department_id")
        .agg(
            F.round(F.sum(dec("value")), 2).cast("double").alias("total_downtime"),
            F.expr(ex.sum_cents("value")).alias("_p"),
            F.count(F.lit(1)).alias("_c"),
        )
        .select(
            "department_id",
            "total_downtime",
            F.expr(ROUND2_MEAN_EXPR).alias("avg_downtime"),
        )
        .orderBy(F.desc("total_downtime"), "department_id")
    )
