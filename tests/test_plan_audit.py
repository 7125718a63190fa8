"""tools/plan_audit.py reads its two flags from the plan tree: a cross
join flags only when no side has a Catalyst row bound, an unpartitioned
window only over an unbounded child, and a pinned subplan is audited
like an inline one."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.caching import pin, release_unscoped
from data_warehousing_assignment_spark.registry import all_queries, t
from tests.conftest import SF_SMALL
from tools.plan_audit import CART, WIN, audit


@pytest.fixture(autouse=True)
def _release_pins():
    yield
    release_unscoped()


def test_unpartitioned_window_over_an_ivf_op_flags(spark):
    """A data-sized global numbering on top of an IVF rider's output is
    flagged; the op alone raises only its centroid-assign cartesian."""
    ann = all_queries()["op-ext-ann-ivf"](spark, SF_SMALL)
    assert audit(ann) == {CART}
    numbered = ann.withColumn("rn", F.row_number().over(Window.orderBy(*ann.columns)))
    assert audit(numbered) == {CART, WIN}


def test_cross_join_of_two_scans_flags(spark):
    orders = t(spark, SF_SMALL, "orders")
    customer = t(spark, SF_SMALL, "customer")
    assert audit(orders.crossJoin(customer)) == {CART}


def test_cross_join_against_a_global_aggregate_does_not_flag(spark):
    orders = t(spark, SF_SMALL, "orders")
    top = orders.agg(F.max("o_totalprice").alias("top"))
    assert audit(orders.crossJoin(top)) == set()


def test_cross_join_against_a_limit_does_not_flag(spark):
    orders = t(spark, SF_SMALL, "orders")
    first = t(spark, SF_SMALL, "customer").orderBy("c_custkey").limit(3)
    assert audit(orders.crossJoin(first)) == set()


def test_cartesian_inside_a_pinned_frame_flags(spark):
    orders = t(spark, SF_SMALL, "orders")
    pairs = pin(orders.crossJoin(t(spark, SF_SMALL, "customer")))
    counted = pairs.groupBy("c_nationkey").count()
    assert "InMemoryTableScan" in counted._jdf.queryExecution().executedPlan().toString()
    assert audit(counted) == {CART}


def test_partitioned_window_beside_a_global_aggregate_does_not_flag(spark):
    """The global aggregate's SinglePartition exchange is no window."""
    orders = t(spark, SF_SMALL, "orders")
    ranked = orders.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("o_custkey").orderBy("o_orderkey")),
    )
    top = orders.agg(F.max("o_totalprice").alias("top"))
    assert audit(ranked.crossJoin(top)) == set()
