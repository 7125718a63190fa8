"""Demonstrative UDF surface (SURVEY.md §2.10): the reference cleans with
row-level pandas lambdas; our engine uses built-in Column expressions.
This test implements ONE cleaner both ways — Arrow-batched pandas UDF vs
native — and pins them equal. The native version stays the hot-path
choice: it runs inside JVM whole-stage codegen, while the UDF pays the
Arrow boundary (acceptable; row-at-a-time ``@F.udf`` would be the truly
slow third option)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from data_warehousing_assignment_spark.functions import cleaning as cl


def test_pandas_udf_matches_native_column(spark):
    # defined inside the test: pandas_udf registration needs a live session
    @pandas_udf("string")
    def whitelist_status_udf(s: pd.Series) -> pd.Series:
        """Pandas-UDF twin of cl.whitelist(..., STATUS_MAP, 'Unknown') —
        vectorized per Arrow batch (ref A2_hr_etl.py:66-68 semantics)."""
        norm = s.str.strip().str.upper()
        return norm.map({"ACTIVE": "Active", "RESIGNED": "Resigned"}).fillna("Unknown")

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(["active", " RESIGNED ", "Active", "wat", "", "nan"])],
        "id int, status string",
    )
    native = F.expr(
        cl.whitelist("status", {"ACTIVE": "Active", "RESIGNED": "Resigned"}, "Unknown")
    )
    out = df.select(
        "id",
        native.alias("native"),
        whitelist_status_udf("status").alias("udf"),
    ).collect()
    for r in out:
        assert r.native == r.udf, r


def test_grouped_agg_pandas_udf_matches_native(spark):
    """GROUPED_AGG pandas UDF — the remaining UDF flavor (scalar UDF
    here, applyInPandas = EWMA, applyInPandasWithState = streaming,
    mapInPandas = multimodal): a per-group aggregate computed over each
    group's Arrow batch, pinned equal to the native decimal-exact sum.
    Native stays the hot path — the UDF exists to show where a truly
    custom aggregate (e.g. a sketch merge) would plug in."""
    import numpy as np

    @pandas_udf("long")
    def cents_sum_udf(v: pd.Series) -> int:
        # int64 cents: exact, order-independent — same contract as
        # exact.sum_cents
        return int(np.sum((v * 100).round().astype("int64")))

    df = spark.createDataFrame(
        [(i % 3, float(f"{i}.{i % 100:02d}")) for i in range(300)],
        "g int, amount double",
    )
    # Spark disallows mixing pandas grouped-agg with native aggregates
    # in one agg (INVALID_PANDAS_UDF_PLACEMENT) — compute separately.
    udf_side = df.groupBy("g").agg(cents_sum_udf("amount").alias("udf_cents"))
    native_side = df.groupBy("g").agg(
        (F.sum(F.col("amount").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("native_cents")
    )
    got = udf_side.join(native_side, on="g").collect()
    assert len(got) == 3
    for r in got:
        assert r.udf_cents == r.native_cents, r
