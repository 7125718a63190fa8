"""Incremental fact load semantics (ref ``B3_load_fin_facts.sql:67-126``:
NOT EXISTS full-row dedup; dbt watermark variant ``fact_expenses.sql:39-45``;
snapshot fact ``A3_load_dim_emp.sql:85-95``)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from data_warehousing_assignment_spark.plans.facts import (
    incremental_fact_insert,
    snapshot_fact,
    watermark_filter,
)

SCHEMA = "emp_sk int, d date, amount double"


def mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_incremental_insert_dedups_full_rows(spark):
    existing = mk(spark, [(1, dt.date(2024, 1, 1), 10.0)])
    batch = mk(
        spark,
        [
            (1, dt.date(2024, 1, 1), 10.0),  # exact dup → skipped
            (1, dt.date(2024, 1, 1), 11.0),  # differs in a measure → kept
            (2, dt.date(2024, 1, 2), 20.0),  # new → kept
        ],
    )
    out = incremental_fact_insert(existing, batch)
    assert sorted((r.emp_sk, r.amount) for r in out.collect()) == [
        (1, 11.0),
        (2, 20.0),
    ]


def test_loading_same_batch_twice_is_noop(spark):
    existing = mk(spark, [])
    batch = mk(spark, [(1, dt.date(2024, 1, 1), 10.0), (2, dt.date(2024, 1, 2), 20.0)])
    first = incremental_fact_insert(existing, batch)
    fact = existing.unionByName(first)
    second = incremental_fact_insert(fact, batch)
    assert second.count() == 0


def test_date_prune_same_result_as_unpruned(spark):
    existing = mk(
        spark,
        [
            (1, dt.date(2023, 12, 31), 5.0),  # outside batch window
            (1, dt.date(2024, 1, 1), 10.0),  # inside, dup of a batch row
        ],
    )
    batch = mk(
        spark,
        [(1, dt.date(2024, 1, 1), 10.0), (2, dt.date(2024, 1, 2), 20.0)],
    )
    pruned = incremental_fact_insert(existing, batch, date_col="d")
    unpruned = incremental_fact_insert(existing, batch)
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, unpruned.collect())
    )


def test_watermark_filter(spark):
    existing = mk(spark, [(1, dt.date(2024, 1, 5), 1.0)])
    batch = mk(
        spark,
        [(2, dt.date(2024, 1, 5), 2.0), (3, dt.date(2024, 1, 6), 3.0)],
    )
    out = watermark_filter(batch, existing, "d")
    assert [r.emp_sk for r in out.collect()] == [3]
    # empty existing → whole batch passes
    assert watermark_filter(batch, mk(spark, []), "d").count() == 2


def test_snapshot_fact_stamps_time_row(spark):
    dim = spark.createDataFrame([(1, "Active"), (2, "Resigned")], "emp_sk int, status string")
    time_dim = spark.createDataFrame(
        [(100, dt.date(2024, 1, 1)), (101, dt.date(2024, 1, 2))],
        "time_id int, full_date date",
    )
    out = snapshot_fact(dim, time_dim, dt.date(2024, 1, 2))
    rows = out.collect()
    assert len(rows) == 2
    assert all(r.time_id == 101 for r in rows)
