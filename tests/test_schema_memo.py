"""The parquet schema memo behind ``registry.t()``: a second read of a
table file runs no Spark job and keeps the inferred schema (names, types
and nullability); a file rewritten in place is inferred again; the
``nanosAsLong`` conf value is part of the key; a directory, the layout
Spark writes, is never memoized, and a missing path fails as Spark
reports it."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from data_warehousing_assignment_spark import registry
from data_warehousing_assignment_spark.registry import NANOS_AS_LONG, t
from tests.conftest import SF_SMALL, count_jobs


def _fields(schema) -> list[tuple]:
    return [(f.name, f.dataType, f.nullable) for f in schema.fields]


def _memo_keys(path: str) -> set[tuple[str, str]]:
    return {k for k in registry._SCHEMAS if k[0] == path}


def test_second_read_runs_no_job_and_keeps_the_inferred_schema(spark, tmp_path):
    shutil.copy(f"{SF_SMALL}/orders.parquet", tmp_path / "orders.parquet")
    first, jobs_first = count_jobs(spark, lambda: t(spark, str(tmp_path), "orders"))
    second, jobs_second = count_jobs(spark, lambda: t(spark, str(tmp_path), "orders"))
    assert jobs_first >= 1  # the inferred read, so the 0 below is the memo's
    assert jobs_second == 0
    assert _fields(second.schema) == _fields(first.schema)
    assert sorted(second.collect()) == sorted(first.collect())


def test_file_rewritten_in_place_is_read_with_its_new_schema(spark, tmp_path):
    path = tmp_path / "x.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    t(spark, str(tmp_path), "x")
    assert t(spark, str(tmp_path), "x").schema.simpleString() == "struct<a:bigint>"

    st = os.stat(path)
    pq.write_table(
        pa.table({"a": ["p", "q", "r"], "b": pa.array([0.5, 1.5, 2.5])}), path
    )
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert os.stat(path).st_size != st.st_size

    after = t(spark, str(tmp_path), "x")
    assert after.schema.simpleString() == "struct<a:string,b:double>"
    assert sorted(tuple(r) for r in after.collect()) == [
        ("p", 0.5), ("q", 1.5), ("r", 2.5)
    ]


def test_events_gets_one_entry_per_nanos_as_long_value(spark, tmp_path):
    path = str(tmp_path / "events.parquet")
    shutil.copy(f"{SF_SMALL}/events.parquet", path)
    saved = spark.conf.get(NANOS_AS_LONG)
    try:
        spark.conf.unset(NANOS_AS_LONG)
        unset = registry._read_parquet(spark, path)
        assert unset.schema == spark.read.parquet(path).schema
        spark.conf.set(NANOS_AS_LONG, "true")
        on = registry._read_parquet(spark, path)
        assert on.schema == spark.read.parquet(path).schema
        t(spark, str(tmp_path), "events")  # sets the conf, hits the "true" entry
        assert _memo_keys(path) == {(path, "false"), (path, "true")}
        _, jobs = count_jobs(spark, lambda: t(spark, str(tmp_path), "events"))
        assert jobs == 0
    finally:
        spark.conf.set(NANOS_AS_LONG, saved)


def test_a_missing_path_raises_sparks_error(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        t(spark, str(tmp_path), "missing")


def test_a_directory_spark_writes_is_never_memoized(spark, tmp_path):
    path = str(tmp_path / "y.parquet")
    spark.range(3).write.parquet(path)
    assert sorted(r.id for r in t(spark, str(tmp_path), "y").collect()) == [0, 1, 2]
    spark.range(2).selectExpr("CAST(id AS STRING) AS s").write.mode("overwrite").parquet(path)
    assert t(spark, str(tmp_path), "y").schema.simpleString() == "struct<s:string>"
    assert _memo_keys(path) == set()
