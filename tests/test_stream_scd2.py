"""Streaming SCD2 dimension maintenance: micro-batched change feeds
through ``start_scd2_dim_sink`` must produce EXACTLY the dimension the
batch ``merge_scd2`` path builds from the same batches — the stream ≡
batch contract — and the SCD2 invariants must hold after every replay."""

from __future__ import annotations

import glob
import os
import shutil
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.plans.scd2 import (
    SCD2_COLS,
    assert_scd2_invariants,
    merge_scd2,
    scd2_row_hash,
)
from data_warehousing_assignment_spark.streaming.sinks import (
    start_scd2_dim_sink,
)

KEY, ATTRS = "emp_id", ["dept", "salary"]

BATCHES = [
    # (emp_id, dept, salary, seq, change_date)
    [(1, "ENG", 100, 1, "2024-01-01"), (2, "OPS", 90, 2, "2024-01-01")],
    # batch 2: change emp 1, redeliver emp 2 unchanged, add emp 3;
    # emp 1 also has TWO changes in the batch — latest (seq 5) must win
    [
        (1, "ENG", 110, 4, "2024-01-02"),
        (1, "SALES", 120, 5, "2024-01-02"),
        (2, "OPS", 90, 3, "2024-01-02"),
        (3, "HR", 80, 6, "2024-01-02"),
    ],
    # batch 3: emp 2 changes, emp 3 unchanged
    [(2, "OPS", 95, 7, "2024-01-03"), (3, "HR", 80, 8, "2024-01-03")],
]

SCHEMA = "emp_id INT, dept STRING, salary INT, seq INT, change_date STRING"


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("scd2stream"))
    os.makedirs(f"{d}/stream")
    for i, rows in enumerate(BATCHES):
        df = spark.createDataFrame(
            [Row(emp_id=a, dept=b, salary=c, seq=s, change_date=dt)
             for a, b, c, s, dt in rows],
            SCHEMA,
        )
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/b{i}")
        src = glob.glob(f"{d}/b{i}/part-*.parquet")[0]
        dst = f"{d}/stream/batch_{i}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (time.time() + i * 20, time.time() + i * 20))
    return d


def _batch_replay(spark):
    """Apply the same batches through the BATCH merge path."""
    dim = None
    for rows in BATCHES:
        df = spark.createDataFrame(
            [Row(emp_id=a, dept=b, salary=c, seq=s, change_date=dt)
             for a, b, c, s, dt in rows],
            SCHEMA,
        )
        latest = (
            df.withColumn(
                "_rn",
                F.row_number().over(
                    __import__("pyspark.sql.window", fromlist=["Window"])
                    .Window.partitionBy(KEY)
                    .orderBy(F.desc("seq"), F.desc("change_date"))
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        as_of = latest.agg(F.max("change_date")).first()[0]
        if dim is None:
            dim = (
                latest.select(KEY, *ATTRS)
                .limit(0)
                .withColumn("row_hash", F.expr(scd2_row_hash(ATTRS)))
                .withColumn("valid_from", F.lit(None).cast("date"))
                .withColumn("valid_to", F.lit(None).cast("date"))
                .withColumn("is_current", F.lit(True))
                .select(KEY, *ATTRS, *SCD2_COLS)
            )
        dim = merge_scd2(
            dim, latest.select(KEY, *ATTRS), KEY, ATTRS, str(as_of)
        ).localCheckpoint(eager=False)
    return dim


def test_stream_scd2_equals_batch_replay(spark, staged, tmp_path):
    dim_path = str(tmp_path / "dim")
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{staged}/stream")
    )
    q = start_scd2_dim_sink(
        stream, dim_path, KEY, ATTRS, "seq", "change_date",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(180)  # False = timed out mid-stream: fail loudly

    got = sorted(
        (r.emp_id, r.dept, r.salary, str(r.valid_from), str(r.valid_to),
         r.is_current)
        for r in spark.read.parquet(dim_path).collect()
    )
    want = sorted(
        (r.emp_id, r.dept, r.salary, str(r.valid_from), str(r.valid_to),
         r.is_current)
        for r in _batch_replay(spark).collect()
    )
    assert got == want

    dim = spark.read.parquet(dim_path)
    assert assert_scd2_invariants(dim, KEY) == {
        "multi_current_keys": 0,
        "bad_valid_ranges": 0,
        "broken_chains": 0,
    }
    # semantic spot checks: emp 1's batch-2 intra-batch latest (SALES) won
    cur1 = dim.filter((F.col(KEY) == 1) & F.col("is_current")).first()
    assert (cur1.dept, cur1.salary) == ("SALES", 120)
    # emp 1 has exactly 2 versions (100 -> 120; the seq-4 row never lands)
    assert dim.filter(F.col(KEY) == 1).count() == 2
    # emp 2: 90 -> 95 across batches = 2 versions
    assert dim.filter(F.col(KEY) == 2).count() == 2


def test_stream_scd2_replay_is_idempotent(spark, staged, tmp_path):
    """Re-running the whole stream with a FRESH checkpoint over the same
    source must leave the dimension unchanged (merge_scd2 finds zero
    distinct hashes on replayed batches)."""
    dim_path = str(tmp_path / "dim2")
    for ck in ("ck_a", "ck_b"):
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{staged}/stream")
        )
        q = start_scd2_dim_sink(
            stream, dim_path, KEY, ATTRS, "seq", "change_date",
            checkpoint_dir=str(tmp_path / ck),
        )
        assert q.awaitTermination(180)  # False = timed out mid-stream: fail loudly
    dim = spark.read.parquet(dim_path)
    assert dim.count() == 5  # same as single run: 2 + 2 + 1 versions
    assert assert_scd2_invariants(dim, KEY)["multi_current_keys"] == 0
