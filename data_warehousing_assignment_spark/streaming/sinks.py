"""Streaming sinks: foreachBatch incremental fact loading.

The production pattern for feeding a warehouse from a stream: each
micro-batch runs the SAME incremental-insert plan the batch loader uses
(``plans/facts.incremental_fact_insert`` — full-row anti-join dedup),
so replays, overlapping batches, and at-least-once sources all collapse
to exactly-once fact contents. This is the streaming twin of the
reference's NOT-EXISTS loader (ref ``B3_load_fin_facts.sql:84-94``),
and like it each micro-batch anti-joins the whole existing fact: the
sink passes no date prune and appends one unpartitioned table. At
100 TB the fact would be written date-partitioned (writers.write_table
partition_by) and pruned to the batch's dates. Checkpointing makes the
foreachBatch idempotence a second line of defense rather than the only
one."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from data_warehousing_assignment_spark.plans.facts import incremental_fact_insert


def _has_committed_data(spark, path: str) -> bool:
    """True iff ``path`` contains VISIBLE committed part-files.

    A directory can exist with NOTHING committed (a first write that
    died after mkdir, or stray _temporary/metadata files). Probing
    for actual part-files distinguishes that from real data: if none
    exist, nothing was committed, so an empty existing side cannot
    double-load — while treating it as readable would poison every
    retry with the same schema-inference error forever.

    Only VISIBLE part-files count: a crashed first attempt leaves
    part-* under _temporary/, which spark.read.parquet ignores (its
    InMemoryFileIndex pathFilter skips any '_'/'.'-prefixed path
    segment) — counting those would declare data committed while the
    reader finds no footers, poisoning every retry. Shared by every
    foreachBatch sink in this module (hoisted r14)."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)  # type: ignore[union-attr]
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())  # type: ignore[union-attr]
    if not fs.exists(jvm_path):
        return False
    root = fs.makeQualified(jvm_path).toString().rstrip("/")
    it = fs.listFiles(jvm_path, True)  # recursive — partitioned layouts
    while it.hasNext():
        fpath = it.next().getPath().toString()
        rel = fpath[len(root):].lstrip("/") if fpath.startswith(root) else fpath
        segments = rel.split("/")
        if any(s.startswith(("_", ".")) for s in segments[:-1]):
            continue  # inside a hidden dir (_temporary, .staging, ...)
        if segments[-1].startswith("part-"):
            return True
    return False


def _start(stream: DataFrame, load_batch, checkpoint_dir: str | None) -> StreamingQuery:
    """Run ``load_batch`` on each micro-batch of ``stream`` available
    now, checkpointed to ``checkpoint_dir`` if given."""
    writer = stream.writeStream.foreachBatch(load_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def _latest_per_key(batch: DataFrame, key: str, *order_cols: str) -> DataFrame:
    """The latest change per ``key`` in a micro-batch (greatest
    ``order_cols``): at-least-once sources may redeliver a key."""
    order = ", ".join(f"`{c}` DESC" for c in order_cols)
    return (
        batch.withColumn(
            "_rn", F.expr(f"row_number() OVER (PARTITION BY `{key}` ORDER BY {order})")
        )
        .filter("_rn = 1")
        .drop("_rn")
    )


def start_incremental_fact_sink(
    stream: DataFrame,
    fact_path: str,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Start a foreachBatch query appending only fact rows not already
    present (full-row dedup). Returns the StreamingQuery; callers
    trigger/await as needed."""
    spark = stream.sparkSession

    def load_batch(batch: DataFrame, batch_id: int) -> None:
        # Probe existence explicitly: only "nothing committed yet" may
        # fall back to an empty existing side. A transient read failure on
        # REAL data must still ABORT the batch — treating it as
        # first-batch would skip the anti-join dedup and silently
        # double-load on retry.
        if _has_committed_data(spark, fact_path):
            existing = spark.read.parquet(fact_path).select(*batch.columns)
        else:
            existing = batch.limit(0)
        incremental_fact_insert(existing, batch).write.mode("append").parquet(fact_path)

    return _start(stream, load_batch, checkpoint_dir)


def start_scd2_dim_sink(
    stream: DataFrame,
    dim_path: str,
    key: str,
    attrs: list[str],
    seq_col: str,
    as_of_col: str,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """foreachBatch SCD2 dimension maintenance — the streaming twin of
    the reference's batch expire-then-insert merge (ref
    ``A3_load_dim_emp.sql:27-62``), i.e. the Debezium→warehouse dim
    path: each micro-batch of change rows is collapsed to the latest
    change per key (``seq_col`` + key order — at-least-once sources may
    redeliver), then applied through the SAME ``plans/scd2.merge_scd2``
    the batch loader uses, stamped with the batch's own max
    ``as_of_col``. Stream ≡ batch by construction: replaying the same
    batches through this sink or through merge_scd2 sequentially yields
    the identical dimension (tests/test_stream_scd2.py).

    Replay safety is TWO-layered: the checkpoint skips processed files
    on restart, and a per-key ``last_seq`` manifest (``<dim_path>_seq``)
    drops any incoming change whose sequence is not strictly newer than
    what the dim already absorbed — so replaying history from offset 0
    with a FRESH checkpoint (the Debezium snapshot-again failure mode)
    is a no-op instead of re-expiring every key with stale versions.
    SCD2 alone cannot provide this (row hashes say "different", not
    "older"); sequence monotonicity is the CDC-correct guard.

    The merged dim is materialized (localCheckpoint) BEFORE the
    overwrite so the read-then-overwrite of ``dim_path`` never races
    its own input. At 100 TB the dim is key-partitioned and this
    becomes MERGE INTO on a lakehouse table — same plan, transactional
    swap instead of overwrite."""
    spark = stream.sparkSession
    from data_warehousing_assignment_spark.plans.scd2 import (
        SCD2_COLS,
        merge_scd2,
        scd2_row_hash,
    )

    seq_path = dim_path.rstrip("/") + "_seq"

    def load_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        latest = _latest_per_key(batch, key, seq_col, as_of_col)
        # sequence-monotonicity guard: drop changes the dim already saw
        if _has_committed_data(spark, seq_path):
            seqs = spark.read.parquet(seq_path)
            latest = (
                latest.join(seqs, on=key, how="left")
                .filter(
                    F.col("last_seq").isNull()
                    | (F.col(seq_col) > F.col("last_seq"))
                )
                .drop("last_seq")
            )
        else:
            seqs = None
        if latest.isEmpty():
            return
        as_of = latest.agg(F.max(as_of_col)).first()[0]
        if _has_committed_data(spark, dim_path):
            current = spark.read.parquet(dim_path)
        else:
            current = (
                latest.select(key, *attrs)
                .limit(0)
                .withColumn("row_hash", F.expr(scd2_row_hash(attrs)))
                .withColumn("valid_from", F.lit(None).cast("date"))
                .withColumn("valid_to", F.lit(None).cast("date"))
                .withColumn("is_current", F.lit(True))
                .select(key, *attrs, *SCD2_COLS)
            )
        merged = merge_scd2(
            current, latest.select(key, *attrs), key, attrs, str(as_of)
        ).localCheckpoint(eager=True)
        applied = latest.select(
            key, F.col(seq_col).cast("long").alias("last_seq")
        )
        new_seqs = (
            applied if seqs is None else seqs.unionByName(applied)
        ).groupBy(key).agg(F.max("last_seq").alias("last_seq"))
        new_seqs = new_seqs.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(dim_path)
        new_seqs.write.mode("overwrite").parquet(seq_path)

    return _start(stream, load_batch, checkpoint_dir)


def start_merge_sink(
    stream: DataFrame,
    target_path: str,
    key: str,
    attrs: list[str],
    seq_col: str,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """foreachBatch MERGE INTO maintenance — the streaming twin of
    plans/kimball.merge_into, i.e. the Debezium→current-state table
    path (op-ext-cdc-apply compaction + op-ext-merge-into application
    fused per micro-batch): each batch collapses to the LATEST change
    per key (at-least-once sources redeliver), then merges into the
    materialized target — matched 'D' deletes, matched 'U'/'I'
    updates, unmatched non-deletes insert. Stream ≡ batch by
    construction (tests/test_stream_merge.py): replaying the batches
    through this sink or through merge_into sequentially yields the
    identical table.

    Same durability mechanics as start_scd2_dim_sink: the checkpoint
    skips processed files; the merged state is materialized
    (localCheckpoint) BEFORE overwriting so the read-then-overwrite
    never races its own input. Deletes need no tombstone retention
    here because the per-batch window already collapsed each key to
    one final op. At 100 TB this becomes MERGE INTO on a lakehouse
    table — identical join plan, transactional swap instead of
    overwrite."""
    spark = stream.sparkSession
    from data_warehousing_assignment_spark.plans.kimball import merge_into

    def load_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        latest = _latest_per_key(batch, key, seq_col)
        if _has_committed_data(spark, target_path):
            target = spark.read.parquet(target_path)
        else:
            target = latest.select(key, *attrs).limit(0)
        merged = merge_into(
            target, latest.select(key, *attrs, "op"), key, attrs
        ).localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(target_path)

    return _start(stream, load_batch, checkpoint_dir)


def start_vector_ingest_sink(
    stream: DataFrame,
    centroids: DataFrame,
    assign_path: str,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """The ARRIVAL PATH of the incremental IVF index as a stream: each
    micro-batch of new vectors is assigned against the FROZEN broadcast
    centroids (operators/ivf.assign_to_index — O(batch·k), never a
    re-cluster) and appended to the assignments table partitioned by
    cluster — the save_ivf_index layout, so query-side probing prunes
    to the probed cells. The streaming twin of
    operators/ivf.extend_ivf_index, exactly as start_scd2_dim_sink is
    the streaming twin of the batch SCD2 merge.

    Exactly-once contents under at-least-once delivery: an anti-join on
    ``vec_id`` against the committed assignments drops redelivered
    vectors before the append (same defense-in-depth as
    start_incremental_fact_sink — checkpointing dedups batches, the
    anti-join dedups rows), pinned with an overlapping-batch replay in
    tests/test_stream_sink.py. At 100 TB the existing-side scan reads
    only the id column of the assignments table (column pruning), and
    the per-batch work stays bounded by the batch, not the corpus."""
    from data_warehousing_assignment_spark.operators.ivf import assign_to_index

    spark = stream.sparkSession

    def load_batch(batch: DataFrame, batch_id: int) -> None:
        assigned = assign_to_index(batch, centroids)
        if _has_committed_data(spark, assign_path):
            existing = spark.read.parquet(assign_path).select("vec_id")
            assigned = assigned.join(existing, on="vec_id", how="left_anti")
        assigned.write.mode("append").partitionBy("cluster").parquet(
            assign_path
        )

    return _start(stream, load_batch, checkpoint_dir)
