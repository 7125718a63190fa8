"""Plan-shape regression tests: the physical-plan properties the engine
is designed around must survive refactors — broadcasts where expected,
filter pushdown into scans, no cartesian products, map-side partial
aggregation, and shuffle-free joins on co-bucketed tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from tests.conftest import SF_SMALL


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def qs():
    return entrymod.queries()


def test_star_join_broadcasts_dims_and_pushes_filter(spark, qs):
    plan = plan_of(qs["op-join-inner-star"](spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 3  # every dim side broadcast
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # dims must not trigger SMJ locally
    # the region filter reaches the parquet scan, not a post-scan Filter
    # only; each predicate asserted individually — PushedFilters display
    # ordering is not contractual (r8 review)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(r_name)" in plan
    assert "EqualTo(r_name,ASIA)" in plan


def test_fact_incr_anti_join_prunes_both_scans(spark, qs):
    plan = plan_of(qs["op-pipe-fact-incr"](spark, SF_SMALL))
    # date-window predicates pushed into BOTH lineitem scans
    assert plan.count("GreaterThanOrEqual(l_shipdate") >= 2
    assert "CartesianProduct" not in plan


def test_impute_window_formulation_no_join(spark):
    """cleaning.group_mean_impute (the warehouse pipeline's impute) is the
    single-window formulation: one shuffle, no join-back. (The registered
    op-pipe-impute deliberately keeps the reference's groupBy+join shape
    for its decimal-exact oracle — both shapes are intentional.)"""
    from data_warehousing_assignment_spark.functions.cleaning import (
        group_mean_impute,
    )

    from data_warehousing_assignment_spark.registry import t

    df = t(spark, SF_SMALL, "events").select("user_id", "value")
    plan = plan_of(group_mean_impute(df, "value", ["user_id"]))
    assert "Window" in plan
    assert "Join" not in plan  # window formulation, not groupBy+join-back


def test_agg_has_map_side_partial(spark, qs):
    plan = plan_of(qs["op-pipe-kpi-gross-monthly"](spark, SF_SMALL))
    assert "partial_sum" in plan  # map-side combine before the exchange


def test_column_pruning_reaches_scan(spark, qs):
    plan = plan_of(qs["op-agg-count-distinct"](spark, SF_SMALL))
    # the orders scan must not read money/date columns it doesn't need
    scan_lines = [l for l in plan.splitlines() if "FileScan" in l]
    assert scan_lines and all("o_totalprice" not in l for l in scan_lines)


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Co-located join: both sides bucketed by the join key → the join
    plans with zero Exchange (the 100 TB pattern for repeated big-big
    joins; bucket pruning + no shuffle)."""
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lineitem = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    # external tables under tmp_path: a managed table's warehouse dir can
    # survive a crashed run while the in-memory catalog forgets it, and
    # the orphaned location then fails every later saveAsTable.
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").option(
        "path", str(tmp_path / "b_orders")
    ).mode("overwrite").saveAsTable("b_orders")
    lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").option(
        "path", str(tmp_path / "b_lineitem")
    ).mode("overwrite").saveAsTable("b_lineitem")
    joined = spark.table("b_lineitem").join(
        spark.table("b_orders"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    # disable broadcast so the join would OTHERWISE shuffle both sides
    with_conf = spark.conf
    old = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
    with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # buckets align: no shuffle
        assert joined.count() == lineitem.count()
    finally:
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partitioned_fact_write_prunes_on_read(spark, tmp_path):
    """writers.write_table(partition_by=[date]) must yield scans whose
    date filters prune partitions (PartitionFilters), not data filters —
    the property that keeps incremental fact loads O(batch window)
    instead of O(fact history) at 100 TB."""
    from data_warehousing_assignment_spark.sources.writers import write_table

    path = str(tmp_path / "fact")
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
    )
    write_table(orders, path, partition_by=["order_month"])

    pruned = spark.read.parquet(path).filter(F.col("order_month") == "1996-01")
    plan = plan_of(pruned)
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "PartitionFilters" in scan
    assert "order_month" in scan.split("PartitionFilters")[1].split("]")[0]
    # correctness of the pruned read
    expected = orders.filter(F.col("order_month") == "1996-01").count()
    assert pruned.count() == expected


def test_fuzzy_join_rides_equi_key_not_nested_loop(spark, qs):
    """The blocked levenshtein join must plan as a hash/merge join on the
    nation block key with the edit-distance as a residual predicate —
    never a nested-loop over all customer pairs."""
    plan = plan_of(qs["op-ext-fuzzy-join"](spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)
    assert "levenshtein" in plan  # residual predicate attached to the join


def test_stream_enrich_broadcasts_dim(spark, qs):
    """Stream-static enrichment keeps the (large) stream side shuffle-free:
    the dim is broadcast, and the stream side has no Exchange."""
    plan = plan_of(qs["op-ext-stream-enrich"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_cdc_apply_uses_window_group_limit(spark, qs):
    """CDC compaction's rn=1 filter must push into the window as a
    per-partition top-1 (WindowGroupLimit) — at fact scale the full
    history is never sorted, only each key's running top row."""
    plan = plan_of(qs["op-ext-cdc-apply"](spark, SF_SMALL))
    assert "WindowGroupLimit" in plan


def test_interval_overlap_is_bucketed_not_nested_loop(spark, qs):
    """The interval-overlap join must ride the bucket equi-key with the
    overlap predicate residual — never an all-pairs nested loop."""
    plan = plan_of(qs["op-ext-interval-overlap"](spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "qname",
    [
        "op-ext-copurchase",
        "op-ext-bigrams",
        "op-ext-vocab-topk",
        "op-ext-heavy-hitters",
    ],
)
def test_global_topk_plans_as_take_ordered(spark, qs, qname):
    """Global top-k cuts must plan as TakeOrderedAndProject (per-partition
    heaps, k rows forwarded per partition) — never a row_number window
    over the full aggregated frame. The ranking window that assigns rnk
    afterwards may only ever see the ≤k-row survivor frame."""
    plan = plan_of(qs[qname](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan


def test_incremental_fact_prune_hits_partition_filters(spark, tmp_path):
    """The full incremental-load composition at 100 TB: the fact lives on
    disk partitioned by date, and incremental_fact_insert's date-window
    prune on the EXISTING side must surface as PartitionFilters on that
    scan — metadata-only partition elimination (SURVEY §4's design
    claim), not a post-scan data filter. Likewise watermark_filter's
    re-read of the fact must scan only the still-relevant partitions."""
    from data_warehousing_assignment_spark.plans import facts as fc
    from data_warehousing_assignment_spark.sources.writers import write_table

    path = str(tmp_path / "fact_by_day")
    fact = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        # one month of history → ~31 date partitions (write speed; the
        # pruning mechanics are partition-count-independent)
        .filter(F.col("o_orderdate").between("1996-01-01", "1996-01-31"))
        .select(
            "o_orderkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("load_date"),
        )
    )
    write_table(fact, path, partition_by=["load_date"])
    existing = spark.read.parquet(path).select(
        "o_orderkey", "o_totalprice", "load_date"
    )

    # batch = two days' worth of rows, half already present (dup) + one new
    batch_days = ["1996-01-02", "1996-01-03"]
    batch = existing.filter(F.col("load_date").isin(batch_days)).unionByName(
        spark.createDataFrame(
            [(999_999_001, 1.0, "1996-01-03")],
            "o_orderkey long, o_totalprice double, load_date string",
        )
    )
    out = fc.incremental_fact_insert(
        existing,
        batch,
        dedup_cols=["o_orderkey", "load_date"],
        date_col="load_date",
    )
    plan = plan_of(out)
    # the existing-side scan is pruned via partition METADATA: one scan's
    # PartitionFilters (not DataFilters/PushedFilters) must carry the
    # batch's [min, max] date window
    windows = [
        l.split("PartitionFilters: [")[1].split("]")[0]
        for l in plan.splitlines()
        if "FileScan" in l and "PartitionFilters: [" in l
    ]
    assert any(
        "load_date" in pf and ">=" in pf and "<=" in pf for pf in windows
    ), f"no partition-window-pruned fact scan; PartitionFilters seen: {windows}"
    # and the composition is correct: only the genuinely-new row appends
    got = [(r.o_orderkey, r.load_date) for r in out.collect()]
    assert got == [(999_999_001, "1996-01-03")]

    # dbt-style watermark: re-read of the partitioned fact + strict >
    # filter also prunes by partition, not by data filter
    wm_new = fc.watermark_filter(
        spark.createDataFrame(
            [(1, 1.0, "1998-12-31"), (2, 2.0, "1990-01-01")],
            "o_orderkey long, o_totalprice double, load_date string",
        ),
        existing,
        "load_date",
    )
    assert [r.o_orderkey for r in wm_new.collect()] == [1]


def test_profile_is_single_scan(spark, qs):
    """The dataset-profile card computes every per-column metric in ONE
    pass — N columns must not mean N table scans."""
    plan = plan_of(qs["op-ext-profile"](spark, SF_SMALL))
    assert plan.count("FileScan parquet") == 1
    assert "partial_count" in plan  # map-side combined wide aggregate


def test_skyline_single_incremental_window(spark, qs):
    """skyline_2d must plan its running max over the DESC slice sort —
    never an unbounded-FOLLOWING frame (Spark recomputes those per row,
    O(partition^2)) and never a nested-loop dominance join."""
    plan = plan_of(qs["op-ext-skyline"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "unboundedfollowing" not in plan.lower().replace(" ", "")
    assert plan.count("Window") == 1


def test_pagerank_iterations_are_equi_joins(spark, qs):
    plan = plan_of(qs["op-ext-pagerank"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zonemap_single_scan_single_agg(spark, qs):
    plan = plan_of(qs["op-ext-zonemap"](spark, SF_SMALL))
    assert plan.count("FileScan parquet") == 1
    assert "partial_min" in plan and "partial_max" in plan


def test_ivm_merge_keeps_partial_aggregation(spark, qs):
    """Both the base and delta partials must combine map-side before
    their single merge shuffle."""
    plan = plan_of(qs["op-ext-ivm"](spark, SF_SMALL))
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q3_is_takeordered_with_broadcast_dim(spark, qs):
    plan = plan_of(qs["op-ext-tpch-q3"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan       # top-10, never global sort
    assert "BroadcastHashJoin" in plan            # customer dim broadcast
    assert "CartesianProduct" not in plan
    # both date filters reach the scans
    assert plan.count("PushedFilters") >= 2


def test_merge_into_is_single_shuffle_outer_join(spark, qs):
    plan = plan_of(qs["op-ext-merge-into"](spark, SF_SMALL))
    assert "FullOuter" in plan                    # the MERGE core
    assert "CartesianProduct" not in plan


def test_cms_estimate_broadcasts_the_sketch(spark, qs):
    plan = plan_of(qs["op-ext-cms"](spark, SF_SMALL))
    # the 1024-cell sketch frame must be the broadcast side
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_item_sim_topk_uses_window_group_limit(spark, qs):
    plan = plan_of(qs["op-ext-item-sim"](spark, SF_SMALL))
    assert "WindowGroupLimit" in plan             # per-part top-5 pushdown
    assert "CartesianProduct" not in plan


def test_scd2_backfill_is_window_only_no_selfjoin(spark, qs):
    plan = plan_of(qs["op-pipe-scd2-backfill"](spark, SF_SMALL))
    # the gaps-and-islands rebuild must stay join-free (windows over
    # one entity ordering), or backfilling history re-joins per change
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivm_join_delta_legs_stay_broadcast_pruned(spark, qs):
    """op-ext-ivm-join (r8 verdict #3): the retraction algebra's
    expensive leg — standing orders ⋈ ΔC — is exactly the delta×state
    shape that goes superlinear at scale if the delta side ever stops
    being the broadcast build: a shuffle formulation repartitions ALL
    standing orders per maintenance batch. Pin every join leg (ΔO⋈C,
    O⋈ΔC, ΔO⋈ΔC, and the standing-view leg) to BroadcastHashJoin with
    no sort-merge fallback, and the whole plan to ONE shuffle (the
    final |segments| aggregate)."""
    plan = plan_of(qs["op-ext-ivm-join"](spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # single shuffle: the seg-keyed aggregate after the union of legs
    assert plan.count("Exchange hashpartitioning") == 1


def test_winnow_neardup_posting_join_is_equi_keyed(spark, qs):
    """The MOSS candidate join must ride the fp equi-key (hash or
    sort-merge), never a nested loop, and the hot-fp filter must not
    reintroduce a count-join (window formulation keeps one build)."""
    plan = plan_of(qs["op-ext-winnow-neardup"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hilbert_stage_chain_does_not_collapse_or_blow_up(spark, qs):
    """16 chained projections of multi-reference CASE expressions:
    if CollapseProject ever merged them, the expression tree grows
    ~4^16 and the plan string explodes — a cheap canary bounds it."""
    df = qs["op-ext-hilbert-order"](spark, SF_SMALL)
    plan = plan_of(df)
    assert len(plan) < 200_000, len(plan)
    # the only nested-loop shapes allowed are the 1-row max-stats
    # broadcasts (normalization + bin width) — never a real cartesian
    assert "CartesianProduct" not in plan


def test_winnow_two_stage_projection_survives_optimizer(spark, qs):
    """op-ext-winnow builds fingerprints ONCE (r10: one Arrow-batched
    numpy UDF; before that, a staged HOF chain). The canary: exactly
    one python-eval node in the plan — three folds referencing the fps
    column must not triple the build — and no interpreted HOF hash
    chain left behind."""
    plan = plan_of(qs["op-ext-winnow"](spark, SF_SMALL))
    assert plan.count("ArrowEvalPython") == 1, plan.count("ArrowEvalPython")
    assert "aggregate(sequence(1," not in plan, (
        "interpreted HOF hash build leaked back into the np path"
    )


def test_bm25_family_no_forced_corpus_broadcast(spark, qs):
    """r13 verdict #1: the BM25 family must never FORCE a broadcast of a
    corpus-derived frame — dl is one row per document and idf one row per
    distinct token (tens of GB at 100 TB; a hinted broadcast is a
    designed-in driver OOM that no small-SF bench can see). With
    auto-broadcast disabled, any surviving BroadcastHashJoin is a forced
    hint: op-ext-bm25 must have NONE (its only hints are the 1-row stats
    cross-joins, which plan as nested-loop), and the hybrid chain exactly
    its two fixed-size hints (Q·n_probe probe rows on cluster, Q-row
    query sample on doc_id). The corpus-keyed joins must fall back to
    shuffle joins — proof AQE, not a hint, owns the strategy."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(qs["op-ext-bm25"](spark, SF_SMALL))
        assert "BroadcastHashJoin" not in plan, (
            "corpus-derived broadcast hint reintroduced into op-ext-bm25"
        )
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        hplan = plan_of(qs["op-ext-hybrid-fusion"](spark, SF_SMALL))
        n_bhj = hplan.count("BroadcastHashJoin")
        assert n_bhj <= 2, (
            f"{n_bhj} forced equi-broadcasts in the hybrid chain — only the "
            "two Q-bounded hints (probes, query sample) are allowed"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_retrieval_metrics_broadcasts_rank_frame(spark):
    """r13 verdict #7: the MRR/NDCG metrics tail joins a rank-bounded top
    frame (≤ k·|Q| rows by construction) against CORPUS-sized label
    frames twice. The broadcast hints must sit on the bounded side — the
    corpus side streams with zero exchange — and never on the label
    frames (the former F.broadcast(qlab) was a corpus-sized hint, the
    same 100 TB defect class as verdict #1)."""
    from data_warehousing_assignment_spark.registry_advanced import (
        _retrieval_metrics_over,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    top = emb.limit(40).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.lit(1).alias("rank"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(_retrieval_metrics_over(top, emb))
        # both label joins broadcast the bounded rank frame...
        assert plan.count("BroadcastHashJoin") == 2, plan.count(
            "BroadcastHashJoin"
        )
        # ...so neither corpus-sized label frame ever shuffles or builds
        assert "SortMergeJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_retrieval_metrics_op_joins_labels_without_shuffle(spark, qs):
    """op-ext-retrieval-metrics grades its exact top-k through the shared
    metrics tail, so with auto-broadcast disabled its label joins still
    broadcast the rank-bounded frame: no SortMergeJoin, which would
    shuffle the corpus-sized label frame (the tail's verdict-#7 shape,
    pinned for the tail alone above)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(qs["op-ext-retrieval-metrics"](spark, SF_SMALL))
        assert "SortMergeJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_tfidf_vocab_join_not_force_broadcast(spark, qs):
    """r14 optimization sweep: op-ext-tfidf carried the one remaining
    vocab-sized broadcast hint (df_counts — one row per distinct raw
    token, the same unbounded-at-100 TB class as the bm25 dl/idf hints
    verdict #1 removed). With auto-broadcast disabled, any surviving
    BroadcastHashJoin would be a forced hint: the df join must fall
    back to a shuffle join (AQE owns the strategy); the only allowed
    hint is the 1-row n_docs cross-join, which plans as a
    BroadcastNestedLoopJoin."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(qs["op-ext-tfidf"](spark, SF_SMALL))
        assert "BroadcastHashJoin" not in plan, (
            "vocab-sized broadcast hint reintroduced into op-ext-tfidf"
        )
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
