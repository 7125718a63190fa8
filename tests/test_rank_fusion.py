"""Reciprocal-rank fusion: output contract + fusion semantics (a
candidate ranked by BOTH lists must outscore one the second list
dropped, when their best single-list ranks are equal)."""

from __future__ import annotations

import pytest

from data_warehousing_assignment_spark.registry_extensions import (
    op_ext_rank_fusion,
)
from tests.conftest import SF_SMALL


def test_rank_fusion_contract(spark):
    rows = op_ext_rank_fusion(spark, SF_SMALL).collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    max_single = 1_000_000 // 61  # best possible one-list contribution
    for q, rs in by_q.items():
        ranks = sorted(x.fused_rank for x in rs)
        assert ranks == list(range(1, len(rs) + 1))
        assert len(rs) <= 10
        # fused ordering is by rrf_micro desc
        srt = sorted(rs, key=lambda x: x.fused_rank)
        scores = [x.rrf_micro for x in srt]
        assert scores == sorted(scores, reverse=True)
        # two-list membership dominates: every score is within the
        # arithmetic bounds of 1..2 contributions
        for x in rs:
            assert 1_000_000 // (60 + 20) <= x.rrf_micro <= 2 * max_single
    # the top fused hit for at least one query must combine two lists
    # (score above the single-list maximum) — cosine and dot agree on
    # the strongest neighbors, so fusion actually fuses
    assert any(
        max(x.rrf_micro for x in rs) > max_single for rs in by_q.values()
    )


def test_hybrid_fusion_contract(spark):
    """Hybrid BM25×IVF fusion (r12 verdict #6): output contract plus the
    cross-modal property — the fused list can contain neighbors only one
    modality surfaced, and two-list members outscore single-list ones at
    equal best rank."""
    from data_warehousing_assignment_spark.registry_extensions import (
        op_ext_hybrid_fusion,
    )

    rows = op_ext_hybrid_fusion(spark, SF_SMALL).collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    max_single = 1_000_000 // 61
    for q, rs in by_q.items():
        ranks = sorted(x.fused_rank for x in rs)
        assert ranks == list(range(1, len(rs) + 1))
        assert len(rs) <= 10
        srt = sorted(rs, key=lambda x: x.fused_rank)
        scores = [x.rrf_micro for x in srt]
        assert scores == sorted(scores, reverse=True)
        for x in rs:
            assert x.neighbor_id != q
            # 1 or 2 contributions, each from rank 1..20
            assert 1_000_000 // 80 <= x.rrf_micro <= 2 * max_single
    # the lexical and dense rankers disagree somewhere: at least one
    # fused hit rides a single list (score ≤ one-list max) and at least
    # one combines both (score > one-list max)
    flat = [x.rrf_micro for rs in by_q.values() for x in rs]
    assert any(s > max_single for s in flat)
    assert any(s <= max_single for s in flat)


def test_fusion_gain_replays_from_hybrid_output(spark):
    """op-ext-fusion-gain must equal a pure-Python metric replay over
    op-ext-hybrid-fusion's own top-10 plus the label column — same ×1e9
    fixed-point discounts, same IDCG prefix sums."""
    from data_warehousing_assignment_spark.registry_advanced import (
        _RM_P,
        _RM_W,
        op_ext_fusion_gain,
    )
    from data_warehousing_assignment_spark.registry_extensions import (
        op_ext_hybrid_fusion,
    )

    top = op_ext_hybrid_fusion(spark, SF_SMALL).collect()
    labels = {
        r.vec_id: r.label
        for r in spark.read.parquet(
            f"{SF_SMALL}/embeddings.parquet"
        ).collect()
    }
    per_q = {}
    for r in top:
        tl = labels[r.query_id]
        first_rel, dcg, n_rel = per_q.get(r.query_id, (None, 0, 0))
        if labels[r.neighbor_id] == tl:
            if first_rel is None:
                first_rel = r.fused_rank
            dcg += _RM_W[r.fused_rank - 1]
            n_rel += 1
        per_q[r.query_id] = (first_rel, dcg, n_rel)
    want = {}
    for q, (fr, dcg, n_rel) in per_q.items():
        tl = labels[q]
        nq, nh, rr, sd, si = want.get(tl, (0, 0, 0, 0, 0))
        want[tl] = (
            nq + 1,
            nh + (fr is not None),
            rr + (1_000_000_000 // fr if fr else 0),
            sd + dcg,
            si + _RM_P[n_rel],
        )
    got = {
        r.true_label: (
            r.n_queries, r.n_with_hit, r.sum_rr_x1e9,
            r.sum_dcg_x1e9, r.sum_idcg_x1e9,
        )
        for r in op_ext_fusion_gain(spark, SF_SMALL).collect()
    }
    assert got == want


def test_stop_term_guard_threshold(spark):
    """The lexical leg's stop-term guard: a term in >90% of docs is
    dropped from scoring (idf ≈ 0, postings O(corpus)); at exactly 90%
    it survives. Integer-exact boundary — no float threshold."""
    from data_warehousing_assignment_spark.registry_extensions import (
        bm25_idf,
    )

    # 10 docs: 'univ' in all 10 (df ratio 1.0 — dropped), 'edge' in 9
    # (0.9 — kept), 'rare' in 2 (kept)
    rows = [(d, "univ") for d in range(10)]
    rows += [(d, "edge") for d in range(9)]
    rows += [(d, "rare") for d in range(2)]
    tf = spark.createDataFrame(rows, "doc_id: long, tok: string")
    stats = spark.createDataFrame([(10,)], "n_docs: long")
    kept = {
        r.tok for r in bm25_idf(
            tf, stats.selectExpr("n_docs", "0.0 as avgdl")
        ).collect()
    }
    assert kept == {"edge", "rare"}


def test_fusion_baseline_same_query_sample_as_gain(spark):
    """The control and the treatment must grade the SAME query sample:
    per-label query counts identical, and both cover min(100, corpus)
    queries in total — otherwise the 'gain' compares different tasks."""
    from data_warehousing_assignment_spark.registry_advanced import (
        op_ext_fusion_baseline,
        op_ext_fusion_gain,
    )

    base = {
        r.true_label: r.n_queries
        for r in op_ext_fusion_baseline(spark, SF_SMALL).collect()
    }
    gain = {
        r.true_label: r.n_queries
        for r in op_ext_fusion_gain(spark, SF_SMALL).collect()
    }
    assert base == gain
    n = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").count()
    assert sum(base.values()) == min(100, n)


@pytest.mark.parametrize("zipf", [False, True], ids=["dense", "zipf"])
def test_blockmax_prune_is_lossless_and_fires(spark, zipf):
    """Direct engine-side pin of the two block-max claims (the oracle
    gate proves prune ≡ unpruned against DuckDB; this pins it engine-
    only so a prune bug can't hide behind an oracle edit): the pruned
    top-k equals the naive unpruned top-k row-for-row, AND the MaxScore
    term split actually drops postings rows (essential < unpruned).
    Parametrized over the Zipf posting projection (the win-regime
    measurement knob) so losslessness holds on BOTH df profiles — a θ
    or term-split bug that only bites under skew can't hide behind the
    dense default."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_warehousing_assignment_spark.registry_extensions import (
        _blockmax_frames,
        _BM25_TOPK,
    )

    frames = _blockmax_frames(spark, SF_SMALL, zipf_skew=zipf)
    qt, postings = frames["qt"], frames["postings"]
    # naive unpruned ranking from the same postings
    naive = (
        qt.join(postings, "tok")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", F.col("doc_id").alias("neighbor_id"))
        .agg(F.sum("mu").cast("bigint").alias("bm25_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("bm25_micro"), F.asc("neighbor_id")
    )
    naive_top = (
        naive.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _BM25_TOPK)
    )
    pruned_top = (
        frames["scored"]
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _BM25_TOPK)
    )
    a = sorted(map(tuple, naive_top.collect()))
    b = sorted(map(tuple, pruned_top.collect()))
    assert a == b, "block-max prune changed the top-k — losslessness broken"
    # and the prune actually drops candidate-generation rows
    unpruned_rows = (
        qt.join(postings, "tok")
        .filter(F.col("doc_id") != F.col("query_id"))
        .count()
    )
    essential_rows = (
        frames["ess"]
        .join(postings, "tok")
        .filter(F.col("doc_id") != F.col("query_id"))
        .count()
    )
    assert essential_rows < unpruned_rows, (essential_rows, unpruned_rows)
