"""Plan audit: dump every registered query's physical plan and flag
anti-patterns (cartesian products, single-partition window exchanges,
sort-merge joins against tiny inputs). Complements check_local.py: that
gate proves results right; this one proves the plans stay scale-shaped.

Usage: python tools/plan_audit.py [sf_dir]

Intentional exceptions (documented where they occur):
* ``op-win-rownumber-key`` / ``build_dim_time`` — global row_number over a
  dim-sized frame (SURVEY §2.5: surrogate keys for ≤4k-row dims).
* ``op-join-degenerate`` / snapshot facts — crossJoin against a 1-row
  broadcast side is the intended degenerate-join shape.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Queries where a flagged pattern is the documented, size-bounded choice.
ALLOWED = {
    "op-win-rownumber-key": {"single-partition window"},
    "op-win-rownumber-unordered": {"single-partition window"},
    "op-fn-generate-series": {"single-partition window"},
    "op-union-distinct": {"single-partition window"},
    "op-sort": {"single-partition window"},  # dim_time spine surrogate keys
    "op-join-degenerate": {"cartesian"},  # 1-row broadcast snapshot stamp
    # distinct-dates mini time-dim surrogate keys: dim-sized by construction
    "op-pipe-snapshot": {"cartesian", "single-partition window"},
    "op-ext-ann-bruteforce": {"cartesian"},  # scored vs broadcast query set
    # ground-truth side IS the brute-force broadcast-query cartesian,
    # plus the sanctioned IVF centroid-assign crossJoin (registry_
    # extensions.op_ext_ann_recall_surface)
    "op-ext-ann-recall-surface": {"cartesian"},
    # same two sanctioned shapes, but the query side is PINNED at 100
    # rows (md5-ordered audit sample) so the ground-truth cartesian is
    # O(100·C) — linear in corpus — by contract (registry_extensions.
    # op_ext_ann_recall_sampled, r12 verdict #2)
    "op-ext-ann-recall-sampled": {"cartesian"},
    # rides the same brute-force broadcast-query cartesian as ann-bruteforce
    "op-ext-knn-classify": {"cartesian"},
    # exact-ranking ground layer: O(Q·C) brute force BY CONTRACT, like
    # ann-bruteforce (IVF/LSH rankings drop in for the scale path)
    "op-ext-retrieval-metrics": {"cartesian"},
    # 1-row count frames crossJoined into each candidate's metrics row
    "op-ext-fk-discovery": {"cartesian"},
    # per-constraint 1-row checked×violations frames
    "op-ext-constraints": {"cartesian"},
    # 1-row broadcast max-stats frames (normalization + bin width),
    # same shape as op-ext-zorder's (which broadcasts below the radar)
    "op-ext-hilbert-order": {"cartesian"},
    # distributed_ar2's CONSTANT-bounded residue: the bucket-offset
    # window covers ≤ n_buckets+1 rows and the min/max stats frame is
    # a 1-row broadcast — both independent of data size
    "op-ext-mannwhitney": {"cartesian", "single-partition window"},
    "op-ext-kruskal-wallis": {"cartesian", "single-partition window"},
    # 1-row theta frame joined onto the 2-row variant frame
    "op-ext-cuped": {"cartesian"},
    # |S|²/2 pair spine from two BROADCAST catalog-sized per-source
    # vocab frames — the cross join is |sources|², never data-sized,
    # and exists so zero-overlap pairs emit explicit 0 rows
    "op-ext-source-overlap": {"cartesian"},
    # IVF assign: corpus × BROADCAST k-row centroid frame (the
    # standard cell-probe shape, operators/ivf.py:43); the window is
    # the PQ_K-row codebook seed ranking (LIMIT PQ_K frame — codebook-
    # sized by construction, operators/pq.py:119)
    "op-ext-ann-ivf-pq": {"cartesian", "single-partition window"},
    # same IVF centroid-assign cartesian (build_ivf_index → _assign)
    "op-ext-rank-fusion": {"cartesian"},
    # dense leg rides the sanctioned IVF centroid-assign cartesian (as
    # op-ext-rank-fusion); lexical leg crossJoins the 1-row broadcast
    # avgdl/n_docs stats frames (as op-ext-bm25), whose global aggs are
    # the only Exchange SinglePartition in the plan — every row_number
    # window is partitioned by query_id (registry_extensions.
    # op_ext_hybrid_fusion; verified line-by-line r13)
    "op-ext-hybrid-fusion": {"cartesian", "single-partition window"},
    # evaluation tail over the same hybrid pipeline — inherits exactly
    # its sanctioned shapes (registry_advanced.op_ext_fusion_gain)
    "op-ext-fusion-gain": {"cartesian", "single-partition window"},
    # dense-only control: the sanctioned IVF centroid-assign cartesian
    # (as op-ext-ann-ivf) under the same metrics tail
    # (registry_advanced.op_ext_fusion_baseline)
    "op-ext-fusion-baseline": {"cartesian"},
    # |labels|-row class-centroid frame broadcast onto the embedding
    # scan for the margin computation (registry_ml.py:891)
    "op-ext-calibration-ece": {"cartesian"},
    # 1-row scale-aware df-band frame (max(50, n_docs/100)) broadcast
    # onto the index (registry_corpus.py:691)
    "op-ext-inverted-index": {"cartesian"},
    # 1-row baseline min/max watermark + 1-row smoothed-total frame
    # broadcast onto the 10-bin spine (registry_analytics op-ext-psi)
    "op-ext-psi": {"cartesian"},
    # the two ≤50-row distinct-value count frames cross (l_quantity's
    # CONSTANT value domain) + a 1-row n_a/n_b frame attach
    "op-ext-cliffs-delta": {"cartesian"},
    # |S|²/2 pair spine × vocab cell grid from BROADCAST catalog-sized
    # frames (|sources| and the capped vocabulary are both
    # catalog-sized by contract — see the op docstring)
    "op-ext-js-divergence": {"cartesian"},
    # two 1-row broadcast scalar attaches (unigram + bigram totals,
    # registry_corpus.op_ext_pmi_collocations) onto the |bigram vocab|
    # lift frame — the op-agg-scalar-max watermark class
    "op-ext-pmi-collocations": {"cartesian"},
    # 1-row positive-balance stats frame (Σbal, n) broadcast onto the
    # customer dim for the exact integer above-average predicate
    "op-ext-tpch-q22": {"cartesian"},
    # 1-row estimate × 1-row truth frame assembled into the output row
    "op-ext-cms-join-size": {"cartesian"},
    # 1-row nation-total frame broadcast for the share-of-total HAVING
    "op-ext-tpch-q11": {"cartesian"},
    # 1-row theta/common/truth frames assembled into the output row;
    # their SinglePartition agg exchanges sit beside the legitimate
    # yr-partitioned sketch window (same shape as op-ext-kmv-sketch)
    "op-ext-kmv-intersect": {"cartesian", "single-partition window"},
    # 1-row adaptive-bin-width stats broadcast onto the point frame
    "op-ext-zorder": {"cartesian"},
    # k-means assign: corpus × broadcast n_clusters centroids (k tiny)
    "op-ext-ann-ivf": {"cartesian"},
    # same centroid-assign cartesian, run on the base slice at build
    # and the delta slice at arrival (extend_ivf_index) — both ×
    # broadcast 16-row centroid frame (registry_extensions._incr_index)
    "op-ext-ann-ivf-incremental": {"cartesian"},
    # the recall-sampled pair of sanctioned shapes over the incremental
    # index: pinned-100-query brute-force ground truth (O(100·C) by
    # contract) + the centroid-assign cartesian above
    "op-ext-ann-incr-recall": {"cartesian"},
    # centroid-assign cartesian (as above) + the 1-row total-counts
    # stats frame broadcast onto the k-row occupancy frame; the window
    # is build_ivf_index's seed ranking over the 16-row LIMIT frame
    # (n_clusters-sized by construction — the ivf-pq codebook-seed
    # class), surfacing here because no query_id-partitioned top-k
    # window follows to dominate the plan
    "op-ext-ann-cell-drift": {"cartesian", "single-partition window"},
    # same centroid-assign cartesian, auto-sized k (still ≪ n, broadcast)
    "op-ext-ann-ivf-scaled": {"cartesian"},
    # new-members numbering after the anti-join: dim-sized by construction
    "op-pipe-dim-upsert": {"cartesian", "single-partition window"},
    # same k-means centroid-assign cartesian as op-ext-ann-ivf, full probe
    "op-ext-ann-ivf-fullprobe": {"cartesian"},
    # ALL-PAIRS by definition: the exactness anchor that calibrates the
    # LSH-bucketed near-dup path (similarity.exact_near_dup_pairs)
    "op-ext-embed-neardup-exact": {"cartesian"},
    # 1-row corpus-count broadcast (N for idf): degenerate cross join +
    # single-partition agg on one row; the ranking window itself is
    # doc_id-partitioned with WindowGroupLimit pushdown
    "op-ext-tfidf": {"cartesian", "single-partition window"},
    # same 1-row corpus-stats broadcast as op-ext-tfidf (N + avgdl for
    # the idf/length normalization); the ranking window itself is
    # doc_id-partitioned
    "op-ext-bm25": {"cartesian", "single-partition window"},
    # distributed_ntile residue: constant-bounded bucket-offset window
    # + 1-row stats/count broadcasts (the ntile itself is distributed)
    "op-ext-ntile": {"cartesian", "single-partition window"},
    # distributed_prefix residue: constant-bounded bucket-offset window
    # + 1-row stats/count broadcasts (ranks themselves are distributed)
    "op-ext-percent-rank": {"cartesian", "single-partition window"},
    # ratio-to-report: the unpartitioned window sum runs over the
    # 25-row post-aggregate nation frame, never the fact (docstring)
    "op-ext-share-of-total": {"single-partition window"},
    # 9-row post-aggregate digit frame; same shape as share-of-total
    "op-ext-benford": {"single-partition window"},
    # 1-row corpus-count broadcast for lift's N (same shape as tfidf);
    # the pair join itself is keyed on the order
    "op-ext-assoc-rules": {"cartesian"},
    # 1-row max-date broadcast anchor + distributed_ntile residue
    # (constant-bounded bucket-offset windows, 1-row count broadcasts)
    "op-ext-rfm": {"cartesian", "single-partition window"},
    # junk-dim surrogate numbering runs on the post-distinct flag
    # combination frame (≤ product of flag cardinalities ≈ 10² rows)
    "op-ext-junk-dim": {"single-partition window"},
    # same k-means centroid-assign broadcast cartesian as op-ext-ann-ivf
    # (corpus × k tiny centroids); the dedup pair join is cluster-keyed
    "op-ext-semantic-dedup": {"cartesian"},
    # 1-row metric frames crossJoined into the single audit row
    "op-ext-bloom-semi": {"cartesian"},
    "op-ext-chisq": {"cartesian"},
    # same 1-row stat-frame crossjoins as chisq, plus the V final select
    "op-ext-cramers-v": {"cartesian"},
    "op-ext-triangle-count": {"cartesian"},
    # 5-row class frame + 1-row vocab-size frame broadcast onto tokens
    # (the 1-row aggs surface as SinglePartition exchanges beside the
    # doc_id-partitioned ranking window — same shape as op-ext-tfidf)
    "op-ext-text-classify": {"cartesian", "single-partition window"},
    # 1-row LM-total frames broadcast onto the doc-bigram stream
    "op-ext-importance-score": {"cartesian"},
    # 1-row child-count frames crossJoined into the per-check audit rows
    "op-ext-orphan-check": {"cartesian"},
    # the union-merge re-rank runs over the two fused 64-hash sketches
    # (≤128 rows — metadata-sized by construction)
    "op-ext-kmv-sketch": {"single-partition window"},
    # distributed_ntile residue + cumulative windows over the 10-row
    # decile frame
    "op-ext-decile-lift": {"cartesian", "single-partition window"},
    # reverse running sum over the post-aggregate tenure-month frame
    # (≤ months-span rows) + 1-row horizon broadcast
    "op-ext-lifetable": {"cartesian", "single-partition window"},
    # rides op-ext-text-classify's sanctioned shapes + |classes|²
    # confusion-matrix broadcast onto the 5-row class frame
    "op-ext-confusion": {"cartesian", "single-partition window"},
    # distributed_ar2 residue: constant-bounded bucket-offset window
    # + 1-row min/max and count broadcasts
    "op-ext-auc": {"cartesian", "single-partition window"},
    # distributed_prefix residue (both CDFs in one pass) + two 1-row
    # count broadcasts
    "op-ext-ks-test": {"cartesian", "single-partition window"},
    # distributed_ar2/_prefix residue (constant-bounded bucket-offset
    # window, 1-row stats broadcasts) — same shape as mannwhitney
    "op-ext-wilcoxon-signed-rank": {"cartesian", "single-partition window"},
    "op-ext-jonckheere": {"cartesian", "single-partition window"},
    "op-ext-histogram-equidepth": {"cartesian", "single-partition window"},
    # within-block (3-row) rank windows + the 1-row tie3 broadcast;
    # the only unpartitioned frame is the single agg row
    "op-ext-friedman": {"cartesian", "single-partition window"},
    # same 3-row block rank windows as friedman (no tie3 broadcast)
    "op-ext-page-trend": {"single-partition window"},
    # 9-row broadcast probe-offset frame crossJoined onto customers
    # (the cell join itself is a 2-column equi join)
    "op-ext-spatial-nn": {"cartesian"},
    "op-ext-spatial-range": {"cartesian"},
    "op-ext-spatial-knn": {"cartesian"},
    # 1-row corpus-totals frame (T tokens, k sources) broadcast onto
    # the |sources|-row aggregate — same shape as tfidf's N broadcast
    "op-ext-mix-weights": {"cartesian"},
    # 1-row budget broadcast + the boundary-bucket decomposition's two
    # tiny windows: bucket-table cumsum (≤1e6+1 rows by construction)
    # and the single threshold bucket's doc_id cumsum (docstring)
    "op-ext-token-budget-select": {"cartesian", "single-partition window"},
    # r14: same 1-row corpus-stats (avgdl/n_docs) broadcast crossjoins
    # as op-ext-bm25 beside query_id-partitioned rank windows; the
    # prune frames (qterms/theta/ess) are Q-bounded by contract
    # (registry_extensions._blockmax_frames)
    "op-ext-bm25-blockmax": {"cartesian", "single-partition window"},
    # the five 1-row count frames crossJoined into the single audit row
    # on top of blockmax's sanctioned shapes
    "op-ext-bm25-blockmax-audit": {"cartesian", "single-partition window"},
    # r14 filtered search: the sanctioned IVF centroid-assign cartesian
    # (corpus × broadcast 16-row centroids); the filter itself is an
    # EQUI-key of the (cluster, label-band) candidate join
    "op-ext-ann-filtered": {"cartesian"},
    # same IVF assign cartesian; the label filter applies to the
    # Q-bounded broadcast top-20 frame post-ranking
    "op-ext-ann-postfilter": {"cartesian"},
    # both strategy legs' sanctioned IVF shapes + the ground-truth pair
    # join, which is LABEL-keyed (O(Q·C/|labels|)) — tighter than the
    # cited O(100·C) recall-sampled contract cartesian it refines
    "op-ext-ann-filtered-recall": {"cartesian"},
}

# r14 row-local IVF assignment (operators/ivf._assign): the k-row
# centroid/codebook frame collapses into ONE broadcast array via a
# global collect_list aggregate — an Exchange SinglePartition over k
# rows (bytes, bounded by the cell count, never data-sized). The naive
# substring detector pairs that exchange with the same plans'
# query_id-PARTITIONED rank windows (and the k-row seed row_number)
# and fires; every data-sized window in these plans is key-partitioned.
# Sanction the pairing on every op that rides the IVF assign:
for _ivf_rider in (
    "op-ext-ann-ivf",
    "op-ext-ann-ivf-fullprobe",
    "op-ext-ann-ivf-scaled",
    "op-ext-ann-ivf-incremental",
    "op-ext-ann-incr-recall",
    "op-ext-ann-recall-sampled",
    "op-ext-ann-recall-surface",
    "op-ext-rank-fusion",
    "op-ext-fusion-baseline",
    "op-ext-semantic-dedup",
    "op-ext-ann-filtered",
    "op-ext-ann-postfilter",
    "op-ext-ann-filtered-recall",
):
    ALLOWED[_ivf_rider] = ALLOWED.get(_ivf_rider, set()) | {
        "single-partition window"
    }


def audit(plan: str) -> set[str]:
    flags: set[str] = set()
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        flags.add("cartesian")
    if "Exchange SinglePartition" in plan and "Window" in plan:
        flags.add("single-partition window")
    return flags


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as e
    from data_warehousing_assignment_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    bad = 0
    for name, fn in sorted(e.queries().items()):
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            print(f"ERROR {name}: {exc}")
            bad += 1
            continue
        flags = audit(plan) - ALLOWED.get(name, set())
        if flags:
            bad += 1
            print(f"FLAG  {name}: {sorted(flags)}")
    print(f"\n== {bad} flagged")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
