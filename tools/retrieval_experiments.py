"""Round-14 retrieval measurements (reproducible; numbers quoted in
BASELINE.md "## Round 14"):

1. Block-max/MaxScore prune reduction by TERM SPACE — the synthetic
   corpus's unigram vocabulary is deliberately tiny and dense (every doc
   matches ~every query through some term), the worst case for
   candidate-level pruning; the ~quadratically sparser bigram space
   probes whether rarer terms change the picture (measured: no — its
   θ pools are too thin to prune, see BASELINE.md); the `zipf` mode
   projects the posting lists onto a deterministic Zipf(1) df profile
   (md5-ranked tokens keep ~1/rank of their postings) — the
   natural-language skew regime the production form targets, where the
   prune is expected to WIN (measured numbers in BASELINE.md r14).
2. Filtered-search recall vs predicate selectivity — filter-aware
   candidate generation (label band as an equi-key of the probed-cell
   join) vs post-filtering the unfiltered top-20, both against the
   brute-force filtered ground truth on the fixed 100-query sample.

Both measurements call the SAME bodies the oracle-gated ops run
(_blockmax_count_row over _blockmax_frames; _filtered_truth_hits) — no
copied logic, so the published numbers cannot drift from the attested
contracts (r14 self-review).

Usage: python tools/retrieval_experiments.py [sf_dir ...]
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def blockmax_reduction(spark, sf_dir: str, mode: str) -> dict:
    from data_warehousing_assignment_spark.registry_extensions import (
        _blockmax_count_row,
        _blockmax_frames,
    )

    frames = _blockmax_frames(
        spark,
        sf_dir,
        bigram_terms=(mode == "bigram"),
        zipf_skew=(mode == "zipf"),
    )
    row = _blockmax_count_row(frames).collect()[0]
    # engine-side only: the lossless SQL semi-count of this stream spills
    # past the harness disk at sf10 (see the audit op docstring)
    scored_rows = frames["scored_stream"].count()
    unpruned, essential = row["unpruned_rows"], row["essential_rows"]
    return {
        "terms": mode,
        "unpruned_rows": unpruned,
        "essential_rows": essential,
        "n_candidates": row["n_candidates"],
        "scored_rows": scored_rows,
        "candgen_reduction_pct": round(100 * (1 - essential / unpruned), 1),
        "total_vs_naive_pct": round(
            100 * (essential + scored_rows) / unpruned, 1
        ),
    }


def filtered_recall(spark, sf_dir: str, band: int) -> dict:
    from pyspark.sql import functions as F

    from data_warehousing_assignment_spark.registry_extensions import (
        _filtered_truth_hits,
    )

    agg = (
        _filtered_truth_hits(spark, sf_dir, band=band)
        .agg(
            F.sum("n_truth").alias("n_truth"),
            F.sum("n_hits_aware").alias("hits_aware"),
            F.sum("n_hits_post").alias("hits_post"),
        )
        .collect()[0]
    )
    return {
        "band": band,
        "selectivity_pct": band * 10,
        "n_truth": agg["n_truth"],
        "recall_aware_pct": round(100 * agg["hits_aware"] / agg["n_truth"], 1),
        "recall_post_pct": round(100 * agg["hits_post"] / agg["n_truth"], 1),
    }


def main() -> int:
    from data_warehousing_assignment_spark.caching import release_unscoped
    from data_warehousing_assignment_spark.session import get_spark

    spark = get_spark("retrieval-experiments")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.01"]
    out: dict = {}
    for sf_dir in sf_dirs:
        rows = []
        for mode in ("unigram", "bigram", "zipf"):
            rows.append(blockmax_reduction(spark, sf_dir, mode))
            release_unscoped()
        sweeps = []
        for band in (1, 2, 5, 10):
            sweeps.append(filtered_recall(spark, sf_dir, band))
            release_unscoped()
        out[sf_dir] = {"blockmax": rows, "filtered_recall": sweeps}
        print(json.dumps({sf_dir: out[sf_dir]}, indent=2), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
