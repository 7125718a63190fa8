"""Stage-level profile of the near-dup curation funnel at a given SF.

Times each stage of operators/dedup.near_dup_clusters (exact collapse →
LSH candidates → n-gram Jaccard verify → connected components) by
forcing a count per stage, optionally comparing the verify stage WITH
and WITHOUT the provably-no-loss length-ratio prefilter (r10 verdict
item #4) — edge counts must match exactly (the gate is lossless), the
wall-clock delta is the measurement.

Usage:
    python tools/profile_funnel.py [sf_dir] [--prefilter-ab]

sf_dir defaults to the synthesized 100× corpus at .scratch/sf10
(created by bench.synthesize_sf10).
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    from pyspark.sql import functions as F

    from data_warehousing_assignment_spark.caching import cache_scope
    from data_warehousing_assignment_spark.operators import dedup as dd
    from data_warehousing_assignment_spark.operators.graph import (
        connected_components,
    )
    from data_warehousing_assignment_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    ab = "--prefilter-ab" in sys.argv
    sf_dir = args[0] if args else os.path.join(ROOT, ".scratch", "sf10")

    spark = get_spark()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k, bands, theta = 12, 4, 0.5

    with cache_scope():
        t0 = time.time()
        norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        hashed = docs.select("doc_id", F.md5(norm).alias("_h"))
        rep_of_hash = hashed.groupBy("_h").agg(F.min("doc_id").alias("_rep"))
        from data_warehousing_assignment_spark.caching import pin

        mapping = pin(hashed.join(rep_of_hash, "_h").select("doc_id", "_rep"))
        rep_rows = pin(
            docs.join(
                mapping.filter(F.col("doc_id") == F.col("_rep")).select(
                    "doc_id"
                ),
                "doc_id",
            )
        )
        n_reps = rep_rows.count()
        t1 = time.time()
        print(f"collapse: {t1 - t0:6.1f}s  reps={n_reps}")

        cands = pin(
            dd.minhash_lsh_candidates(rep_rows, "doc_id", "text", k, bands)
        )
        n_cands = cands.count()
        t2 = time.time()
        print(f"lsh:      {t2 - t1:6.1f}s  cands={n_cands}")

        runs = [(False, "verify (plain)     ")]
        if ab:
            runs.append((True, "verify (prefilter) "))
        edge_counts = []
        for pre, label in runs:
            tv = time.time()
            edges = dd.ngram_jaccard_pairs(
                rep_rows, cands, "doc_id", "text",
                threshold=theta, size_prefilter=pre,
            ).select("doc_a", "doc_b")
            n_edges = edges.count()
            edge_counts.append(n_edges)
            print(f"{label}: {time.time() - tv:6.1f}s  edges={n_edges}")
        if ab and edge_counts[0] != edge_counts[1]:
            print("FAIL: prefilter changed the edge set — NOT lossless")
            return 1

        t3 = time.time()
        edges = pin(
            dd.ngram_jaccard_pairs(
                rep_rows, cands, "doc_id", "text", threshold=theta
            ).select("doc_a", "doc_b")
        )
        comp = connected_components(
            rep_rows.select("doc_id"), edges, id_col="doc_id",
            src_col="doc_a", dst_col="doc_b",
        )
        n_comp = comp.select("component").distinct().count()
        print(f"cc:       {time.time() - t3:6.1f}s  clusters={n_comp}")
    print(f"total:    {time.time() - t0:6.1f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
