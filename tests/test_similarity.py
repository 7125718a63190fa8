"""Similarity-search tests: deterministic cosine vs numpy, brute-force
top-k correctness, and LSH recall against the brute-force baseline on the
real sf0.001 embeddings table."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.operators import similarity as sim
from tests.conftest import SF_SMALL

VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0, 0.0]),   # close to 0
    (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
    (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
]


def vec_df(spark):
    return spark.createDataFrame(VECS, "vec_id int, embedding array<float>")


def np_cos(a, b):
    # the Spark column is array<float>: round-trip through float32 first,
    # exactly like the stored values the engine quantizes
    qa = np.floor(np.asarray(a, dtype=np.float32).astype(np.float64) * 1e6)
    qb = np.floor(np.asarray(b, dtype=np.float32).astype(np.float64) * 1e6)
    return float(qa @ qb / (math.sqrt(qa @ qa) * math.sqrt(qb @ qb)))


def test_cosine_matches_numpy_quantized(spark):
    a = sim.quantized_rows(vec_df(spark), "ia", "qa", "na")
    b = sim.quantized_rows(vec_df(spark), "ib", "qb", "nb")
    out = a.crossJoin(b).selectExpr(
        "ia", "ib", f"{sim.cosine_sql('qa', 'qb', 'na', 'nb')} AS c"
    ).collect()
    by_pair = {(r.ia, r.ib): r.c for r in out}
    for (ia, va), (ib, vb) in [(VECS[i], VECS[j]) for i in range(4) for j in range(4)]:
        assert by_pair[(ia, ib)] == pytest.approx(np_cos(va, vb), abs=1e-12)


def test_brute_force_topk_ranks_correctly(spark):
    df = vec_df(spark)
    out = sim.brute_force_cosine_topk(df, df.filter(F.col("vec_id") == 0), k=3)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert [r.neighbor_id for r in rows] == [1, 2, 3]  # by descending cosine
    assert rows[0].score > rows[1].score > rows[2].score


def test_lsh_recall_on_real_embeddings(spark):
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = sim.brute_force_cosine_topk(emb, queries, k=5)
    approx = sim.lsh_cosine_topk(emb, queries, k=5, n_planes=4)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 4 hyperplanes → 16 buckets; same-bucket required ⇒ imperfect recall,
    # but far better than chance. Deterministic hashing ⇒ stable number.
    assert recall >= 0.3, f"recall {recall:.2f}"


def test_embedding_near_dup_pairs_symmetric_free(spark):
    df = vec_df(spark)
    out = sim.embedding_near_dup_pairs(df, threshold=0.9, n_planes=2).collect()
    for r in out:
        assert r.doc_a < r.doc_b
        assert r.cosine >= 0.9


def test_lsh_probe_all_equals_brute_force(spark):
    """probe_all=True covers every sign bucket ⇒ identical output to the
    brute-force baseline (the equivalence op-ext-ann-lsh-fullprobe's
    shared oracle relies on)."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = sim.brute_force_cosine_topk(emb, queries, k=5)
    full = sim.lsh_cosine_topk(emb, queries, k=5, probe_all=True)
    canon = lambda df: sorted(
        (r.query_id, r.neighbor_id, r.rank, r.score) for r in df.collect()
    )
    assert canon(full) == canon(exact)


def test_exact_near_dup_superset_of_bucketed(spark):
    """The all-pairs anchor finds every pair the bucketed LSH variant
    finds (LSH may only MISS pairs, never invent them), and every pair
    clears the threshold."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    exact = {
        (r.doc_a, r.doc_b)
        for r in sim.exact_near_dup_pairs(emb, threshold=0.5).collect()
    }
    bucketed = {
        (r.doc_a, r.doc_b)
        for r in sim.embedding_near_dup_pairs(emb, threshold=0.5).collect()
    }
    assert bucketed <= exact
    for a, b in exact:
        assert a < b


def test_label_centroids_match_numpy(spark):
    """Distributed per-label centroid ≡ numpy mean of the same vectors
    (to float-accumulation tolerance), dims in order."""
    import numpy as np

    from data_warehousing_assignment_spark.operators.similarity import (
        label_centroids,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    got = {
        r.label: (r.n_vecs, list(r.centroid))
        for r in label_centroids(emb, "label", "embedding").collect()
    }
    by_label = {}
    for r in emb.select("label", "embedding").collect():
        by_label.setdefault(r.label, []).append(r.embedding)
    assert set(got) == set(by_label)
    for lbl, vecs in by_label.items():
        n, cent = got[lbl]
        assert n == len(vecs)
        ref = np.asarray(vecs, dtype=np.float64).mean(axis=0)
        assert np.allclose(np.asarray(cent), ref, rtol=1e-9, atol=1e-12)


def test_label_centroid_digest_matches_python(spark):
    """Engine-exact twin: int64 micro-unit sums, digest, and quantized-mean
    L2 reproduce a pure-Python computation bit-for-bit."""
    import hashlib
    import math

    from data_warehousing_assignment_spark.operators.similarity import (
        label_centroid_digest,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    got = {
        r.label: (r.n_vecs, r.n_dims, r.centroid_l2, r.centroid_digest)
        for r in label_centroid_digest(emb, "label", "embedding").collect()
    }
    by_label = {}
    for r in emb.select("label", "embedding").collect():
        by_label.setdefault(r.label, []).append(
            [math.floor(float(x) * 1_000_000.0) for x in r.embedding]
        )
    assert set(got) == set(by_label)
    for lbl, qvecs in by_label.items():
        n_vecs, n_dims, l2, digest = got[lbl]
        assert n_vecs == len(qvecs)
        assert n_dims == len(qvecs[0])
        sums = [sum(col) for col in zip(*qvecs)]
        assert digest == hashlib.md5("|".join(map(str, sums)).encode()).hexdigest()
        want_l2 = math.sqrt(float(sum(s * s for s in sums))) / (
            float(len(qvecs)) * 1_000_000.0
        )
        assert l2 == want_l2  # exact: one cast->sqrt->divide chain


def test_label_centroids_n_vecs_counts_rows_not_dims(spark):
    """Ragged vectors: n_vecs must be the row count, not the max per-dim
    count (ADVICE r6 — the two diverge when dims are missing)."""
    from data_warehousing_assignment_spark.operators.similarity import (
        label_centroids,
    )

    df = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("a", [3.0]), ("b", [5.0, 7.0])],
        "label string, embedding array<float>",
    )
    got = {
        r.label: (r.n_vecs, list(r.centroid))
        for r in label_centroids(df, "label", "embedding").collect()
    }
    assert got["a"][0] == 2 and got["b"][0] == 1
    assert got["a"][1] == [2.0, 2.0]  # dim1 mean over the 1 present value
    assert got["b"][1] == [5.0, 7.0]
