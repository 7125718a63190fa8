"""Product quantization: codebook exactness vs a numpy Lloyd replay,
training monotonicity, compression contract, and IVF-PQ recall vs the
exact brute-force baseline."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.operators import pq
from data_warehousing_assignment_spark.operators.ivf import _l2sq
from data_warehousing_assignment_spark.operators.similarity import (
    brute_force_cosine_topk,
    quantize,
)
from tests.conftest import SF_SMALL


def emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")


def _np_codebooks(vecs: dict[int, np.ndarray], n_iters: int = 2):
    """Independent numpy replay of pq_codebooks' exact-integer Lloyd:
    micro-unit quantize → per-subspace seed from the PQ_K lowest ids →
    assign by exact squared-L2 (code tiebreak) → integer round-half-
    away-from-zero mean."""
    ids = sorted(vecs)
    q = {
        i: np.floor(np.asarray(vecs[i], dtype=np.float64) * 1e6).astype(
            np.int64
        )
        for i in ids
    }
    books = {}  # m -> {code: np.array dsub}
    for m in range(pq.PQ_M):
        lo, hi = m * pq.PQ_DSUB, (m + 1) * pq.PQ_DSUB
        sub = {i: q[i][lo:hi] for i in ids}
        cb = {c: sub[ids[c]].copy() for c in range(pq.PQ_K)}
        for _ in range(n_iters):
            assign = {}
            for i in ids:
                best = min(
                    cb, key=lambda c: (int(((sub[i] - cb[c]) ** 2).sum()), c)
                )
                assign[i] = best
            nxt = {}
            for c in set(assign.values()):
                members = [sub[i] for i in ids if assign[i] == c]
                s = np.sum(members, axis=0, dtype=np.int64)
                n = len(members)
                mean = np.where(
                    s >= 0, (2 * s + n) // (2 * n), -((2 * (-s) + n) // (2 * n))
                )
                nxt[c] = mean.astype(np.int64)
            cb = nxt
        books[m] = cb
    return books


def test_codebooks_match_numpy_replay(spark):
    corpus = emb(spark).limit(150)  # > PQ_K seeds, small enough to replay
    rows = corpus.select("vec_id", "embedding").collect()
    vecs = {r.vec_id: np.array(r.embedding) for r in rows}
    expected = _np_codebooks(vecs)
    got = {
        (r.m, r.code): list(r.cw)
        for r in pq.pq_codebooks(corpus).collect()
    }
    exp_flat = {
        (m, c): list(map(int, cw))
        for m, cb in expected.items()
        for c, cw in cb.items()
    }
    assert got == exp_flat


def _qvecs(corpus):
    return corpus.select(
        F.col("vec_id").alias("_id"), quantize("embedding").alias("_qv")
    )


def _slices(vecs):
    """(_id, m, sv): every vector's M subvector slices, one row each."""
    return vecs.select(
        "_id",
        F.expr(
            f"posexplode(transform(sequence(0, {pq.PQ_M - 1}),"
            f" m -> slice(_qv, m * {pq.PQ_DSUB} + 1, {pq.PQ_DSUB}))) AS (m, sv)"
        ),
    )


def _window_codes(vecs, books):
    """Reference argmin: explicit squared-L2 per (vector, subspace,
    codeword) + row_number over (distance, code)."""
    from pyspark.sql import Window

    scored = _slices(vecs).join(F.broadcast(books), "m").select(
        "_id", "m", "code", _l2sq("sv", "cw").alias("_d")
    )
    w = Window.partitionBy("_id", "m").orderBy("_d", "code")
    return {
        (r._id, r.m): r.code
        for r in scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .collect()
    }


def test_nearest_code_agg_path_matches_window_ranking(spark):
    """pq_encode's row-local argmin (the kernel's nearest_sql over the
    broadcast book) must reproduce the window formulation's rank-1
    codeword exactly — the ‖cw‖²−2·sv·cw ≡ ‖sv−cw‖² order equivalence
    and the code-id tie-break. Real vectors are encoded against a
    codebook trained on a PREFIX, so assignments are non-trivial for
    the held-out rows; a hand-built book adds an exact tie."""
    corpus = emb(spark).orderBy("vec_id").limit(120)
    trained = pq.pq_codebooks(corpus.orderBy("vec_id").limit(80), n_iters=1)
    # every subspace: vec 1 sits exactly between codes 0 and 1 (tie →
    # code 0), vec 2 is nearer code 1, vec 3 nearest code 2.
    d = pq.PQ_DSUB
    unit = lambda x, y: [x, y] + [0] * (d - 2)
    tie_vecs = spark.createDataFrame(
        [(1, unit(5, 0) * pq.PQ_M), (2, unit(9, 1) * pq.PQ_M),
         (3, unit(90, 90) * pq.PQ_M)],
        "_id bigint, _qv array<bigint>",
    )
    tie_books = spark.createDataFrame(
        [(m, c, cw) for m in range(pq.PQ_M)
         for c, cw in enumerate([unit(0, 0), unit(10, 0), unit(100, 100)])],
        "m int, code int, cw array<bigint>",
    )
    for vecs, books in ((_qvecs(corpus), trained), (tie_vecs, tie_books)):
        ref = _window_codes(vecs, books)
        got = {
            (r._id, m): code
            for r in pq.pq_encode(vecs, books).collect()
            for m, code in enumerate(r.codes)
        }
        assert got == ref
    got = {r._id: list(r.codes) for r in pq.pq_encode(tie_vecs, tie_books).collect()}
    assert got == {1: [0] * pq.PQ_M, 2: [1] * pq.PQ_M, 3: [2] * pq.PQ_M}


def test_packed_encode_matches_rowwise_encode_and_norms(spark):
    """pq_encode's packed row (codes array + nx) must reproduce a
    long-form encode — one row per (vector, subspace), argmin by
    MIN(struct(‖sv−cw‖², code)) — EXACTLY, and its nx must equal the
    sum of the chosen codewords' ‖cw‖². Codebook trained on a PREFIX so
    assignments are non-trivial for the held-out rows."""
    corpus = emb(spark).orderBy("vec_id").limit(150)
    books = pq.pq_codebooks(corpus.orderBy("vec_id").limit(80), n_iters=1)
    vecs = _qvecs(corpus)
    rowwise = (
        _slices(vecs)
        .join(F.broadcast(books), "m")
        .groupBy("_id", "m")
        .agg(F.min(F.struct(_l2sq("sv", "cw").alias("d"), "code")).alias("b"))
    )
    ref_codes = {(r._id, r.m): r.b.code for r in rowwise.collect()}
    nn = {
        (r.m, r.code): sum(int(x) * int(x) for x in r.cw)
        for r in books.collect()
    }
    packed = pq.pq_encode(vecs, books).select("_id", "codes", "nx").collect()
    assert len(packed) == corpus.count()
    assert len(ref_codes) == len(packed) * pq.PQ_M
    for r in packed:
        assert len(r.codes) == pq.PQ_M
        for m, code in enumerate(r.codes):
            assert ref_codes[(r._id, m)] == code
        assert r.nx == sum(nn[(m, c)] for m, c in enumerate(r.codes))


def test_training_reduces_quantization_error(spark):
    """Lloyd monotonicity on exact integers: total squared quantization
    error after 2 rounds must not exceed the seed codebook's error."""
    corpus = emb(spark)
    vecs = _qvecs(corpus)

    def total_err(codebooks):
        chosen = (
            pq.pq_encode(vecs, codebooks)
            .select("_qv", F.expr("posexplode(codes) AS (m, code)"))
            .select(
                "m", "code",
                F.expr(f"slice(_qv, m * {pq.PQ_DSUB} + 1, {pq.PQ_DSUB})")
                .alias("sv"),
            )
            .join(F.broadcast(codebooks), ["m", "code"])
        )
        return chosen.select(_l2sq("sv", "cw").alias("e")).agg(F.sum("e")).first()[0]

    seeds = pq.pq_codebooks(corpus, n_iters=0)
    trained = pq.pq_codebooks(corpus, n_iters=2)
    assert total_err(trained) <= total_err(seeds)


def test_codes_are_compact_and_total(spark):
    """Every vector gets exactly PQ_M codes, each in [0, PQ_K) — the
    32x-compression contract (8 small ints per 64-dim float vector)."""
    corpus = emb(spark)
    books = pq.pq_codebooks(corpus)
    codes = pq.pq_encode(_qvecs(corpus), books)
    n = corpus.count()
    assert codes.count() == n
    assert codes.select("_id").distinct().count() == n
    bad = codes.filter(
        F.expr(
            f"size(codes) <> {pq.PQ_M}"
            f" OR exists(codes, c -> c < 0 OR c >= {pq.PQ_K})"
        )
    ).count()
    assert bad == 0


def test_ivf_pq_recall_matches_ivf_exact(spark):
    """The loss budget: IVF-ADC+R must recover the IVF-EXACT result on
    its own candidate ceiling — i.e. the ADC shortlist + re-rank loses
    nothing the cells kept. Measured on sf0.001 at the r12 operating
    point (n_probe=8, rerank=100): both at recall@5 0.80 vs brute force
    (the 8/16-probe candidate ceiling; the old 4-probe/rerank-25 point
    sat at 0.48). Pinned as: pq recall ≥ ivf-exact recall at the SAME
    probe count."""
    from data_warehousing_assignment_spark.operators import ivf

    corpus = emb(spark)
    queries = corpus.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_cosine_topk(corpus, queries, k=5).collect()
    }
    ivf_exact = {
        (r.query_id, r.neighbor_id)
        for r in ivf.ivf_cosine_topk(
            corpus, queries, k=5, n_clusters=16, n_probe=8
        ).collect()
    }
    approx = pq.ivf_pq_cosine_topk(corpus, queries, k=5).collect()
    got = {(r.query_id, r.neighbor_id) for r in approx}
    assert len(got) == len(exact)  # 5 per query, no self-matches
    recall_pq = len(got & exact) / len(exact)
    recall_ivf = len(ivf_exact & exact) / len(exact)
    assert recall_pq >= recall_ivf
    by_q = {}
    for r in approx:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(x.rank for x in rs)
        assert ranks == [1, 2, 3, 4, 5]
        scores = [x.score for x in sorted(rs, key=lambda x: x.rank)]
        assert scores == sorted(scores, reverse=True)
