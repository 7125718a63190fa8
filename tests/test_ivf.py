"""IVF ANN: index invariants, recall vs the brute-force baseline, and
the n_probe = n_clusters ≡ exact-search equivalence."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_warehousing_assignment_spark.operators import ivf
from data_warehousing_assignment_spark.operators.similarity import (
    brute_force_cosine_topk,
    lsh_cosine_topk,
    quantize,
)
from tests.conftest import SF_SMALL


def emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")


def test_index_partitions_corpus(spark):
    corpus = emb(spark)
    centroids, assignments = ivf.build_ivf_index(corpus, n_clusters=8, n_iters=1)
    assert centroids.count() == 8
    # every vector lands in exactly one cell
    assert assignments.count() == corpus.count()
    assert assignments.select("vec_id").distinct().count() == corpus.count()
    assert assignments.agg(F.countDistinct("cluster")).first()[0] <= 8


def test_assign_agg_path_matches_window_ranking_and_tiebreak(spark):
    """The r14 n_probe=1 fast path (map-side MIN(struct(_d, cluster))
    over the norm-decomposed ordering key) must reproduce the window
    formulation's rank-1 row exactly — including the cluster-id
    tie-break on equidistant centroids and the ‖b‖²−2a·b ≡ ‖a−b‖²
    order equivalence."""
    from pyspark.sql import Window

    vecs = spark.createDataFrame(
        # vec 1 sits exactly between centroids 0 and 1 → tie → cluster 0;
        # vec 2 nearer centroid 1; vec 3 nearer centroid 0.
        [(1, [5, 0]), (2, [9, 1]), (3, [2, -1]), (4, [0, 0]), (5, [10, 10])],
        "_id int, qvec array<bigint>",
    )
    cents = spark.createDataFrame(
        [(0, [0, 0]), (1, [10, 0]), (2, [100, 100])],
        "cluster int, centroid array<bigint>",
    )
    fast = {
        (r._id, r.cluster)
        for r in ivf._assign(vecs, cents).select("_id", "cluster").collect()
    }
    # reference: explicit squared-L2 + row_number window (the pre-r14
    # formulation, kept inline as the semantic spec)
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        "_id", "cluster", ivf._l2sq(F.col("qvec"), F.col("centroid")).alias("_d")
    )
    w = Window.partitionBy("_id").orderBy("_d", "cluster")
    ref = {
        (r._id, r.cluster)
        for r in scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("_id", "cluster")
        .collect()
    }
    assert fast == ref
    assert (1, 0) in fast  # the equidistant tie resolves to the lower id


def test_full_probe_equals_exact(spark):
    """Probing every IVF cell or every LSH bucket is exact search: the
    same neighbors, ranks and bit-equal scores as brute force, since all
    three score with the one cosine text."""
    corpus = emb(spark).limit(200)
    queries = corpus.filter(F.col("vec_id") % 50 == 0)
    exact = brute_force_cosine_topk(corpus, queries, k=3)
    full = ivf.ivf_cosine_topk(
        corpus, queries, k=3, n_clusters=4, n_probe=4
    )
    lsh_full = lsh_cosine_topk(corpus, queries, k=3, probe_all=True)
    canon = lambda df: sorted(
        (r.query_id, r.neighbor_id, r.rank, r.score) for r in df.collect()
    )
    assert canon(full) == canon(exact)
    assert canon(lsh_full) == canon(exact)


def test_recall_beats_chance_and_grows_with_probes(spark):
    corpus = emb(spark)
    queries = corpus.filter(F.col("vec_id") % 50 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_cosine_topk(corpus, queries, k=5).collect()
    }

    def recall(n_probe):
        approx = {
            (r.query_id, r.neighbor_id)
            for r in ivf.ivf_cosine_topk(
                corpus, queries, k=5, n_clusters=16, n_probe=n_probe
            ).collect()
        }
        return len(exact & approx) / len(exact)

    r2, r8 = recall(2), recall(8)
    assert r8 >= r2  # more probes → no worse
    assert r8 >= 0.4, f"recall@8probes {r8:.2f}"


def test_checkpointed_lloyd_matches_plain(spark):
    """Truncating the centroid lineage between Lloyd rounds, as a long
    convergence run would, leaves the centroids unchanged."""
    corpus = emb(spark).limit(300)
    plain_c, _ = ivf.build_ivf_index(corpus, n_clusters=6, n_iters=3)
    ck_c, _ = ivf.build_ivf_index(corpus, n_clusters=6, n_iters=1)
    vecs = corpus.select(F.col("vec_id").alias("_id"), quantize("embedding").alias("qvec"))
    for _ in range(2):
        ck_c = ivf.lloyd_means(
            ivf._assign(vecs, ck_c.localCheckpoint(eager=True)),
            ["cluster"], "qvec", "centroid",
        )
    canon = lambda df: sorted(
        (r.cluster, tuple(r.centroid)) for r in df.collect()
    )
    assert canon(ck_c) == canon(plain_c)


def test_saved_index_reuse_skips_kmeans(spark, tmp_path):
    corpus = emb(spark).limit(200)
    queries = corpus.filter(F.col("vec_id") % 40 == 0)
    built = ivf.build_ivf_index(corpus, n_clusters=4)
    ivf.save_ivf_index(*built, str(tmp_path / "idx"))
    index = ivf.load_ivf_index(spark, str(tmp_path / "idx"))

    fresh = ivf.ivf_cosine_topk(corpus, queries, k=3, n_clusters=4, n_probe=4)
    reused = ivf.ivf_cosine_topk(
        corpus, queries, k=3, n_probe=4, index=index
    )
    # the reuse plan must contain no Lloyd stages: posexplode + avg only
    # occur in the k-means update step, absent when the index is loaded.
    plan = reused._jdf.queryExecution().explainString(
        reused._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "posexplode" not in plan.lower()
    canon = lambda df: sorted(
        (r.query_id, r.neighbor_id, r.rank) for r in df.collect()
    )
    assert canon(reused) == canon(fresh)


def test_auto_n_clusters_cost_model():
    # k* = sqrt(Q*n_probe*n / (R*n + Q)); sf10 regime (1M corpus, 10k
    # queries, n_probe=4, 3 passes) must land between the measured
    # bracketing points 16 (80.7s) and 256 (56.4s), near the 35.2s k=64.
    k = ivf.auto_n_clusters(1_000_000, 10_000, n_probe=4)
    assert 64 <= k <= 200
    # floor: tiny corpora keep the pinned default
    assert ivf.auto_n_clusters(500, 5) == 16
    # clamp: never more cells than n/8
    assert ivf.auto_n_clusters(1_000, 1_000_000, n_probe=16) == 125
    # degenerate inputs return the floor instead of ZeroDivisionError
    # (r14 self-review: an empty corpus must degrade to empty frames
    # through the gate, not crash in Python)
    assert ivf.auto_n_clusters(0, 0) == 16
    assert ivf.auto_n_clusters(100, 0) == 16
    assert ivf.auto_n_clusters(0, 100) == 16


def test_auto_sizing_end_to_end(spark):
    corpus = emb(spark).limit(300)
    queries = corpus.filter(F.col("vec_id") % 50 == 0)
    out = ivf.ivf_cosine_topk(corpus, queries, k=3, n_clusters="auto")
    rows = out.collect()
    assert out.columns == ["query_id", "neighbor_id", "rank", "score"]
    assert rows and all(1 <= r.rank <= 3 for r in rows)
    # every query that has neighbors returns a full (or truncated) top-k
    per_q = {r.query_id for r in rows}
    assert per_q == {r.vec_id for r in queries.collect()}


def test_scaled_oracle_k_matches_auto_n_clusters():
    """The op-ext-ann-ivf-scaled oracle derives k in SQL (kk CTE); it
    must equal operators/ivf.auto_n_clusters bit-for-bit across regimes
    (tiny → floor clamp, sf1-ish, sf10-ish, n/8 clamp) or the replay
    diverges exactly when the parameterization matters."""
    import duckdb

    from data_warehousing_assignment_spark.registry_extensions import (
        IVF_KK_EXPR,
    )

    sql = f"""
    SELECT {IVF_KK_EXPR.format(n='n', q='q')} AS k
    FROM (SELECT CAST(? AS BIGINT) AS n, CAST(? AS BIGINT) AS q)
    """
    cases = [
        (500, 5),
        (6000, 60),
        (50_000, 500),
        (500_000, 5_000),
        (1_000_000, 10_000),
        (1_000, 1_000_000),
        (128, 1),
        # >2^53 product regimes (r10 advice): q·4·n exceeds double's
        # exact-integer range, so BOTH sides must round numerator and
        # denominator to double separately before dividing or
        # FLOOR(SQRT(...)) can flip by 1. Kept below the shared 2^63
        # BIGINT domain limit documented in auto_n_clusters.
        (2**40, 2**20),
        (2**45, 2**15),
        (10**12 + 7, 10**6 + 3),
        (2**52 + 1, 2**8 + 1),
    ]
    con = duckdb.connect()
    for n, q in cases:
        got = con.execute(sql, [n, q]).fetchone()[0]
        want = ivf.auto_n_clusters(n, q, n_probe=4)
        assert got == want, (n, q, got, want)


def test_recall_surface_matches_set_intersection(spark):
    """op-ext-ann-recall-surface must equal the literal set math over
    its two constituent ops: per query, hits = |ivf top5 ∩ exact top5|
    and recall_ppm = 1e6·hits // 5, one row per query in the %50 audit
    spine."""
    from data_warehousing_assignment_spark.registry_extensions import (
        op_ext_ann_recall_surface,
    )

    corpus = emb(spark)
    queries = corpus.filter(F.col("vec_id") % 50 == 0)
    nq = queries.count()
    exact = {}
    for r in brute_force_cosine_topk(corpus, queries, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = {}
    for r in ivf.ivf_cosine_topk(
        corpus, queries, k=5, n_clusters=16, n_probe=8
    ).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {r.query_id: (r.n_hits, r.recall_ppm)
           for r in op_ext_ann_recall_surface(spark, SF_SMALL).collect()}
    assert len(got) == nq
    for q, (hits, ppm) in got.items():
        expect = len(exact[q] & approx.get(q, set()))
        assert hits == expect
        assert ppm == (1000000 * hits) // 5
        assert 0 <= hits <= 5


def test_extend_ivf_index_equals_full_assignment(spark):
    """The oracle-equivalence claim of op-ext-ann-ivf-incremental,
    pinned engine-side: because build_ivf_index's base assignments are
    themselves argmin against the final frozen centroids, base-assign ∪
    delta-assign (extend_ivf_index) must equal assigning the FULL
    corpus against those same centroids row-for-row — and the union
    covers every corpus vector exactly once."""
    corpus = emb(spark)
    base = corpus.filter(F.col("vec_id") % 10 != 0)
    delta = corpus.filter(F.col("vec_id") % 10 == 0)
    centroids, base_assign = ivf.build_ivf_index(base, n_clusters=16)
    _, union_assign = ivf.extend_ivf_index(centroids, base_assign, delta)

    vecs = corpus.select(
        F.col("vec_id").alias("_id"),
        quantize("embedding").alias("qvec"),
    )
    full_assign = ivf._assign(vecs, centroids).select(
        F.col("_id").alias("vec_id"), "cluster"
    )
    got = sorted(map(tuple, union_assign.collect()))
    expect = sorted(map(tuple, full_assign.collect()))
    assert got == expect
    assert len(got) == corpus.count()
    # and an EMPTY delta is the identity on the index
    _, same = ivf.extend_ivf_index(
        centroids, base_assign, delta.filter(F.lit(False))
    )
    assert sorted(map(tuple, same.collect())) == sorted(
        map(tuple, base_assign.collect())
    )


def test_cell_drift_counts_cover_corpus(spark):
    """op-ext-ann-cell-drift structural pins next to its oracle gate:
    base+delta occupancy covers the corpus exactly once, ppm shares
    are truncating-div exact, and the signed shifts cancel to within
    per-cell truncation (|Σ shift_ppm| < n_cells)."""
    from data_warehousing_assignment_spark.registry_extensions import (
        op_ext_ann_cell_drift,
    )

    corpus = emb(spark)
    rows = op_ext_ann_cell_drift(spark, SF_SMALL).collect()
    assert sum(r.n_base + r.n_delta for r in rows) == corpus.count()
    tb = sum(r.n_base for r in rows)
    td = sum(r.n_delta for r in rows)
    for r in rows:
        assert r.base_ppm == (1000000 * r.n_base) // tb
        assert r.delta_ppm == (1000000 * r.n_delta) // td
        assert r.shift_ppm == r.delta_ppm - r.base_ppm
    assert abs(sum(r.shift_ppm for r in rows)) < len(rows)


def test_cell_drift_alarm_fires_on_skewed_delta(spark):
    """Sensitivity pin for the drift alarm: on the uniform test corpus
    shift_ppm reads ~0 (covered above), which alone leaves 'does the
    alarm ever fire?' unanswered. Feed the factored arithmetic an
    adversarial assignment — base spread over two cells, the whole
    delta batch landing in cell 1 — and the ppm shifts must report
    exactly the skew."""
    from data_warehousing_assignment_spark.registry_extensions import (
        _cell_drift_frame,
    )

    base = [(i, i % 2) for i in range(1, 100) if i % 10 != 0]
    delta = [(i, 1) for i in range(10, 100, 10)]
    assign = spark.createDataFrame(
        base + delta, "vec_id: bigint, cluster: int"
    )
    got = {r.cluster: r for r in _cell_drift_frame(assign).collect()}
    nb0 = sum(1 for _, c in base if c == 0)
    nb1 = sum(1 for _, c in base if c == 1)
    tb, td = len(base), len(delta)
    assert (got[0].n_base, got[0].n_delta) == (nb0, 0)
    assert (got[1].n_base, got[1].n_delta) == (nb1, td)
    assert got[0].delta_ppm == 0
    assert got[1].delta_ppm == 1000000
    assert got[0].shift_ppm == 0 - (1000000 * nb0) // tb
    assert got[1].shift_ppm == 1000000 - (1000000 * nb1) // tb
    # the alarm signal: the flooded cell's shift is strongly positive
    assert got[1].shift_ppm > 400000


def test_probe_cell_topk_np_matches_join_formulation(spark):
    """The r14 cogrouped numpy probe scan must reproduce the pre-r14
    pair-join + global-window formulation EXACTLY — same (query_id,
    neighbor_id, rank) and bit-identical score doubles — including:
    score ties at the k boundary (lowest neighbor_id wins), self-pair
    exclusion, a zero-norm corpus vector (the JVM's 0-denominator
    division yields NULL under the engine session — DESC-sorts last;
    the numpy NaN must land in the same place with the same null
    value), and a query probing a cell with fewer than k candidates."""
    from pyspark.sql import Window

    # corpus: cluster 0 holds ties (two identical vectors) + a zero
    # vector (NaN score); cluster 1 is smaller than k.
    cells = spark.createDataFrame(
        [
            (10, [4, 0], 0),
            (11, [4, 0], 0),   # tie with 10 on every query
            (12, [0, 0], 0),   # zero norm → NULL score, ranks last
            (13, [1, 3], 0),
            (14, [9, 9], 1),
            (1, [7, 7], 1),    # self-pair for query 1
        ],
        "neighbor_id bigint, cv array<bigint>, cluster int",
    ).withColumn(
        "_nc",
        F.sqrt(
            F.aggregate(
                F.zip_with("cv", "cv", lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda a, x: a + x,
            ).cast("double")
        ),
    )
    probes = spark.createDataFrame(
        [
            (1, [1, 1], 0),
            (1, [1, 1], 1),   # second probed cell, has 1's own row
            (2, [2, 1], 0),
            (2, [2, 1], 1),
        ],
        "query_id bigint, qvec array<bigint>, cluster int",
    ).withColumn(
        "_nq",
        F.sqrt(
            F.aggregate(
                F.zip_with("qvec", "qvec", lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda a, x: a + x,
            ).cast("double")
        ),
    )
    k = 5  # > |real candidates| for query 1 → its NULL row enters top-k
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("neighbor_id")
    )

    def topk(scored):
        return sorted(
            (r.query_id, r.neighbor_id, r.rank, r.score)
            for r in scored.withColumn(
                "rank", F.row_number().over(w)
            )
            .filter(F.col("rank") <= k)
            .collect()
        )

    dot = F.aggregate(
        F.zip_with("qvec", "cv", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    ).cast("double")
    ref = topk(
        cells.join(F.broadcast(probes), on="cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot / (F.col("_nq") * F.col("_nc"))).alias("score"),
        )
    )
    got = topk(ivf._probe_cell_topk_np(cells, probes, k))
    # NaN != NaN — compare with an exact bit-level fold
    import struct

    def canon(rows):
        return [
            (q, n, r, struct.pack(">d", s) if isinstance(s, float) else s)
            for (q, n, r, s) in rows
        ]

    assert canon(got) == canon(ref) and len(got) > 0
    # the zero-norm candidate lands LAST for query 1, with a NULL score
    q1_last = next(r for r in got if r[0] == 1 and r[2] == 5)
    assert q1_last[1] == 12 and q1_last[3] is None


def test_lloyd_means_rounds_half_away_from_zero(spark):
    """The kernel's one integer-mean update (IVF cells, PQ codebooks,
    nearest-centroid labels) against a pure-Python Decimal replay:
    negative sums, exact halves on both signs, one key and the PQ
    two-key (m, code) grouping."""
    from decimal import ROUND_HALF_UP, Decimal

    rows = [
        (0, 1, [1, -1, 3, 2]),
        (0, 1, [2, -2, -4, 0]),
        (0, 2, [-5, 0, 7, 1]),
        (0, 2, [0, 0, 0, -1]),
        (0, 2, [1, 1, 1, 0]),
        (1, 1, [1, -1, -3, 5]),
        (1, 1, [0, 0, 0, 0]),
        (1, 1, [1, -1, -3, 0]),
        (1, 1, [0, 0, 0, -6]),
    ]
    df = spark.createDataFrame(rows, "m int, code int, sv array<bigint>")

    def expect(keyfn):
        groups = {}
        for r in rows:
            groups.setdefault(keyfn(r), []).append(r[2])
        return {
            k: [
                int((Decimal(sum(col)) / len(vs)).quantize(
                    Decimal(1), rounding=ROUND_HALF_UP))
                for col in zip(*vs)
            ]
            for k, vs in groups.items()
        }

    two = {
        (r.m, r.code): list(r.cw)
        for r in ivf.lloyd_means(df, ["m", "code"], "sv", "cw").collect()
    }
    assert two == expect(lambda r: (r[0], r[1]))
    one = {
        r.code: list(r.cw)
        for r in ivf.lloyd_means(df, ["code"], "sv", "cw").collect()
    }
    assert one == expect(lambda r: r[1])
    # the halves really are exercised: ±1.5 and −0.5 for (0, 1),
    # ±0.5 and −1.5 for (1, 1)
    assert two[(0, 1)][:3] == [2, -2, -1] and two[(1, 1)][:3] == [1, -1, -2]
