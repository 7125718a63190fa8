"""IVF (inverted-file) approximate nearest neighbor — the second scale
path next to hyperplane LSH (extension surface, SURVEY.md §7.5).

Classic IVF: k-means the corpus into ``n_clusters`` coarse cells once
(an offline, amortized build), then answer each query by scoring only
the ``n_probe`` nearest cells — candidate work is
O(n_probe · corpus / n_clusters) per query instead of O(corpus).

Everything is deterministic (no RNG): initial centroids are the
``n_clusters`` lowest-id vectors, and Lloyd iterations are pure
DataFrame computation — assignment is a row-local argmin over the
broadcast centroid array, the update step is the exact integer
element-wise mean via posexplode + two hash aggregations. Iteration
happens driver-side over a lazy plan per round (standard Spark
iterative-algorithm shape; at scale you checkpoint between rounds to
cut lineage).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.caching import pin
from data_warehousing_assignment_spark.operators.similarity import (
    dot_sql,
    int_dot,
    norm,
    quantize,
    quantize_sql,
)


def _l2sq(a: Column | str, b: Column | str) -> Column:
    """Exact integer squared-L2 between two quantized vectors — the
    plain distance the kernel's norm-decomposed argmin is pinned
    against (tests/test_ivf.py, tests/test_pq.py)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


# --------------------------------------------------------------------------
# The exact-integer vector kernel shared by IVF cells, PQ codebooks and
# nearest-centroid classification: one broadcast book, one row-local
# argmin, one integer-mean update — all SQL text.
# --------------------------------------------------------------------------


def books(
    frame: DataFrame, id_col: str, cw_col: str, key: str | None = None
) -> DataFrame:
    """ONE-row broadcast frame whose ``book`` column holds the centroid
    (or codeword) table as an array of ``struct(id, cw, nn = ‖cw‖²)`` —
    k·d int64s, a few KB even at the 100 TB sizing, so every argmin
    against it is row-local (no n·k joined rows, no exchange of the
    corpus). ‖cw‖² is computed once per codeword, never per row.

    With ``key`` (PQ's subspace ``m``, dense 0..M−1) ``book`` is the
    key-sorted array of the per-key arrays: ``element_at(book, m + 1)``
    is subspace m's codebook."""
    entry = f"struct({id_col} AS id, {cw_col} AS cw, {dot_sql(cw_col, cw_col)} AS nn)"
    if key is None:
        out = frame.agg(F.expr(f"collect_list({entry}) AS book"))
    else:
        out = (
            frame.groupBy(key)
            .agg(F.expr(f"struct({key} AS k, collect_list({entry}) AS b) AS kb"))
            .agg(F.expr("transform(array_sort(collect_list(kb)), p -> p.b) AS book"))
        )
    return F.broadcast(out)


def nearest_sql(book: str, v: str) -> str:
    """SQL for the row-local argmin of quantized vector ``v`` over a
    ``book`` array: the least ``struct(d, id, nn)`` with
    d = nn − 2·v·cw. ‖v−cw‖² = ‖v‖² + d and ‖v‖² is constant within a
    row's candidates, so the order and every tie equal the squared-L2
    order (all exact int64); the lexicographic struct min breaks ties to
    the lower id — exactly row_number().orderBy(‖v−cw‖², id) rank 1
    (pinned in tests/test_ivf.py and tests/test_pq.py). ``nn`` rides
    behind the unique id, so it never decides; it carries the chosen
    codeword's norm to callers that need it."""
    return (
        f"array_min(transform({book}, e -> struct("
        f"e.nn - 2 * {dot_sql(v, 'e.cw')} AS d, e.id AS id, e.nn AS nn)))"
    )


def lloyd_means(
    assigned: DataFrame, keys: list[str], vec: str, out: str
) -> DataFrame:
    """``(*keys, out)``: the element-wise EXACT integer mean of the
    quantized ``vec`` arrays per key — posexplode, one map-side-combined
    (keys, pos) int64 sum/count, reassembled in pos order. Rounds half
    away from zero in pure integer arithmetic: a DOUBLE avg accumulates
    in a partition order that is not deterministic, so a last-ulp drift
    could flip a rounded coordinate between runs; integer s/n is
    order-independent and bit-identical in any engine, which is what
    makes every index built on it SQL-oracle-able."""
    return (
        assigned.select(*keys, F.posexplode(vec).alias("pos", "v"))
        .groupBy(*keys, "pos")
        .agg(F.expr("sum(v) AS s"), F.expr("count(1) AS n"))
        .groupBy(*keys)
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos,"
                " CASE WHEN s >= 0 THEN (2*s + n) div (2*n)"
                " ELSE -((2*(-s) + n) div (2*n)) END AS m))),"
                f" p -> p.m) AS {out}"
            )
        )
    )


def _assign(corpus: DataFrame, centroids: DataFrame, n_probe: int = 1) -> DataFrame:
    """(corpus columns…, cluster) for each corpus row's nearest centroid
    (``qvec`` against ``centroids(cluster, centroid)``) — or the
    n_probe nearest clusters per row when n_probe > 1 (the query side).

    n_probe == 1 (every build/extend pass) is the kernel's row-local
    argmin over the broadcast book: a pure map stage, nothing shuffled.
    (If the centroid frame were ever empty with a non-empty corpus the
    argmin would yield NULL clusters — unreachable here: every caller
    derives centroids from the same non-empty corpus.)

    n_probe > 1 (query-side probing, Q rows): window ranking over the
    same norm-decomposed key and tie-break."""
    if n_probe == 1:
        return corpus.crossJoin(books(centroids, "cluster", "centroid")).select(
            corpus["*"], F.expr(f"{nearest_sql('book', 'qvec')}.id AS cluster")
        )
    cent = F.broadcast(centroids.withColumn("_nb2", int_dot("centroid", "centroid")))
    scored = corpus.crossJoin(cent).select(
        corpus["*"],
        F.col("cluster"),
        F.expr(f"_nb2 - 2 * {dot_sql('qvec', 'centroid')} AS _d"),
    )
    w = Window.partitionBy(*[c for c in corpus.columns if c != "qvec"]).orderBy(
        "_d", "cluster"
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_probe)
        .drop("_d", "_rk")
    )


#: exact int64 dot of a probe row's ``qvec`` with a cell row's ``cv``
_PAIR_DOT_SQL = dot_sql("qvec", "cv")
#: cosine over the per-row norms ``_nq``/``_nc`` hoisted out of the pair
#: join (computed once per row, not per pair): one IEEE divide
_PAIR_COS_SQL = f"CAST({_PAIR_DOT_SQL} AS DOUBLE) / (_nq * _nc)"


def quantized_rows(
    frame: DataFrame, id_as: str, vec_as: str, norm_as: str, keys=()
) -> DataFrame:
    """``(id_as, vec_as, *keys, norm_as)`` of an embeddings frame: the
    quantized vector and, in a second projection (so the quantize HOF
    runs once per row), its norm."""
    return frame.selectExpr(
        f"vec_id AS {id_as}", f"{quantize_sql('embedding')} AS {vec_as}", *keys
    ).withColumn(norm_as, norm(vec_as))


def cosine_pairs(cells: DataFrame, probes: DataFrame, keys: list[str]) -> DataFrame:
    """``(query_id, neighbor_id, dot, cos)`` of every pair of a cell row
    ``(neighbor_id, cv, _nc)`` and a broadcast probe row
    ``(query_id, qvec, _nq)`` that agree on ``keys``, self-pairs
    excluded. The probe side is query-bounded (Q or Q·n_probe rows), so
    it carries the broadcast hint and the corpus side streams."""
    return (
        cells.join(F.broadcast(probes), keys)
        .filter("neighbor_id <> query_id")
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"{_PAIR_DOT_SQL} AS dot",
            f"{_PAIR_COS_SQL} AS cos",
        )
    )


def probed_cell_scan(
    corpus: DataFrame,
    queries: DataFrame,
    index: tuple[DataFrame, DataFrame],
    n_probe: int,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """``(query_id, neighbor_id, dot, cos)`` for each query of an
    embeddings frame against every corpus row in its ``n_probe`` nearest
    cells of ``index = (centroids, assignments)``: the exact-cosine
    probed-cell scan the SQL oracles replay as ``_ivf_cand_ctes``' cand
    plus exact scoring. ``keys`` are extra columns of both frames that
    must also be equal (an equi-key of the cell join, so a metadata
    predicate cuts candidates before any scoring)."""
    centroids, assignments = index
    q = queries.selectExpr(
        "vec_id AS query_id", f"{quantize_sql('embedding')} AS qvec", *keys
    )
    probes = _assign(q, centroids, n_probe=n_probe).select(
        "query_id", "qvec", "cluster", *keys
    ).withColumn("_nq", norm("qvec"))
    cells = quantized_rows(corpus, "neighbor_id", "cv", "_nc", keys).join(
        assignments.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
    )
    return cosine_pairs(cells, probes, ["cluster", *keys])


def auto_n_clusters(
    n_corpus: int,
    n_queries: int,
    n_probe: int = 4,
    n_build_passes: int = 3,
    floor: int = 16,
) -> int:
    """Cost-balanced cell count for one build + one query batch.

    Work model (d cancels): the build runs ``n_build_passes`` assignment
    passes of n·k centroid distances plus Q·k on the query side; probing
    scores Q·n_probe·(n/k) candidates. Balancing the k and 1/k terms
    gives k* = sqrt(Q·n_probe·n / (R·n + Q)) ≈ sqrt(Q·n_probe/R) for
    Q ≪ n. Measured at the synthesized sf10 (1 M vectors, 10 k queries,
    BASELINE.md r9): fixed k=16 → 80.7 s, this rule's regime (k≈115,
    probed 64/256 around it: 35.2 s / 56.4 s) — the pinned k=16 in the
    registered query is the oracle-replay anchor, this is the scale
    sizing. Clamped to [floor, n/8] so tiny corpora keep meaningful
    cells."""
    import math

    # Degenerate inputs (empty corpus or empty query batch): den would be
    # 0.0 and num/den a raw ZeroDivisionError (r14 self-review). Return
    # the floor — an empty corpus builds an empty index and every
    # downstream frame degrades to zero rows, matching the SQL twin's
    # empty-seed degradation.
    if n_corpus <= 0 or n_queries <= 0:
        return floor
    r = max(1, n_build_passes)
    # Round EXACTLY like the SQL twin (registry_extensions.IVF_KK_EXPR):
    # numerator and denominator are each rounded to double BEFORE the
    # divide. A bare int/int here would divide exact arbitrary-precision
    # ints with ONE rounding, which can flip FLOOR(SQRT(...)) by 1 once
    # q·n_probe·n exceeds 2^53 (r10 advice). Domain limit shared with
    # the SQL: exact while q·n_probe·n < 2^63 (BIGINT product bound);
    # beyond that the SQL side would overflow first.
    num = float(n_queries * n_probe * n_corpus)
    den = float(r * n_corpus + n_queries)
    k = int(math.sqrt(max(1.0, num / den)))
    return max(floor, min(k, max(floor, n_corpus // 8)))


def assign_to_index(
    frame: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster) for every row of ``frame`` by argmin against the
    given centroids — THE assignment step, one definition shared by
    :func:`build_ivf_index`'s final pass and
    :func:`extend_ivf_index`'s delta pass so the two can never diverge
    in quantization or tie-break (the incremental index's
    oracle-equivalence rests on exactly that identity)."""
    vecs = frame.select(
        F.col(id_col).alias("_id"), quantize(vec_col).alias("qvec")
    )
    return _assign(vecs, centroids).select(
        F.col("_id").alias(id_col), "cluster"
    )


def build_ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_iters: int = 2,
    checkpoint_every: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (centroids(cluster, centroid), assignments(id, cluster)).

    Init: the n_clusters lowest-id vectors (deterministic). Each Lloyd
    round: row-local argmin against the broadcast centroids
    (:func:`nearest_sql`), then :func:`lloyd_means` per cluster. Two
    hash aggregations per round, no RNG, no collect of the corpus (only
    the k centroids ever reach the driver's broadcast).

    ``checkpoint_every=N`` truncates the centroid lineage with an eager
    ``localCheckpoint`` every N Lloyd rounds: without it the plan doubles
    per round (each round re-derives the previous round's centroids from
    scratch), which is fine for the default 2 rounds but pathological for
    long convergence runs at scale. Centroids are only n_clusters rows,
    so the checkpoint itself is tiny."""
    vecs = corpus.select(F.col(id_col).alias("_id"), quantize(vec_col).alias("qvec"))

    # orderBy+limit plans as TakeOrderedAndProject (per-partition top-k,
    # no full-corpus single-partition exchange); the row_number window
    # then runs over just n_clusters rows.
    seeds = vecs.orderBy("_id").limit(n_clusters)
    centroids = seeds.select(
        (F.row_number().over(Window.orderBy("_id")) - 1).alias("cluster"),
        F.col("qvec").alias("centroid"),
    )

    for i in range(n_iters):
        centroids = lloyd_means(
            _assign(vecs, centroids), ["cluster"], "qvec", "centroid"
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < n_iters:
            centroids = centroids.localCheckpoint(eager=True)

    # PIN the finished centroid frame (k rows — bytes, scope-owned):
    # both consumers of the index (the corpus assignment below and the
    # caller's query-side probe _assign) otherwise each re-run the
    # whole lazy Lloyd chain — 2 extra full assignment passes over the
    # corpus per downstream force (r14; the sf10 bench re-forced the
    # chain once per probe-side evaluation, ~15 s/force at 200k rows).
    centroids = pin(centroids)
    assignments = assign_to_index(corpus, centroids, id_col, vec_col)
    return centroids, assignments


def extend_ivf_index(
    centroids: DataFrame,
    assignments: DataFrame,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """O(Δ·k) incremental index maintenance: assign ONLY the new
    ``delta`` vectors against the FROZEN centroids and append them to
    the existing assignments — no re-clustering, no touch of the base
    corpus. This is the arrival path at scale: a 100 TB index is built
    once (amortized) and each incoming batch costs Δ·k centroid
    distances, exactly like :func:`build_ivf_index`'s final assignment
    step but restricted to the delta. Because the base assignments were
    themselves produced by arg-min against these same centroids, the
    union equals assigning (base ∪ delta) against the frozen centroids
    — which is what makes the incremental index SQL-oracle-able and is
    pinned in tests/test_ivf.py. Recall drifts as the un-reclustered
    corpus grows; op-ext-ann-incr-recall is the monitor for exactly
    that (measured numbers in BASELINE.md r14)."""
    extra = assign_to_index(delta, centroids, id_col, vec_col)
    return centroids, assignments.unionByName(extra)


def save_ivf_index(
    centroids: DataFrame, assignments: DataFrame, path: str
) -> None:
    """Materialize the index as two parquet tables so later query batches
    skip k-means entirely (the build is offline/amortized at scale; the
    assignments table is the only corpus-sized artifact and is written
    partitioned by cluster so probing prunes to the probed cells)."""
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    assignments.write.mode("overwrite").partitionBy("cluster").parquet(
        f"{path}/assignments"
    )


def load_ivf_index(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignments) read back from :func:`save_ivf_index` —
    plain parquet scans, zero k-means stages."""
    return (
        spark.read.parquet(f"{path}/centroids"),
        spark.read.parquet(f"{path}/assignments"),
    )


def _probe_cell_topk_np(cells: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Per-(probed cell, query) top-``k`` candidate scores — the IVF probe
    scan as a cogrouped Arrow/numpy stage (r14, guide §4.2/§8).

    The join formulation materialized |cell|·|probes-of-cell| candidate
    rows, each carrying BOTH 64-element vectors (~1 KB/pair; 31 M pairs
    ≈ 32 GB of row traffic at the sf10 probe), then sorted all of them
    for the global top-k window. Here each (cluster) group crosses the
    Python boundary ONCE — corpus vectors ~520 B/row, probe vectors
    Q·n_probe rows — scores come from one float64 GEMM per probe chunk,
    and only the per-(cell, query) top-k rows (≤ k rows per query per
    probed cell) return to the JVM. The caller's global top-k window is
    unchanged; per-cell top-k feeding a global top-k is lossless because
    every global top-k row is by definition within its own cell's top-k
    under the SAME (score desc, neighbor_id asc) order.

    Exactness (the oracles replay scoring in SQL and stay hash-exact):

    * quantized components |v| < 1e6 ⇒ products < 1e12 and 64-term sums
      < 2^53, so float64 GEMM accumulates EXACT integers regardless of
      summation order — bit-equal to the JVM int64 dot then cast.
    * score = dot / (nq · nc) uses the SAME precomputed norm doubles
      (carried in, never recomputed) and the same two IEEE ops in the
      same order ⇒ bit-identical doubles.
    * zero-norm edge: the JVM division under the engine session (ANSI
      off) yields NULL for den = 0 — never NaN (dot is finite and a
      zero denominator forces dot = 0) — and NULL sorts LAST under the
      caller's DESC window. numpy computes 0/0 = NaN; the ranking key
      maps NaN to -inf (ranks last, ties by neighbor_id — exactly the
      window's NULL placement) and the pandas→Arrow return converts
      NaN to null, so the VALUE matches the JVM's NULL too. Ties keep
      the smallest neighbor_id. Pinned value-equal to the inline join
      formulation (incl. tie, self-pair and zero-norm cases) in
      tests/test_ivf.py.
    """
    import numpy as np

    out_schema = (
        "query_id "
        + dict(probes.dtypes)["query_id"]
        + ", neighbor_id "
        + dict(cells.dtypes)["neighbor_id"]
        + ", score double"
    )

    def score_group(cell_pdf, probe_pdf):
        import pandas as pd

        if len(cell_pdf) == 0 or len(probe_pdf) == 0:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "score": []}
            )
        nid = cell_pdf["neighbor_id"].to_numpy()
        cm = np.vstack(cell_pdf["cv"].to_numpy()).astype(np.float64)
        ncn = cell_pdf["_nc"].to_numpy(dtype=np.float64)
        n = len(nid)
        out_q, out_n, out_s = [], [], []
        # chunk the probe side so the score matrix stays ~|cell|·512
        for lo in range(0, len(probe_pdf), 512):
            chunk = probe_pdf.iloc[lo : lo + 512]
            qid = chunk["query_id"].to_numpy()
            qm = np.vstack(chunk["qv"].to_numpy()).astype(np.float64)
            nqn = chunk["_nq"].to_numpy(dtype=np.float64)
            dots = cm @ qm.T  # exact: every partial sum < 2^53
            scores = dots / (ncn[:, None] * nqn[None, :])
            # ranking key: numpy 0/0 = NaN where the JVM (ANSI off)
            # yields NULL, which the DESC window sorts LAST
            keys = np.where(np.isnan(scores), -np.inf, scores)
            for j in range(len(qid)):
                key = keys[:, j]
                selfmask = nid == qid[j]
                if selfmask.any():
                    key = np.where(selfmask, -np.inf, key)
                m = n - int(selfmask.sum())
                if m <= 0:
                    continue
                if m > k:
                    kth = np.partition(key, n - k)[n - k]
                    cand = np.nonzero((key >= kth) & ~selfmask)[0]
                else:
                    cand = np.nonzero(~selfmask)[0]
                order = np.lexsort((nid[cand], -key[cand]))[:k]
                pick = cand[order]
                out_q.append(np.full(len(pick), qid[j]))
                out_n.append(nid[pick])
                out_s.append(scores[pick, j])
        if not out_q:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "score": []}
            )
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "score": np.concatenate(out_s),
            }
        )

    return (
        cells.groupBy("cluster")
        .cogroup(probes.groupBy("cluster"))
        .applyInPandas(score_group, out_schema)
    )


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_clusters: int | str = 16,
    n_probe: int = 4,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Approximate cosine top-k through the IVF index: score each query
    against only the rows of its n_probe nearest cells. Same output
    contract as brute_force_cosine_topk; recall grows with n_probe
    (n_probe = n_clusters ≡ exact search).

    ``n_clusters="auto"`` sizes the cell count from the corpus/query
    row counts via :func:`auto_n_clusters` (two scalar count() jobs —
    the same justified-scalar class as watermark reads).

    Pass ``index=(centroids, assignments)`` (from :func:`build_ivf_index`
    or :func:`load_ivf_index`) to reuse a prebuilt index — repeated query
    batches then trigger no k-means stages at all."""
    if index is not None:
        # prebuilt index fixes the cell count — resolving "auto" here
        # would burn two count() jobs for a value that's never used
        centroids, assignments = index
    else:
        if n_clusters == "auto":
            n_clusters = auto_n_clusters(
                corpus.count(), queries.count(), n_probe=n_probe
            )
        centroids, assignments = build_ivf_index(
            corpus, id_col, vec_col, n_clusters
        )
    # persist (scope-owned): the cell lists feed the probe join; run under
    # cache_scope() — or save_ivf_index for cross-job reuse — to release.
    # Per-row norms are computed BEFORE the probe join (once per corpus
    # row / once per probe row) instead of per candidate pair — the
    # score expression is unchanged, so scores stay bit-identical; the
    # corpus-side norm rides the pinned cell frame.
    cells = pin(
        corpus.select(F.col(id_col).alias("neighbor_id"), quantize(vec_col).alias("cv"))
        .withColumn("_nc", norm("cv"))
        .join(
            assignments.withColumnRenamed(id_col, "neighbor_id"), on="neighbor_id"
        )
    )
    q = queries.select(F.col(id_col).alias("query_id"), quantize(vec_col).alias("qvec"))
    probes = _assign(q, centroids, n_probe=n_probe).select(
        F.col("query_id"), F.col("qvec").alias("qv"), "cluster"
    ).withColumn("_nq", norm("qv"))

    # Probe scan: per-(cell, query) top-k via the cogrouped numpy GEMM
    # stage (bit-identical scores and order — see _probe_cell_topk_np);
    # the global window below then ranks ≤ k·n_probe rows per query
    # instead of every candidate pair.
    scored = _probe_cell_topk_np(cells, probes, k)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )
