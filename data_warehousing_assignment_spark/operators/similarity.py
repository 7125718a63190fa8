"""Similarity search over embedding columns (extension surface,
SURVEY.md §7.5 — no reference counterpart).

Embeddings are ``array<float>``. For cross-engine-verifiable scores the
vectors are quantized to integer micro-units first — ``floor(x·10⁶)`` as
int64 — so dot products and norms are EXACT integer arithmetic in any
engine; only the final ``dot/(√na·√nb)`` runs in IEEE doubles (identical
operand order → identical bits). Quantization error ~1e-6 per component
is far below any meaningful similarity threshold.

Scale design: brute-force top-k broadcasts the (small) query set and
streams the corpus — one pass, no corpus shuffle except the final
per-query top-k (shuffle keyed by query id, k rows each). The LSH path
cuts the per-query candidate set via random-hyperplane sign buckets:
the corpus is bucketed once (row-local hashes), and queries probe only
their own bucket — candidate generation is O(bucket), never O(n) per
query, and never O(n²) overall.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.operators.dedup import scale_out

QUANT = 1_000_000.0


def quantize_sql(vec: str) -> str:
    """SQL for array<float> → array<bigint> micro-units: floor(x·10⁶).
    floor (not round) because floor of a double is exact and identical
    everywhere, while round-half rules differ across engines. ``vec`` is
    a column name or SQL expression."""
    return f"transform({vec}, x -> floor(CAST(x AS DOUBLE) * {QUANT}D))"


def dot_sql(a: str, b: str) -> str:
    """SQL for the exact int64 dot product of two quantized vectors —
    row-local zip_with + aggregate, order-independent because integer
    addition is associative and exact."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, x) -> acc + x)"


def quantize(vec: str) -> Column:
    return F.expr(quantize_sql(vec))


def int_dot(a: str, b: str) -> Column:
    return F.expr(dot_sql(a, b))


def norm(vec: str) -> Column:
    """‖v‖ of a quantized vector as a double: sqrt of the exact int64
    ‖v‖² — the per-row factor of every cosine denominator."""
    return F.expr(f"sqrt(CAST({dot_sql(vec, vec)} AS DOUBLE))")


def cosine_similarity_col(a: str, b: str) -> Column:
    """Deterministic cosine of two array<float> columns (names or SQL
    expressions) via quantized integer dot/norms; the single double
    expression at the end is bit-identical across engines."""
    qa, qb = quantize_sql(a), quantize_sql(b)
    return F.expr(
        f"CAST({dot_sql(qa, qb)} AS DOUBLE)"
        f" / (sqrt(CAST({dot_sql(qa, qa)} AS DOUBLE))"
        f" * sqrt(CAST({dot_sql(qb, qb)} AS DOUBLE)))"
    )


def brute_force_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Baseline exact ANN: broadcast the query set against the corpus,
    score row-locally, keep top-k per query (rank ties broken by
    neighbor id → fully deterministic output).

    Cost: |corpus|·|queries| score evaluations but only ONE corpus scan
    and a k-row-per-query shuffle — the correct baseline shape. The IVF/
    LSH variant (lsh_cosine_topk) is the scale path when |queries| grows.
    """
    # Norms are per-ROW quantities: compute each side's ‖v‖ once before
    # the pair join instead of re-running the 64-element aggregate per
    # PAIR (guide §1.2 "per-task work": 3 HOF aggregates/pair → 1). The
    # score expression is unchanged — sqrt of the same int64-as-double,
    # multiplied in the same order — so scores stay bit-identical.
    q = queries.select(
        F.col(id_col).alias("query_id"), quantize(vec_col).alias("qv")
    ).withColumn("_nq", norm("qv"))
    c = scale_out(corpus).select(
        F.col(id_col).alias("neighbor_id"), quantize(vec_col).alias("cv")
    ).withColumn("_nc", norm("cv"))
    dot = int_dot("qv", "cv").cast("double")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot / (F.col("_nq") * F.col("_nc"))).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def _plane_coeffs(plane: int, dim: int) -> list[int]:
    """Deterministic pseudo-random hyperplane coefficients: h_p[d] =
    2·nibble(md5('p:d')) − 15 ∈ [−15, 15]. Hashed so bucketing is
    reproducible across runs/engines with no RNG state; computed
    driver-side because they depend only on (plane, dim) — they are
    model parameters, not per-row data."""
    import hashlib

    return [
        2 * int(hashlib.md5(f"{plane}:{d}".encode()).hexdigest()[0], 16) - 15
        for d in range(dim)
    ]


def hyperplane_signs(vec_col: str, n_planes: int = 8, dim: int = 64) -> str:
    """SQL for the random-hyperplane LSH bucket id: sign pattern of
    <v, h_p> over the quantized vector for n_planes fixed pseudo-random
    hyperplanes (see _plane_coeffs), an int in [0, 2^n_planes).

    Row-local; per row the cost is n_planes exact int64 dot products
    against literal coefficient arrays (zero hashing at execution time).
    One SQL string — each builder parses it once with ``F.expr`` and
    uses the Column on both join sides, instead of rebuilding n_planes ×
    dim literal Columns per side."""
    v = quantize_sql(f"`{vec_col}`")
    # transform-with-index (not zip_with: it null-pads the shorter
    # side) — iterates the vector's own length; requires dim ≥ len(v)
    return " + ".join(
        f"CASE WHEN aggregate(transform({v}, (x, i) -> x * element_at(array("
        f"{', '.join(f'{c}L' for c in _plane_coeffs(p, dim))}), i + 1)),"
        f" 0L, (acc, x) -> acc + x) > 0 THEN 1 ELSE 0 END * {1 << p}"
        for p in range(n_planes)
    )


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 6,
    probe_all: bool = False,
) -> DataFrame:
    """Approximate top-k: probe the query's own hyperplane bucket, plus
    every bucket at Hamming distance 1 — the standard recall boost:
    n_planes+1 probes ≈ (n_planes+1)/2^n_planes of the corpus instead of
    1/2^n_planes, still never all-pairs. Bucketing is one row-local pass
    over the corpus; the join is an equi-join on bucket id, so candidate
    work is O(probed bucket sizes). Recall is tunable via n_planes
    (fewer planes → bigger buckets → higher recall)."""
    bucket = F.expr(hyperplane_signs(vec_col, n_planes)).alias("bucket")
    qbase = queries.select(
        F.col(id_col).alias("query_id"), quantize(vec_col).alias("qv"), bucket
    ).withColumn("_nq", norm("qv"))
    if probe_all:
        # every bucket probed ⇒ every corpus row scored exactly once
        # (each row lives in exactly one sign bucket) ⇒ provably equal to
        # brute_force_cosine_topk — the exactness anchor for the bucket
        # machinery, used by op-ext-ann-lsh-fullprobe's oracle check.
        probes = F.expr(f"array({', '.join(map(str, range(1 << n_planes)))})")
    else:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)],
        )
    q = qbase.select("query_id", "qv", "_nq", F.explode(probes).alias("bucket"))
    # per-row norms hoisted out of the pair join (see
    # brute_force_cosine_topk) — score expression bit-identical.
    c = scale_out(corpus).select(
        F.col(id_col).alias("neighbor_id"), quantize(vec_col).alias("cv"), bucket
    ).withColumn("_nc", norm("cv"))
    dot = int_dot("qv", "cv").cast("double")
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot / (F.col("_nq") * F.col("_nc"))).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def exact_near_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """ALL-PAIRS exact near-duplicate detection — the correctness anchor
    for :func:`embedding_near_dup_pairs` (which buckets by hyperplane
    signs and can miss pairs split across buckets). Deliberately O(n²):
    run it on small corpora or subsamples to calibrate the LSH recall;
    the bucketed variant is the scale path. One side is broadcast, so
    the plan is a BroadcastNestedLoopJoin with the a<b predicate — no
    shuffle, but candidate work is quadratic by definition."""
    # per-row norms hoisted out of the O(n²) pair join (see
    # brute_force_cosine_topk) — cosine expression bit-identical.
    c = scale_out(corpus).select(
        F.col(id_col).alias("doc_a"), quantize(vec_col).alias("va")
    ).withColumn("_na", norm("va"))
    c2 = corpus.select(
        F.col(id_col).alias("doc_b"), quantize(vec_col).alias("vb")
    ).withColumn("_nb", norm("vb"))
    dot = int_dot("va", "vb").cast("double")
    return (
        c.join(F.broadcast(c2), F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            (dot / (F.col("_na") * F.col("_nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: bucket by hyperplane signs,
    score only within buckets, keep pairs above threshold. Same
    O(Σ bucket²) guarantee as minhash-LSH — never all-pairs."""
    corpus = scale_out(corpus)
    bucket = F.expr(hyperplane_signs(vec_col, n_planes)).alias("bucket")
    # per-row norms hoisted out of the bucket pair join (see
    # brute_force_cosine_topk) — cosine expression bit-identical.
    c = corpus.select(
        F.col(id_col).alias("doc_a"), quantize(vec_col).alias("va"), bucket
    ).withColumn("_na", norm("va"))
    c2 = corpus.select(
        F.col(id_col).alias("doc_b"), quantize(vec_col).alias("vb"), bucket
    ).withColumn("_nb", norm("vb"))
    dot = int_dot("va", "vb").cast("double")
    return (
        c.join(c2, on="bucket")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            (dot / (F.col("_na") * F.col("_nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


def label_centroids(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label centroid (class prototype / k-means-style mean vector)
    over an array<float> column: posexplode to (label, dim, val), one
    map-side-combinable (label, dim) sum/count aggregate, then
    reassemble the array with sort_array(collect_list(struct(dim, mean)))
    — the scalable decomposition: the shuffle carries |labels|·|dims|
    partial sums, never whole vectors, and no vector ever needs to fit
    anywhere twice. Output: label, n_vecs, centroid (array<double>).

    Cross-engine note: float accumulation order makes centroids
    engine-exact only to ~1e-6 relative — consumers surface norms or
    rounded digests, not raw arrays (registry scalar-boundary rule);
    :func:`label_centroid_digest` is the fully engine-exact twin.

    ``n_vecs`` counts rows on the UN-exploded frame: with ragged vectors
    or NULL elements the per-(label, dim) counts diverge from the row
    count, so deriving n_vecs from them (the pre-r7 ``F.max(c)``) would
    silently disagree with the per-dim means, which average only the
    dims/values actually present (ADVICE r6)."""
    counts = df.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "val"),
    )
    sums = exploded.groupBy("label", "dim").agg(
        F.sum(F.col("val").cast("double")).alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    means = sums.select(
        "label", "dim", (F.col("s") / F.col("c")).alias("m")
    )
    cents = means.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "m"))),
            lambda kv: kv["m"],
        ).alias("centroid"),
    )
    # counts is |labels| rows — broadcast; no extra shuffle of the sums.
    return cents.join(F.broadcast(counts), "label").select(
        "label", "n_vecs", "centroid"
    )


def label_centroid_digest(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Engine-exact per-label centroid summary: quantize each element to
    int64 micro-units (floor(x·10⁶) — exact everywhere), sum per
    (label, dim) in exact integer arithmetic, then surface per label:

    * ``n_vecs`` — row count of the un-exploded frame,
    * ``n_dims`` — number of dims that produced a partial sum,
    * ``centroid_l2`` — L2 norm of the quantized MEAN vector:
      sqrt(Σ sum_q²) / (n_vecs·10⁶). Σ sum_q² runs in decimal(38,0)
      (exact up to ~10³⁸ — at sf100 the per-dim sums are ~10¹¹, squares
      ~10²², ×4096 dims ≪ the cap), so only the final
      cast→sqrt→divide touches IEEE — identical operand order →
      identical bits in any engine,
    * ``centroid_digest`` — md5 over the dim-ordered int sums: a
      hash-exact witness of the full centroid, no float rounding
      anywhere.

    Same shuffle shape as :func:`label_centroids`: the exchange carries
    |labels|·|dims| int64 partial sums, never vectors."""
    counts = df.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(quantize(vec_col)).alias("dim", "qv"),
    )
    sums = exploded.groupBy("label", "dim").agg(F.sum("qv").alias("sum_q"))
    sq = F.col("sum_q").cast("decimal(38,0)")
    per_label = sums.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dims"),
        F.sum(sq * sq).alias("_ss"),
        F.md5(
            F.concat_ws(
                "|",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("dim", "sum_q"))),
                    lambda kv: kv["sum_q"].cast("string"),
                ),
            )
        ).alias("centroid_digest"),
    )
    l2 = F.sqrt(F.col("_ss").cast("double")) / (
        F.col("n_vecs").cast("double") * F.lit(QUANT)
    )
    return per_label.join(F.broadcast(counts), "label").select(
        "label", "n_vecs", "n_dims", l2.alias("centroid_l2"), "centroid_digest"
    )
