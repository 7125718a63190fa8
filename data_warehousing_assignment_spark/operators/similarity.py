"""Similarity search over embedding columns (extension surface,
SURVEY.md §7.5 — no reference counterpart).

Embeddings are ``array<float>``. For cross-engine-verifiable scores the
vectors are quantized to integer micro-units first — ``floor(x·10⁶)`` as
int64 — so dot products and norms are EXACT integer arithmetic in any
engine; only the final ``dot/(√na·√nb)`` runs in IEEE doubles (identical
operand order → identical bits). Quantization error ~1e-6 per component
is far below any meaningful similarity threshold.

Every vector operator (here, in ivf.py and pq.py) shares three steps:
:func:`quantized_rows` builds a side ``(id, vector, norm)`` of an
``embeddings(vec_id, embedding)`` frame, :func:`cosine_sql` is the one
score text over those hoisted norms, and :func:`top_per_query` is the
one per-query top-k cut. Each operator keeps only its own join.

Each stage has one DuckDB twin here too, pasted by every vector oracle
in the registry: :func:`oracle_vectors` (the quantized ``emb`` side,
``idx`` over the dimensions and the ``nrms`` norms), :func:`oracle_cosine`
(the pair dot and exact cosine over a candidate-pair CTE),
:func:`oracle_top` (the per-query top-k cut, ties to the lower
neighbor id) and :func:`oracle_recall` (recall@k against a ground
truth). An oracle adds only its own candidate pairs.

Scale design: brute-force top-k broadcasts the (small) query set and
streams the corpus — one pass, no corpus shuffle except the final
per-query top-k (shuffle keyed by query id, k rows each). The LSH path
cuts the per-query candidate set via random-hyperplane sign buckets:
the corpus is bucketed once (row-local hashes), and queries probe only
their own bucket — candidate generation is O(bucket), never O(n) per
query, and never O(n²) overall.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
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


def norm_sql(vec: str) -> str:
    """SQL for ‖v‖ of a quantized vector as a double: sqrt of the exact
    int64 ‖v‖² — the per-row factor of every cosine denominator."""
    return f"sqrt(CAST({dot_sql(vec, vec)} AS DOUBLE))"


def norm(vec: str) -> Column:
    return F.expr(norm_sql(vec))


def quantized_rows(
    frame: DataFrame, id_as: str, vec_as: str, norm_as: str, keys=()
) -> DataFrame:
    """``(id_as, vec_as, *keys, norm_as)`` of an embeddings frame: the
    quantized vector and, in a second projection (so the quantize HOF
    runs once per row), its norm. ``keys`` are extra columns or SQL
    expressions of the frame carried alongside (join keys)."""
    return frame.selectExpr(
        f"vec_id AS {id_as}", f"{quantize_sql('embedding')} AS {vec_as}", *keys
    ).withColumn(norm_as, norm(vec_as))


def _oracle_dot(a: str, b: str) -> str:
    """DuckDB SQL for the exact dot of two quantized BIGINT lists. It runs
    in doubles, but every partial sum is an integer below 2^53 while
    |x| < 11, so it equals the engine's int64 sum; being row-local, it
    does not fan each pair out to one row per dimension."""
    return (
        f"CAST(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
        " AS BIGINT)"
    )


def oracle_vectors(keys=()) -> str:
    """DuckDB twin of :func:`quantized_rows`, as CTE text: ``emb(vec_id,
    *keys, v)``, the quantized vectors of ``embeddings`` (DuckDB spells
    the quantize with ``list_transform`` and an explicit BIGINT cast);
    ``idx(i)``, the ``PLANE_DIM`` 1-based positions of a vector; and
    ``nrms(vec_id, nrm)``, each vector's norm as a double."""
    cols = "".join(f"{k}, " for k in keys)
    return f"""emb AS (
      SELECT vec_id, {cols}list_transform(embedding, x ->
               CAST(FLOOR(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS v
      FROM embeddings
    ),
    idx AS (SELECT unnest(range(1, {PLANE_DIM + 1})) AS i),
    nrms AS (
      SELECT vec_id, sqrt(CAST({_oracle_dot('v', 'v')} AS DOUBLE)) AS nrm
      FROM emb
    )"""


def cosine_sql(a: str, b: str, na: str, nb: str) -> str:
    """SQL for the exact cosine of quantized vectors ``a`` and ``b`` with
    norms ``na`` and ``nb``: the int64 dot over the norms' product, one
    IEEE divide with the same operands in the same order in every engine.
    The norms are per-ROW quantities (:func:`quantized_rows` computes
    each once before a pair join), never re-run per pair."""
    return f"CAST({dot_sql(a, b)} AS DOUBLE) / ({na} * {nb})"


def oracle_cosine(name: str, pairs: str) -> str:
    """DuckDB twin of :func:`cosine_sql`, as the CTE text ``name(query_id,
    neighbor_id, dot, score)``: the exact dot and cosine of every pair of
    the CTE ``pairs(query_id, neighbor_id)``, over the ``emb`` and
    ``nrms`` of :func:`oracle_vectors`."""
    return f"""{name} AS (
      SELECT d.query_id, d.neighbor_id, d.dot,
             CAST(d.dot AS DOUBLE) / (na.nrm * nb.nrm) AS score
      FROM (SELECT p.query_id, p.neighbor_id,
                   {_oracle_dot('q.v', 'n.v')} AS dot
            FROM {pairs} p
            JOIN emb q ON q.vec_id = p.query_id
            JOIN emb n ON n.vec_id = p.neighbor_id) d
      JOIN nrms na ON na.vec_id = d.query_id
      JOIN nrms nb ON nb.vec_id = d.neighbor_id
    )"""


def top_per_query(
    frame: DataFrame, order: str, k: int, rank_as: str = "rank"
) -> DataFrame:
    """``frame`` plus ``rank_as``, cut to each query's first ``k`` rows by
    the SQL ``order`` (which ends in a unique tie-break) — the ranking
    every retrieval op shares with its oracle. The filter sits right on
    the window, so Spark plans it as a per-partition group limit."""
    return frame.selectExpr(
        "*",
        f"row_number() OVER (PARTITION BY query_id ORDER BY {order}) AS {rank_as}",
    ).filter(f"{rank_as} <= {k}")


def nearest_k(scored: DataFrame, k: int) -> DataFrame:
    """``(query_id, neighbor_id, rank, score)``: each query's ``k`` best
    ``score``s, ties to the lower neighbor id — the output of every
    top-k search (fully deterministic)."""
    return top_per_query(scored, "score DESC, neighbor_id", k).select(
        "query_id", "neighbor_id", "rank", "score"
    )


def oracle_top(
    src: str,
    k: int,
    order: str = "score DESC",
    rank: str = "rank",
    cols: str = "query_id, neighbor_id, rank, score",
) -> str:
    """DuckDB twin of :func:`top_per_query` and :func:`nearest_k`: a
    SELECT of ``cols`` over the rows of ``src`` cut to each query's first
    ``k`` by ``order``, ties to the lower neighbor id, with their INT
    ``rank``. The defaults are :func:`nearest_k`'s ranking, ``ORDER BY
    score DESC, neighbor_id``, and its output columns."""
    return f"""SELECT {cols} FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY {order}, neighbor_id) AS INT) AS {rank}
      FROM {src})
    WHERE {rank} <= {k}"""


def oracle_recall(truth: str, found: str, k: int) -> str:
    """DuckDB SQL for recall@k per query: of the neighbors each query has
    in ``truth(query_id, neighbor_id)`` (its exact top ``k``), how many
    ``found`` also returns (``n_hits``), and ``recall_ppm`` = 10⁶·hits
    div ``k``, an exact integer."""
    return f"""SELECT e.query_id,
           CAST(COUNT(f.neighbor_id) AS BIGINT) AS n_hits,
           CAST((1000000 * COUNT(f.neighbor_id)) // {k} AS BIGINT)
             AS recall_ppm
    FROM {truth} e
    LEFT JOIN {found} f ON f.query_id = e.query_id
                       AND f.neighbor_id = e.neighbor_id
    GROUP BY 1"""


def _scored_nearest(pairs: DataFrame, k: int) -> DataFrame:
    """:func:`nearest_k` over joined query rows ``(query_id, qvec, _nq)``
    and corpus rows ``(neighbor_id, cv, _nc)``, self-pairs excluded."""
    return nearest_k(
        pairs.filter("neighbor_id <> query_id").selectExpr(
            "query_id",
            "neighbor_id",
            f"{cosine_sql('qvec', 'cv', '_nq', '_nc')} AS score",
        ),
        k,
    )


def brute_force_cosine_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Baseline exact ANN: broadcast the query set against the corpus,
    score row-locally, keep top-k per query (rank ties broken by
    neighbor id → fully deterministic output).

    Cost: |corpus|·|queries| score evaluations but only ONE corpus scan
    and a k-row-per-query shuffle — the correct baseline shape. The IVF/
    LSH variant (lsh_cosine_topk) is the scale path when |queries| grows.
    """
    q = quantized_rows(queries, "query_id", "qvec", "_nq")
    c = quantized_rows(scale_out(corpus), "neighbor_id", "cv", "_nc")
    return _scored_nearest(c.crossJoin(F.broadcast(q)), k)


#: hyperplanes of the sign-bucket LSH, and the length of their
#: coefficient arrays (the embeddings' dimension)
N_PLANES = 6
PLANE_DIM = 64


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


def hyperplane_signs(n_planes: int) -> str:
    """SQL for the random-hyperplane LSH bucket id of an embeddings row:
    sign pattern of <v, h_p> over the quantized vector for n_planes
    fixed pseudo-random 64-dim hyperplanes (see _plane_coeffs), an int
    in [0, 2^n_planes).

    Row-local; per row the cost is n_planes exact int64 dot products
    against literal coefficient arrays (zero hashing at execution time).
    One SQL string — each builder parses it once per join side, instead
    of rebuilding n_planes × dim literal Columns per side."""
    v = quantize_sql("embedding")
    # transform-with-index (not zip_with: it null-pads the shorter
    # side) — iterates the vector's own length; requires PLANE_DIM ≥ len(v)
    return " + ".join(
        f"CASE WHEN aggregate(transform({v}, (x, i) -> x * element_at(array("
        f"{', '.join(f'{c}L' for c in _plane_coeffs(p, PLANE_DIM))}), i + 1)),"
        f" 0L, (acc, x) -> acc + x) > 0 THEN 1 ELSE 0 END * {1 << p}"
        for p in range(n_planes)
    )


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = N_PLANES,
    probe_all: bool = False,
) -> DataFrame:
    """Approximate top-k: probe the query's own hyperplane bucket, plus
    every bucket at Hamming distance 1 — the standard recall boost:
    n_planes+1 probes ≈ (n_planes+1)/2^n_planes of the corpus instead of
    1/2^n_planes, still never all-pairs. Bucketing is one row-local pass
    over the corpus; the join is an equi-join on bucket id, so candidate
    work is O(probed bucket sizes). Recall is tunable via n_planes
    (fewer planes → bigger buckets → higher recall)."""
    bucket = [f"{hyperplane_signs(n_planes)} AS bucket"]
    if probe_all:
        # every bucket probed ⇒ every corpus row scored exactly once
        # (each row lives in exactly one sign bucket) ⇒ provably equal to
        # brute_force_cosine_topk — the exactness anchor for the bucket
        # machinery, used by op-ext-ann-lsh-fullprobe's oracle check.
        probes = range(1 << n_planes)
    else:
        probes = ["bucket", *(f"bucket ^ {1 << p}" for p in range(n_planes))]
    q = quantized_rows(queries, "query_id", "qvec", "_nq", bucket).selectExpr(
        "query_id",
        "qvec",
        "_nq",
        f"explode(array({', '.join(map(str, probes))})) AS bucket",
    )
    c = quantized_rows(scale_out(corpus), "neighbor_id", "cv", "_nc", bucket)
    return _scored_nearest(c.join(F.broadcast(q), "bucket"), k)


def pairs_above(pairs: DataFrame, threshold: float) -> DataFrame:
    """``(doc_a, doc_b, cosine)`` of joined rows ``(doc_a, va, _na)`` ×
    ``(doc_b, vb, _nb)`` whose cosine is at least ``threshold``."""
    return pairs.selectExpr(
        "doc_a", "doc_b", f"{cosine_sql('va', 'vb', '_na', '_nb')} AS cosine"
    ).filter(f"cosine >= {threshold!r}D")


def exact_near_dup_pairs(corpus: DataFrame, threshold: float = 0.9) -> DataFrame:
    """ALL-PAIRS exact near-duplicate detection — the correctness anchor
    for :func:`embedding_near_dup_pairs` (which buckets by hyperplane
    signs and can miss pairs split across buckets). Deliberately O(n²):
    run it on small corpora or subsamples to calibrate the LSH recall;
    the bucketed variant is the scale path. One side is broadcast, so
    the plan is a BroadcastNestedLoopJoin with the a<b predicate — no
    shuffle, but candidate work is quadratic by definition."""
    a = quantized_rows(scale_out(corpus), "doc_a", "va", "_na")
    b = quantized_rows(corpus, "doc_b", "vb", "_nb")
    return pairs_above(a.join(F.broadcast(b), F.expr("doc_a < doc_b")), threshold)


def embedding_near_dup_pairs(
    corpus: DataFrame, threshold: float = 0.9, n_planes: int = N_PLANES
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: bucket by hyperplane signs,
    score only within buckets, keep pairs above threshold. Same
    O(Σ bucket²) guarantee as minhash-LSH — never all-pairs."""
    corpus = scale_out(corpus)
    bucket = [f"{hyperplane_signs(n_planes)} AS bucket"]
    a = quantized_rows(corpus, "doc_a", "va", "_na", bucket)
    b = quantized_rows(corpus, "doc_b", "vb", "_nb", bucket)
    pairs = a.join(b, "bucket").filter("doc_a < doc_b")
    return pairs_above(pairs, threshold).distinct()


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
