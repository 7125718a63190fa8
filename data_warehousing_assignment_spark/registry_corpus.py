"""Corpus-curation registry, wave 2 of the LLM training-data surface:
CCNet-style shared-chunk (paragraph) dedup, Lee-et-al-style duplicated
span coverage, bigram-LM document scoring, Gopher-style quality rules,
and SemDeDup cluster-scoped semantic dedup.

No reference counterpart (SURVEY.md §7.5 extension surface). Methods are
re-expressed from the public literature — CCNet (Wenzek et al. 2020,
paragraph-hash dedup), "Deduplicating Training Data Makes Language
Models Better" (Lee et al. 2022, duplicated-substring coverage),
Gopher's document-quality heuristics (Rae et al. 2021), and SemDeDup
(Abbas et al. 2023, k-means-bucketed embedding dedup) — each as a
shuffle-bounded Spark plan under the registry.py determinism rules
(integer/md5 arithmetic only across the engine boundary).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.operators import dedup as dd
from data_warehousing_assignment_spark.operators import similarity as sim
from data_warehousing_assignment_spark.operators.ivf import build_ivf_index
from data_warehousing_assignment_spark.operators.text import (
    tokens,
    word_shingles,
)
from data_warehousing_assignment_spark.registry import _TOKS, query, t


# --------------------------------------------------------------------------
# shared-chunk (paragraph) dedup — CCNet
# --------------------------------------------------------------------------


@query(
    "op-ext-paragraph-dedup",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS l FROM documents),
    c AS (
      SELECT doc_id,
             unnest(list_transform(range(0, (len(l) + 9) // 10),
                                   i -> i)) AS chunk_idx,
             unnest(list_transform(range(0, (len(l) + 9) // 10),
                                   i -> array_to_string(
                                          list_slice(l, i * 10 + 1,
                                                     i * 10 + 10), ' ')))
               AS chunk
      FROM t
    ),
    r AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (PARTITION BY md5(chunk)
                                ORDER BY doc_id, chunk_idx) AS rn
      FROM c
    )
    SELECT doc_id, COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST((1000 * SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS kept_ratio_pm
    FROM r GROUP BY doc_id
    """,
)
def op_ext_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style shared-paragraph dedup (Wenzek et al. 2020): documents
    split into fixed 10-token chunks (the corpus is single-line, so
    chunks stand in for paragraphs); a chunk duplicated anywhere in the
    corpus survives only at its FIRST occurrence (lowest doc_id, then
    chunk position) — the classic boilerplate-removal pass. Output is
    the per-document retention ledger the curation funnel consumes.

    Scale shape: chunking is row-local (transform over an index
    sequence, no explode until the chunk frame); the only corpus-wide
    exchange partitions by md5(chunk) — 32-char digests, never the
    corpus text — and the first-occurrence window runs inside those
    hash partitions. Per-doc rollup re-shuffles only (doc_id, flag)
    pairs. No all-pairs anywhere."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("l")
    )
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, (size(l) + 9) div 10 - 1), "
                "i -> array_join(slice(l, i * 10 + 1, 10), ' '))"
            )
        ).alias("chunk_idx", "chunk"),
    ).select("doc_id", "chunk_idx", F.md5("chunk").alias("h"))
    w = Window.partitionBy("h").orderBy("doc_id", "chunk_idx")
    flagged = chunks.withColumn("rn", F.row_number().over(w))
    kept = F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        kept.cast("bigint").alias("n_kept"),
        F.expr(
            "CAST((1000 * sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END))"
            " div count(1) AS BIGINT)"
        ).alias("kept_ratio_pm"),
    )


# --------------------------------------------------------------------------
# duplicated-span coverage — Lee et al. 2022
# --------------------------------------------------------------------------


@query(
    "op-ext-span-dedup",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS l FROM documents),
    base AS (SELECT doc_id, len(l) AS n_tokens FROM t),
    s AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(l) - 6), i -> i)) AS i,
             unnest(list_transform(range(1, len(l) - 6),
                      i -> md5(array_to_string(list_slice(l, i, i + 7),
                                               ' ')))) AS h
      FROM t WHERE len(l) >= 8
    ),
    duph AS (SELECT h FROM s GROUP BY h
             HAVING COUNT(DISTINCT doc_id) >= 2),
    ds AS (SELECT s.doc_id, s.i FROM s JOIN duph USING (h)),
    spanstats AS (
      SELECT s.doc_id, COUNT(*) AS n_spans,
             CAST(SUM(CASE WHEN duph.h IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dup_spans
      FROM s LEFT JOIN duph ON s.h = duph.h GROUP BY s.doc_id
    ),
    cov AS (
      SELECT doc_id, COUNT(DISTINCT pos) AS covered_tokens
      FROM (SELECT doc_id, unnest(generate_series(i, i + 7)) AS pos
            FROM ds)
      GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           COALESCE(sp.n_spans, 0) AS n_spans,
           COALESCE(sp.n_dup_spans, 0) AS n_dup_spans,
           COALESCE(c.covered_tokens, 0) AS covered_tokens,
           CAST((1000 * COALESCE(c.covered_tokens, 0)) // b.n_tokens
                AS BIGINT) AS coverage_pm
    FROM base b
    LEFT JOIN spanstats sp ON b.doc_id = sp.doc_id
    LEFT JOIN cov c ON b.doc_id = c.doc_id
    """,
)
def op_ext_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-substring coverage (Lee et al. 2022, the exact-substring
    dedup ledger): every 8-token span is hashed; a span whose hash
    appears in ≥2 distinct documents is a cross-document duplicate, and
    each document reports how many of its token positions fall inside
    at least one duplicated span — the "what fraction of this doc is
    copied" signal that drives span-level removal decisions.

    Scale shape: span construction is row-local; the corpus exchanges
    only 32-char span digests (groupBy h for the distinct-doc test,
    then a digest-keyed semi-join back). Coverage union is an exploded
    (doc, pos) distinct — integer pairs, bounded by 8× the duplicated
    span count, not the corpus. The suffix-array formulation is a
    single-node algorithm; this hash-bucketed one is the distributable
    equivalent for fixed span length."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("l")
    )
    base = docs.select("doc_id", F.size("l").cast("bigint").alias("n_tokens"))
    spans = (
        docs.filter(F.size("l") >= 8)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(l) - 7), "
                    "i -> named_struct('i', i, 'h', "
                    "md5(array_join(slice(l, i, 8), ' '))))"
                )
            ).alias("s"),
        )
        .select("doc_id", F.col("s.i").alias("i"), F.col("s.h").alias("h"))
    )
    duph = (
        spans.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    spanstats = (
        spans.join(duph.withColumn("_dup", F.lit(1)), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("_dup") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_spans"),
        )
    )
    cov = (
        spans.join(duph, "h")
        .select("doc_id", F.explode(F.sequence("i", F.col("i") + 7)).alias("pos"))
        .groupBy("doc_id")
        .agg(F.countDistinct("pos").alias("covered_tokens"))
    )
    return (
        base.join(spanstats, "doc_id", "left")
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            F.expr(
                "CAST((1000 * coalesce(covered_tokens, 0)) div n_tokens"
                " AS BIGINT)"
            ).alias("coverage_pm"),
        )
    )


# --------------------------------------------------------------------------
# bigram-LM document scoring
# --------------------------------------------------------------------------


@query(
    "op-ext-lm-score",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS l FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(l)),
                      i -> l[i] || ' ' || l[i + 1])) AS bigram
      FROM t WHERE len(l) >= 2
    ),
    p AS (SELECT doc_id, split_part(bigram, ' ', 1) AS w1,
                 split_part(bigram, ' ', 2) AS w2 FROM bg),
    cnt AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_ab
            FROM p GROUP BY 1, 2),
    lft AS (SELECT w1, CAST(SUM(n_ab) AS BIGINT) AS n_left
            FROM cnt GROUP BY 1)
    SELECT p.doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM((1000000 * c.n_ab) // l.n_left) // COUNT(*)
                AS BIGINT) AS avg_cond_ppm
    FROM p JOIN cnt c ON p.w1 = c.w1 AND p.w2 = c.w2
           JOIN lft l ON p.w1 = l.w1
    GROUP BY p.doc_id
    """,
)
def op_ext_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM document scoring — the CCNet/KenLM-style perplexity
    filter re-expressed in exact integers: train ML bigram
    probabilities on the corpus itself (op-ext-ngram-lm's count table),
    then score each document by the mean conditional probability of its
    bigrams, fixed-point parts-per-million via integer floor division
    (log-space scores differ in the last ulp across engines; the mean
    conditional probability ranks documents the same way and crosses
    the engine boundary bit-identically). Low scores = improbable word
    sequences → candidates for the quality cut.

    Scale shape: the count table aggregates the BIGRAM VOCAB (sublinear
    in corpus size — BASELINE.md ngram-lm probe); scoring is one join
    of doc bigrams against that table on (w1, w2), then a per-doc
    rollup. At 100 TB the LM table broadcast-joins once it stops
    growing."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("l")
    )
    p = (
        docs.filter(F.size("l") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(l) - 1), "
                    "i -> named_struct('w1', element_at(l, i), "
                    "'w2', element_at(l, i + 1)))"
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    cnt = p.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab"))
    lft = cnt.groupBy("w1").agg(F.sum("n_ab").alias("n_left"))
    return (
        p.join(cnt, ["w1", "w2"])
        .join(lft, "w1")
        .withColumn("ppm", F.expr("(1000000 * n_ab) div n_left"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr("CAST(sum(ppm) div count(1) AS BIGINT)").alias(
                "avg_cond_ppm"
            ),
        )
    )


# --------------------------------------------------------------------------
# Gopher-style quality rules
# --------------------------------------------------------------------------


@query(
    "op-ext-gopher-rules",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS l FROM documents),
    m AS (
      SELECT doc_id,
             len(l) AS n_words,
             CAST((100 * list_sum(list_transform(l, x -> length(x))))
                  // len(l) AS BIGINT) AS mean_word_len_x100,
             CAST((1000 * len(list_distinct(l))) // len(l) AS BIGINT)
               AS distinct_ratio_pm,
             CAST(len(list_filter(l,
                    x -> x IN ('the', 'a', 'of', 'to', 'and', 'in', 'is')))
                  AS BIGINT) AS stopword_hits
      FROM t
    )
    SELECT doc_id, n_words, mean_word_len_x100, distinct_ratio_pm,
           stopword_hits,
           (n_words BETWEEN 20 AND 10000
            AND mean_word_len_x100 BETWEEN 250 AND 800
            AND distinct_ratio_pm >= 300
            AND stopword_hits >= 2) AS passes_gopher
    FROM m
    """,
)
def op_ext_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document-quality rules (Rae et al. 2021, Table A1,
    adapted to this corpus's scale): word-count bounds, mean word
    length bounds, a type-token-ratio floor (the repetition screen),
    and a minimum stop-word count (the "is it prose" screen). All
    measures are integer fixed-point over row-local list aggregations —
    zero shuffles besides the scan; the rule verdict travels with the
    row for the downstream curation filter (compose with
    op-ext-curation-funnel).

    100 TB: embarrassingly parallel single-pass map; the natural
    first-stage filter before any dedup shuffles run."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("l")
    )
    m = docs.select(
        "doc_id",
        F.size("l").cast("bigint").alias("n_words"),
        F.expr(
            "CAST((100 * aggregate(transform(l, x -> length(x)), 0, "
            "(a, x) -> a + x)) div size(l) AS BIGINT)"
        ).alias("mean_word_len_x100"),
        F.expr(
            "CAST((1000 * size(array_distinct(l))) div size(l) AS BIGINT)"
        ).alias("distinct_ratio_pm"),
        F.expr(
            "CAST(size(filter(l, x -> x IN "
            "('the', 'a', 'of', 'to', 'and', 'in', 'is'))) AS BIGINT)"
        ).alias("stopword_hits"),
    )
    return m.select(
        "*",
        (
            F.col("n_words").between(20, 10000)
            & F.col("mean_word_len_x100").between(250, 800)
            & (F.col("distinct_ratio_pm") >= 300)
            & (F.col("stopword_hits") >= 2)
        ).alias("passes_gopher"),
    )


# --------------------------------------------------------------------------
# SemDeDup — cluster-scoped semantic dedup
# --------------------------------------------------------------------------


def _semantic_dedup_oracle() -> str:
    """DuckDB replay of the WHOLE SemDeDup pipeline — possible since
    the r8 exact-integer centroid mean made the IVF k-means
    bit-reproducible: dynamic k = clamp(n/500, 8, 256), lowest-id
    seeds, two unrolled Lloyd rounds (registry_extensions'
    _ivf_lloyd_round — the same CTE text the ANN-IVF oracle uses),
    final assignment, within-cluster lower-id domination at
    cosine ≥ 0.5 with the one proven-stable float divide."""
    from data_warehousing_assignment_spark.registry_extensions import (
        _ivf_lloyd_round,
    )

    return f"""
    WITH {sim.oracle_vectors()},
    kk AS (SELECT GREATEST(8, LEAST(256, COUNT(*) // 500)) AS k
           FROM embeddings),
    c0 AS (
      SELECT rn - 1 AS cluster, v AS centroid FROM (
        SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
        FROM emb)
      WHERE rn <= (SELECT k FROM kk)
    ),
    {_ivf_lloyd_round('c0', 0)},
    {_ivf_lloyd_round('c1', 1)},
    dfin AS (
      SELECT e.vec_id, c.cluster,
             CAST(SUM((e.v[idx.i] - c.centroid[idx.i])
                      * (e.v[idx.i] - c.centroid[idx.i])) AS BIGINT) AS dd
      FROM emb e, c2 c, idx GROUP BY 1, 2
    ),
    cells AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dd, cluster) AS rk
        FROM dfin) WHERE rk = 1
    ),
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM cells a JOIN cells b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    ),
    {sim.oracle_cosine("scored", "pairs")},
    dominated AS (
      SELECT DISTINCT neighbor_id AS vec_id FROM scored WHERE score >= 0.5
    )
    SELECT c.vec_id, CAST(c.cluster AS BIGINT) AS cluster,
           dom.vec_id IS NULL AS kept
    FROM cells c LEFT JOIN dominated dom ON c.vec_id = dom.vec_id
    """


def semantic_dedup_frame(emb: DataFrame) -> DataFrame:
    """The full SemDeDup pipeline over an embeddings frame — SHARED body
    of the registry op and the sf10 value pin (tools/scale_pins.py), so
    the pin can never drift from the shipped pipeline (r12 review).
    Returns (vec_id, cluster BIGINT, kept BOOL)."""
    n = emb.count()
    k = max(8, min(256, n // 500))
    _, assign = build_ivf_index(emb, n_clusters=k, n_iters=2)
    vecs = sim.quantized_rows(emb, "vec_id", "qv", "nrm").join(assign, "vec_id")
    a = vecs.selectExpr("vec_id AS doc_a", "qv AS va", "nrm AS _na", "cluster")
    b = vecs.selectExpr("vec_id AS doc_b", "qv AS vb", "nrm AS _nb", "cluster")
    dominated = (
        sim.pairs_above(a.join(b, "cluster").filter("doc_a < doc_b"), 0.5)
        .selectExpr("doc_b AS vec_id")
        .distinct()
    )
    return (
        vecs.join(dominated.withColumn("_dom", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            F.col("cluster").cast("bigint").alias("cluster"),
            F.col("_dom").isNull().alias("kept"),
        )
    )


@query("op-ext-semantic-dedup", oracle=_semantic_dedup_oracle())
def op_ext_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-bucket the embedding space
    (the deterministic IVF build from operators/ivf.py — seeded by
    lowest ids, 2 Lloyd rounds, no RNG), then WITHIN each cluster mark
    any vector that has a lower-id neighbor with cosine ≥ 0.5 as a
    semantic duplicate; survivors are the per-neighborhood
    representatives. The pairwise pass never leaves a cluster —
    O(Σ cluster²) instead of O(n²) — which is the paper's entire
    scaling argument; op-ext-embed-neardup-exact is the corpus-wide
    exactness anchor for the same threshold.

    ORACLE-EXACT since r8 (was rows-only): the exact-integer centroid
    mean (operators/ivf.py r8) made the k-means bit-reproducible, so
    the oracle replays the whole pipeline — dynamic k, seeds, both
    Lloyd rounds, assignment, within-cluster domination — in DuckDB
    and hash-matches. The numpy survivor replay at sf0.001 stays in
    tests/test_corpus.py as the independent third implementation.

    Cluster count SCALES with the corpus (k = n/500, floor 8, cap 256)
    — the paper's own requirement: with fixed k the within-cluster
    pair count grows as (n/k)²·k = n²/k, measured as a 156M-pair stall
    at the 50k-vector probe; bounding mean cluster size at ~500 keeps
    pairs ≤ 250·n (linear in n). The one count() here is the same
    sanctioned driver scalar as the watermark lookup
    (op-agg-scalar-max). Quantize + norm run ONCE per vector inside
    semantic_dedup_frame (not per pair — the pair frame is ~250×
    larger, and re-running the 64-element HOF chain there was the
    measured 3× overhead); the pair stage is one int dot + one double
    compare."""
    return semantic_dedup_frame(t(spark, sf_dir, "embeddings"))


# --------------------------------------------------------------------------
# DSIR-style importance score
# --------------------------------------------------------------------------


@query(
    "op-ext-importance-score",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS} AS l FROM documents),
    bg AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(l)),
                      i -> l[i] || ' ' || l[i + 1])) AS b
      FROM t WHERE len(l) >= 2
    ),
    tcnt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nt FROM bg
             WHERE lang = 'en' GROUP BY 1),
    ttot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tt FROM bg
             WHERE lang = 'en'),
    rcnt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nr FROM bg GROUP BY 1),
    rtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS rt FROM bg)
    SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM((1000000000 * (COALESCE(tc.nt, 0) + 1))
                    // (ttot.tt + rc2.v)
                  - (1000000000 * (tc2.nr + 1)) // (rtot.rt + rc2.v))
                AS BIGINT) AS imp_score
    FROM bg g
    LEFT JOIN tcnt tc ON g.b = tc.b
    JOIN rcnt tc2 ON g.b = tc2.b
    CROSS JOIN ttot
    CROSS JOIN rtot
    CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM rcnt) rc2
    GROUP BY 1
    """,
)
def op_ext_importance_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance score (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling", re-expressed
    log-free): hashed-n-gram feature probabilities under a TARGET
    distribution (the 'en' slice) vs the RAW corpus; each document's
    score sums the per-bigram smoothed probability DIFFERENCE in exact
    parts-per-billion (each term is two nonneg integer floor-divisions
    then one subtraction — engine-exact; DSIR's log-ratio needs ln,
    whose last ulp differs across engines, and the difference score
    ranks the same direction). Downstream: sample ∝ max(score, 0) via
    op-ext-priority-sample to shift the mixture toward the target. The
    bigram LM tables aggregate the VOCAB (sublinear — BASELINE.md
    ngram-lm probe); scoring is one join per doc-bigram + one rollup."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", tokens("text").alias("l")
    )
    bg = (
        docs.filter(F.size("l") >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(l) - 1), "
                    "i -> concat(element_at(l, i), ' ',"
                    " element_at(l, i + 1)))"
                )
            ).alias("b"),
        )
    )
    tgt = bg.filter(F.col("lang") == "en")
    tcnt = tgt.groupBy("b").agg(F.count(F.lit(1)).alias("nt"))
    ttot = tgt.agg(F.count(F.lit(1)).alias("tt"))
    rcnt = bg.groupBy("b").agg(F.count(F.lit(1)).alias("nr"))
    rtot = bg.agg(F.count(F.lit(1)).alias("rt"))
    vsz = rcnt.agg(F.count(F.lit(1)).alias("v"))
    term = F.expr(
        "(1000000000 * (coalesce(nt, 0) + 1)) div (tt + v)"
        " - (1000000000 * (nr + 1)) div (rt + v)"
    )
    return (
        bg.join(tcnt, "b", "left")
        .join(rcnt, "b")
        .crossJoin(F.broadcast(ttot))
        .crossJoin(F.broadcast(rtot))
        .crossJoin(F.broadcast(vsz))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(term).cast("bigint").alias("imp_score"),
        )
    )


# --------------------------------------------------------------------------
# inverted index build
# --------------------------------------------------------------------------


@query(
    "op-ext-inverted-index",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS l FROM documents),
    bg AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(l)),
                      i -> l[i] || ' ' || l[i + 1])) AS term
      FROM t WHERE len(l) >= 2
    ),
    ix AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
             string_agg(CAST(doc_id AS VARCHAR), ','
                        ORDER BY doc_id) AS postings
      FROM bg GROUP BY 1
    ),
    band AS (
      SELECT GREATEST(CAST(50 AS BIGINT),
                      CAST(COUNT(*) AS BIGINT) // 100) AS hi
      FROM documents
    )
    SELECT term, df, postings FROM ix, band WHERE df BETWEEN 2 AND band.hi
    """,
)
def op_ext_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (the search-engine primitive BM25/TF-IDF
    query against): bigram term → document-frequency + sorted posting
    list, restricted to the discriminative band 2 ≤ df ≤ 50 (df=1 terms
    match nothing else; stop-terms with huge df get skip-list/bitmap
    treatment instead — the standard index-pruning split). Postings
    surface as a comma-joined SORTED id string so the column stays
    scalar for the driver hash (array-native layout stays internal).
    One distinct + one groupBy, both keyed on the term — at 100 TB the
    posting lists for the banded df are bounded by construction, and
    unbounded hot terms never reach the agg because the band filter
    pushes into the same aggregation."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("l")
    )
    bg = (
        docs.filter(F.size("l") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(l) - 1), "
                    "i -> concat(element_at(l, i), ' ',"
                    " element_at(l, i + 1)))"
                )
            ).alias("term"),
        )
        .distinct()
    )
    ix = bg.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )
    # the band's upper edge scales with corpus size (max(50, n_docs/100))
    # so the "discriminative" cut stays non-degenerate as df counts grow
    # with the corpus: an absolute df<=50 empties on any corpus whose
    # every term is shared ~n/5000 times (observed at the 100x synthesis:
    # 0 rows = a trivially-green oracle, the r10-verdict evidence gap).
    # At sf0.01 (500 docs) the bound resolves to 50 — output unchanged.
    band = docs.agg(
        F.greatest(
            F.lit(50).cast("bigint"),
            F.expr("CAST(COUNT(*) AS BIGINT) div 100"),
        ).alias("hi")
    )
    return ix.crossJoin(F.broadcast(band)).filter(
        (F.col("df") >= 2) & (F.col("df") <= F.col("hi"))
    ).select("term", "df", "postings")


# --------------------------------------------------------------------------
# perceptual hash + banded Hamming near-dup (multimodal dedup)
# --------------------------------------------------------------------------

_PHASH_SQL = """
    WITH t AS (SELECT doc_id, text, length(text) AS L FROM documents),
    px AS (SELECT doc_id, k, ord(substr(text, (k % L) + 1, 1)) AS p
           FROM t CROSS JOIN (SELECT unnest(range(0, 64)) AS k)),
    m AS (SELECT doc_id, CAST(SUM(p) // 64 AS BIGINT) AS mean
          FROM px GROUP BY 1),
    b AS (SELECT px.doc_id, px.k,
                 CASE WHEN px.p > m.mean THEN 1 ELSE 0 END AS bit
          FROM px JOIN m ON px.doc_id = m.doc_id),
    h AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN k < 32
                      THEN bit * (CAST(1 AS BIGINT) << k)
                      ELSE 0 END) AS BIGINT) AS h1,
             CAST(SUM(CASE WHEN k >= 32
                      THEN bit * (CAST(1 AS BIGINT) << (k - 32))
                      ELSE 0 END) AS BIGINT) AS h2
      FROM b GROUP BY 1
    )
"""


@query(
    "op-ext-mm-phash",
    oracle=_PHASH_SQL + "    SELECT doc_id, h1, h2 FROM h",
)
def op_ext_mm_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-hash perceptual fingerprint of each media payload
    (multimodal.average_hash): 64 payload bytes → one bit each (byte >
    integer mean), packed as two int32-range halves so Hamming math is
    plain xor+bit_count in any engine. Deterministic integer pipeline
    ⇒ EXACT oracle for a perceptual hash (the DCT-pHash float path is
    the documented real-codec swap, multimodal.decode). Arrow-batched
    mapInPandas over the payload column; the corpus-facing cost is one
    scan. The oracle replays the byte math from the text column
    (payload = magic || ascii text, pinned by op-ext-mm-decode)."""
    from data_warehousing_assignment_spark.operators import multimodal as mm

    docs = mm.with_media_columns(t(spark, sf_dir, "documents"))
    return mm.average_hash(docs)


@query(
    "op-ext-mm-phash-neardup",
    oracle=_PHASH_SQL + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.h1, b.h1))
                + bit_count(xor(a.h2, b.h2)) AS BIGINT) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) <= 3
    """,
)
def op_ext_mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate MEDIA detection: payload pairs whose perceptual
    hashes differ in ≤3 of 64 bits — the image-dedup pass of a
    multimodal curation pipeline (the visual twin of the text ops:
    simhash for tokens, THIS for pixels). Engine side is
    dedup.banded_hamming_pairs (4×16-bit bands; Hamming ≤3 < 4 bands
    guarantees one clean band — op-ext-simhash-neardup's exactness
    argument), so candidates are O(Σ band-bucket²), never all-pairs;
    the ORACLE is the naive all-pairs xor+bit_count join — the banded
    plan must reproduce it exactly. Final Hamming check is
    bit_count(h1⊕h1')+bit_count(h2⊕h2') — JVM-side, no UDF."""
    from data_warehousing_assignment_spark.operators import multimodal as mm

    docs = mm.with_media_columns(t(spark, sf_dir, "documents"))
    return dd.banded_hamming_pairs(
        mm.average_hash(docs), "doc_id", ["h1", "h2"], 64
    ).selectExpr("doc_a AS id_a", "doc_b AS id_b", "hamming")


# --------------------------------------------------------------------------
# curriculum packing — quality-ordered sequence packing
# --------------------------------------------------------------------------


@query(
    "op-ext-curriculum-pack",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_TOKS} AS l FROM documents),
    p AS (
      SELECT doc_id, unnest(list_transform(range(1, len(l)),
               i -> l[i] || ' ' || l[i + 1])) AS bigram
      FROM t WHERE len(l) >= 2
    ),
    pw AS (SELECT doc_id, split_part(bigram, ' ', 1) AS w1,
                  split_part(bigram, ' ', 2) AS w2 FROM p),
    cnt AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_ab
            FROM pw GROUP BY 1, 2),
    lft AS (SELECT w1, CAST(SUM(n_ab) AS BIGINT) AS n_left
            FROM cnt GROUP BY 1),
    q AS (
      SELECT pw.doc_id,
             CAST(SUM((1000000 * c.n_ab) // l.n_left) // COUNT(*)
                  AS BIGINT) AS quality_ppm
      FROM pw JOIN cnt c ON pw.w1 = c.w1 AND pw.w2 = c.w2
              JOIN lft l ON pw.w1 = l.w1
      GROUP BY 1
    ),
    keyed AS (
      SELECT t.doc_id, t.source, CAST(len(t.l) AS BIGINT) AS n_tokens,
             q.quality_ppm,
             (1000000 - q.quality_ppm) * 10000000000 + t.doc_id AS ord_key
      FROM t JOIN q ON t.doc_id = q.doc_id
      WHERE len(t.l) > 0
    ),
    cum AS (
      SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source
                       ORDER BY ord_key ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) AS cum_tokens
      FROM keyed
    )
    SELECT doc_id, source, n_tokens, quality_ppm, cum_tokens,
           CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS chunk_start
    FROM cum
    """,
)
def op_ext_curriculum_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordered sequence packing: op-ext-seq-pack's 512-token
    GPT packing, but each source shard concatenates its documents in
    QUALITY order (op-ext-lm-score's bigram-LM score, descending; ties
    by doc_id via one composite int64 sort key) — so the first training
    sequences of every shard hold the most-probable text, the standard
    easy-first curriculum. The LM scoring joins aggregate the bigram
    VOCAB; the packing prefix-sum is one per-shard window. Composition
    = the curation pipeline a training run actually executes: score →
    order → pack, all in one plan, no materialization between
    stages."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", tokens("text").alias("l")
    )
    pw = (
        docs.filter(F.size("l") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(l) - 1), "
                    "i -> named_struct('w1', element_at(l, i), "
                    "'w2', element_at(l, i + 1)))"
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    cnt = pw.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab"))
    lft = cnt.groupBy("w1").agg(F.sum("n_ab").alias("n_left"))
    q = (
        pw.join(cnt, ["w1", "w2"])
        .join(lft, "w1")
        .withColumn("ppm", F.expr("(1000000 * n_ab) div n_left"))
        .groupBy("doc_id")
        .agg(
            F.expr("CAST(sum(ppm) div count(1) AS BIGINT)").alias(
                "quality_ppm"
            )
        )
    )
    keyed = (
        docs.filter(F.size("l") > 0)
        .select("doc_id", "source", F.size("l").cast("bigint").alias("n_tokens"))
        .join(q, "doc_id")
        .withColumn(
            "ord_key",
            (F.lit(1000000) - F.col("quality_ppm")) * F.lit(10000000000)
            + F.col("doc_id"),
        )
    )
    wpack = (
        Window.partitionBy("source")
        .orderBy("ord_key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return keyed.withColumn(
        "cum_tokens", F.sum("n_tokens").over(wpack).cast("bigint")
    ).select(
        "doc_id",
        "source",
        "n_tokens",
        "quality_ppm",
        "cum_tokens",
        F.expr("CAST((cum_tokens - n_tokens) div 512 AS BIGINT)").alias(
            "chunk_start"
        ),
    )


# --------------------------------------------------------------------------
# MLlib MinHashLSH cross-check
# --------------------------------------------------------------------------


@query("op-ext-mllib-minhash")  # rows-only: MLlib hash seeds aren't SQL
def op_ext_mllib_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark MLlib's own MinHashLSH as an independent implementation of
    the near-dup pair search (pyspark.ml.feature.MinHashLSH, seeded) —
    the cross-check that our hand-built band-join pipeline
    (op-ext-minhash-lsh) agrees with the framework's: shingles →
    seeded HashingTF binary vectors → 5 hash tables →
    approxSimilarityJoin at Jaccard distance ≤ 0.5. rows-only by
    design (MLlib's hash family isn't reproducible in SQL); recall
    against the EXACT Jaccard pairs is pinned in tests/test_corpus.py
    — two entirely independent LSH stacks must find the same planted
    near-dups. Scale note: MLlib's approxSimilarityJoin is itself a
    bucket equi-join (explode hash tables, join on (table, hash)) —
    the same O(Σ bucket²) shape this repo's operators argue for."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from data_warehousing_assignment_spark.operators.text import (
        word_shingles,
    )

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_distinct(word_shingles(tokens("text"), n=3)).alias("sh"),
    )
    tf = HashingTF(
        inputCol="sh", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feat = tf.transform(docs).filter(F.size("sh") > 0)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=5, seed=42
    )
    model = lsh.fit(feat)
    pairs = (
        model.approxSimilarityJoin(feat, feat, 0.5, distCol="jdist")
        .filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            (1.0 - F.col("jdist")).alias("jaccard_sim"),
        )
    )
    return pairs


# --------------------------------------------------------------------------
# overlapping-window chunking — built-in HOF path + Python UDTF surface
# --------------------------------------------------------------------------

_CHUNK_ORACLE = f"""
    WITH tk AS (
      SELECT doc_id, source, {_TOKS} AS l, len({_TOKS}) AS n FROM documents
    ),
    ch AS (
      SELECT doc_id, source, l, n,
             unnest(range(0, CASE WHEN n <= 32 THEN 1
                                  ELSE (n - 32 + 23) // 24 + 1 END)) AS ci
      FROM tk
    )
    SELECT doc_id, source,
           CAST(ci AS BIGINT) AS chunk_idx,
           CAST(LEAST(32, n - ci * 24) AS BIGINT) AS n_chunk_toks,
           md5(array_to_string(list_slice(l, ci * 24 + 1, ci * 24 + 32),
                               ' ')) AS chunk_md5
    FROM ch
    """


@query("op-ext-chunk-overlap", oracle=_CHUNK_ORACLE)
def op_ext_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks (32-token windows every 24 — the
    RAG-index / training-sequence prep shape) over the corpus:
    operators/text.py:chunk_windows. Row-local transform+explode, zero
    shuffle; chunk text never leaves the row — only its md5 digest and
    token count do. The 100 TB path; op-ext-chunk-udtf is the same
    contract through Spark 4's Python UDTF surface."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    from data_warehousing_assignment_spark.operators.text import chunk_windows

    return chunk_windows(docs).select(
        "doc_id", "source", "chunk_idx", "n_chunk_toks", "chunk_md5"
    )


@query("op-ext-chunk-udtf", oracle=_CHUNK_ORACLE)
def op_ext_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same overlapping-chunk contract through a Python UDTF
    (Spark 4 user-defined TABLE function) invoked via LATERAL — the
    §2.10 API-surface demo for per-row fan-out logic that genuinely
    can't be expressed with transform/explode (this one can, which is
    exactly what makes it pin-able: tests/test_chunking.py proves the
    UDTF row-identical to the codegen path, and the shared DuckDB
    oracle checks both). Serialization is the measured-faster pickle
    path — useArrow=True was A/B'd 2.6x SLOWER for this narrow
    string-in/3-scalars-out shape (functions/chunkers.py) — and the
    scale path remains op-ext-chunk-overlap either way."""
    from data_warehousing_assignment_spark.functions import chunkers

    chunkers.register(spark)
    t(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).createOrReplaceTempView("_chunk_docs")
    return spark.sql(
        """
        SELECT d.doc_id, d.source,
               c.chunk_idx, c.n_chunk_toks, c.chunk_md5
        FROM _chunk_docs d, LATERAL overlap_chunks(d.text) c
        """
    )


# --------------------------------------------------------------------------
# corpus mixture + budget selection (round 11)
# --------------------------------------------------------------------------


@query(
    "op-ext-mix-weights",
    oracle=f"""
    WITH d AS (
      SELECT source, CAST(len({_TOKS}) AS BIGINT) AS n_tok
      FROM documents WHERE len(trim(text)) > 0
    ),
    g AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM d GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt,
                   CAST(COUNT(*) AS BIGINT) AS k FROM g)
    SELECT g.source, g.n_docs, g.n_tokens,
           (1000000 * g.n_tokens) // tot.tt AS natural_ppm,
           (1000000 * tot.tt) // (tot.k * g.n_tokens) AS weight_ppm,
           LEAST((1000000 * tot.tt) // (tot.k * g.n_tokens),
                 1000000) AS keep_ppm,
           ((1000000 * tot.tt) // (tot.k * g.n_tokens) + 999999)
             // 1000000 AS epochs
    FROM g CROSS JOIN tot
    """,
)
def op_ext_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture solver: per-source sampling weights that move the
    corpus token distribution to a UNIFORM target across sources — the
    standard knob multilingual/multi-domain training runs expose (cf.
    the temperature-sampled mixtures of mC4/XLM-R and the hand-set
    domain weights of The Pile; uniform is temperature → ∞). For each
    source: weight = target_share / natural_share = T/(k·t_i) in exact
    ppm (one int64 floor-divide, shared verbatim with the oracle),
    keep_ppm caps the DOWN-sampled sources' Bernoulli rate at 1e6, and
    epochs = ceil(weight) is the duplication factor an UP-sampled
    source needs before its own keep-rate filter. Spark-first shape:
    one map-side-combined groupBy to |sources| rows, totals broadcast
    back — nothing data-sized shuffles, trivially 100 TB-safe."""
    d = t(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    ).select("source", F.size(tokens("text")).cast("long").alias("n_tok"))
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    tot = g.agg(
        F.sum("n_tokens").cast("long").alias("tt"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    w = "(1000000 * tt) div (k * n_tokens)"
    return g.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs", "n_tokens",
        F.expr("(1000000 * n_tokens) div tt").alias("natural_ppm"),
        F.expr(w).alias("weight_ppm"),
        F.expr(f"least({w}, 1000000)").alias("keep_ppm"),
        F.expr(f"({w} + 999999) div 1000000").alias("epochs"),
    )


@query(
    "op-ext-token-budget-select",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tok,
             CAST(len(list_distinct({_TOKS})) AS BIGINT) AS n_dist
      FROM documents WHERE len({_TOKS}) > 0
    ),
    q AS (
      SELECT doc_id, n_tok,
             (1000000 * n_dist) // n_tok AS quality_ppm
      FROM d
    ),
    tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) // 4 AS budget FROM q),
    c AS (
      SELECT *, CAST(SUM(n_tok) OVER (ORDER BY quality_ppm DESC, doc_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM q
    )
    SELECT doc_id, n_tok AS n_tokens, quality_ppm
    FROM c CROSS JOIN tot WHERE c.cum <= tot.budget
    """,
)
def op_ext_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget data selection: keep the highest-quality documents
    whose cumulative token count fits a global budget (25% of corpus
    tokens) — the select-under-budget step every curated pretraining
    mix runs after scoring (cf. DSIR / QuRating-style selection). The
    quality score is the type-token ratio in exact ppm (repetition
    penalty; integer floor-divide shared verbatim with the oracle),
    ties broken by doc_id.

    The oracle states the spec as ONE global ordered prefix-sum — a
    single-task window no 100 TB plan should run. The engine
    decomposes it exactly: (1) groupBy quality bucket → per-bucket
    token sums (≤1e6+1 tiny rows), (2) a driver-safe cumsum over that
    tiny bucket table finds the THRESHOLD bucket, (3) every doc in a
    strictly-better bucket is selected with no window at all, and (4)
    only the boundary bucket's docs pay a doc_id-ordered cumsum,
    partitioned to that one bucket. The only serial work is one
    bucket's membership — the same boundary-bucket shape as
    op-ext-histogram-equidepth — and steps 1/3 are plain
    map-side-combined aggregates. Selected set is provably identical
    to the naive global window (greedy prefix is bucket-monotone)."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("l")
    ).where(F.size("l") > 0)
    q = docs.select(
        "doc_id",
        F.size("l").cast("long").alias("n_tok"),
        F.expr(
            "(1000000 * CAST(size(array_distinct(l)) AS BIGINT))"
            " div CAST(size(l) AS BIGINT)"
        ).alias("quality_ppm"),
    )
    buckets = q.groupBy("quality_ppm").agg(
        F.sum("n_tok").cast("long").alias("b_tok")
    )
    w = Window.orderBy(F.col("quality_ppm").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # tiny frame: <= distinct quality values (<= 1e6+1 rows) — the
    # documented dims-sized single-partition window pattern
    bcum = buckets.select(
        "quality_ppm", "b_tok", F.sum("b_tok").over(w).alias("b_cum")
    )
    budget_row = q.agg(
        (F.sum("n_tok").cast("long") / F.lit(4)).cast("long").alias("budget")
    )
    marked = bcum.crossJoin(F.broadcast(budget_row)).select(
        "quality_ppm",
        (F.col("b_cum") <= F.col("budget")).alias("whole"),
        (F.col("b_cum") - F.col("b_tok")).alias("cum_before"),
        "budget",
    )
    # strictly-better buckets: selected wholesale, no window
    whole = q.join(
        F.broadcast(marked.where("whole").select("quality_ppm")),
        "quality_ppm",
    ).select("doc_id", F.col("n_tok").alias("n_tokens"), "quality_ppm")
    # boundary bucket: the first bucket whose cumulative sum exceeds
    # the budget — its docs compete for the remaining budget in doc_id
    # order. Exactly one such bucket (b_cum is strictly increasing).
    edge_key = marked.where(
        (~F.col("whole")) & (F.col("cum_before") <= F.col("budget"))
    ).select("quality_ppm", "cum_before", "budget")
    wb = Window.partitionBy("quality_ppm").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    edge = (
        q.join(F.broadcast(edge_key), "quality_ppm")
        .withColumn("cum_in", F.sum("n_tok").over(wb))
        .where(F.col("cum_before") + F.col("cum_in") <= F.col("budget"))
        .select("doc_id", F.col("n_tok").alias("n_tokens"), "quality_ppm")
    )
    return whole.unionByName(edge)


# --------------------------------------------------------------------------
# labeling QA / corpus diagnostics
# --------------------------------------------------------------------------

#: Cohen's kappa from the exact int64 2x2 sufficient statistics —
#: kappa = (po − pe)/(1 − pe) rewritten over integers as
#: (n·agree − pe_num)/(n² − pe_num), pe_num = a1·b1 + (n−a1)·(n−b1).
#: ONE shared tree, ONE final IEEE division; int64→double casts are
#: correctly rounded in both engines, so no fixed-point staging is
#: needed (same rationale as op-ext-gini-impurity). Degenerate pe = 1
#: (every row in one agreement cell) ⇒ po = 1 too; kappa is defined
#: as 1.0 there by convention. Exactness domain: n·agree ≤ n² must
#: stay in int64 ⇒ n ≤ 3e9 rows per group — far past any per-language
#: document count this engine will see in one partition-group.
_KAPPA_EXPR = (
    "(CASE WHEN n * n - (a1 * b1 + (n - a1) * (n - b1)) = 0 THEN 1.0"
    " ELSE CAST(n * agr - (a1 * b1 + (n - a1) * (n - b1)) AS DOUBLE)"
    " / CAST(n * n - (a1 * b1 + (n - a1) * (n - b1)) AS DOUBLE) END)"
)


@query(
    "op-ext-cohens-kappa",
    oracle=f"""
    WITH r AS (
      SELECT lang,
             len({_TOKS}) >= 40 AS ra,
             n_chars >= 200 AS rb
      FROM documents
    ),
    s AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN ra THEN 1 ELSE 0 END) AS BIGINT) AS a1,
             CAST(SUM(CASE WHEN rb THEN 1 ELSE 0 END) AS BIGINT) AS b1,
             CAST(SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS BIGINT)
               AS agr
      FROM r GROUP BY 1
    )
    SELECT lang, n AS n_docs, a1 AS n_pos_a, b1 AS n_pos_b,
           agr AS n_agree, {_KAPPA_EXPR} AS kappa
    FROM s
    """,
)
def op_ext_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic document raters, per
    language — the chance-corrected inter-annotator agreement a
    labeling pipeline reports when two labelers (or a heuristic and a
    model) gate the same corpus. Rater A keeps docs with ≥ 40 tokens,
    rater B keeps docs with ≥ 200 chars: correlated-but-distinct
    gates (both near the corpus median), so kappa sits strictly
    inside (0, 1) and a broken marginal or agreement count moves it —
    the oracle is discriminating, not a 1.0 = 1.0 tautology. Both
    raters, the 2x2 table, and kappa itself are exact int64
    arithmetic with ONE final division (_KAPPA_EXPR, shared verbatim
    with the oracle). SCALE: the gates are row-local (no shuffle);
    the only exchange carries |langs| × 4 counters via a
    map-side-combined groupBy — the cheapest possible shape."""
    docs = t(spark, sf_dir, "documents").select(
        "lang",
        (F.size(tokens("text")) >= 40).alias("ra"),
        (F.col("n_chars") >= 200).alias("rb"),
    )
    cnt_if = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")
    s = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        cnt_if(F.col("ra")).alias("a1"),
        cnt_if(F.col("rb")).alias("b1"),
        cnt_if(F.col("ra") == F.col("rb")).alias("agr"),
    )
    return s.selectExpr(
        "lang",
        "n AS n_docs",
        "a1 AS n_pos_a",
        "b1 AS n_pos_b",
        "agr AS n_agree",
        f"{_KAPPA_EXPR} AS kappa",
    )


#: DuckDB twin of operators.text.word_shingles(tokens(text), 3) — the
#: same 3-gram list registry_extensions pins for the MinHash family.
_SH3 = f"""
    CASE WHEN len({_TOKS}) >= 3
         THEN list_transform(range(1, len({_TOKS}) - 1),
                i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2])
         ELSE [array_to_string({_TOKS}, ' ')] END
"""


@query(
    "op-ext-source-overlap",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT source, g
      FROM (SELECT source, unnest({_SH3}) AS g FROM documents)
    ),
    v AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS nv FROM sh GROUP BY 1
    ),
    i AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS ni
      FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT va.source AS src_a, vb.source AS src_b,
           COALESCE(i.ni, 0) AS n_shared,
           va.nv + vb.nv - COALESCE(i.ni, 0) AS n_union,
           CAST(COALESCE(i.ni, 0) AS DOUBLE)
             / CAST(va.nv + vb.nv - COALESCE(i.ni, 0) AS DOUBLE)
             AS jaccard
    FROM v va JOIN v vb ON va.source < vb.source
    LEFT JOIN i ON i.src_a = va.source AND i.src_b = vb.source
    """,
)
def op_ext_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source shingle-vocabulary overlap: exact Jaccard between
    every pair of sources over their DISTINCT 3-gram shingle sets —
    the corpus-diversity / cross-source-contamination diagnostic a
    data mix is audited with (two 'independent' crawls with jaccard
    near 1 are the same crawl twice; op-ext-mix-weights upweights a
    source whose content is actually already in another). Single-word
    vocabulary would be useless here (every source shares a small
    token vocabulary — jaccard identically 1.0); 3-gram shingles make
    the measure content-driven, exactly like the MinHash family one
    module over. Counts are exact set cardinalities; one final IEEE
    division per pair.

    SCALE: (1) distinct(source, shingle) — one dedup shuffle, the
    same cost class as any shingle-level pass; (2) the intersection
    self-join keys on shingle, so per-key fan-out is bounded by the
    number of sources containing that shingle — at most |S|² rows per
    hot shingle, and |S| is a catalog-sized dimension (tens to
    thousands), never data-sized; (3) the pair spine is |S|²/2 rows
    built from two broadcast vocab frames, so ZERO-overlap pairs are
    still emitted (the left join keeps the oracle honest — a missing
    pair is a visible 0, not silence). For |S| in the thousands the
    production variant caps shingles at a document-frequency band
    first (the op-ext-inverted-index df gate) — same plan, smaller
    hot keys."""
    sh = (
        t(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(word_shingles(tokens("text"), 3)).alias("g"),
        )
        .distinct()
    )
    v = sh.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("nv")
    )
    a = sh.select(F.col("source").alias("src_a"), "g")
    b = sh.select(F.col("source").alias("src_b"), "g")
    i = (
        a.join(b, "g")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ni"))
    )
    va = v.select(F.col("source").alias("src_a"), F.col("nv").alias("nva"))
    vb = v.select(F.col("source").alias("src_b"), F.col("nv").alias("nvb"))
    spine = F.broadcast(va).crossJoin(F.broadcast(vb)).filter(
        F.col("src_a") < F.col("src_b")
    )
    return (
        spine.join(i, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            F.coalesce("ni", F.lit(0)).alias("n_shared"),
            (F.col("nva") + F.col("nvb") - F.coalesce("ni", F.lit(0)))
            .alias("n_union"),
            (
                F.coalesce("ni", F.lit(0)).cast("double")
                / (
                    F.col("nva") + F.col("nvb")
                    - F.coalesce("ni", F.lit(0))
                ).cast("double")
            ).alias("jaccard"),
        )
    )


#: One side's per-token JS term in half-nano units — shared verbatim.
#: p_a/m = 2·ca·nb/(ca·nb + cb·na) (exact int64 cross-ratio); the
#: 0·ln0 = 0 convention is the CASE guard; FLOOR-quantized so the
#: per-pair SUM over tokens is exact integer arithmetic (the PSI /
#: Anderson-Darling staging). Factor 5e8 = 1e9 · the ½ weight.
#: Precision caveat (r11 advice #1): FLOOR pins summation order, not
#: ln() itself (libm vs java.lang.Math) — a 1-ulp disagreement on a
#: FLOOR boundary would shift that term by 1. Empirically exact on
#: every tested SF; treat a ±n_tokens half-nano drift as that known
#: boundary effect (see op-ext-psi's docstring for the full argument).
_JSD_TERM = (
    "(CASE WHEN {c} = 0 THEN CAST(0 AS BIGINT)"
    " ELSE CAST(FLOOR(5e8"
    "   * (CAST({c} AS DOUBLE) / CAST({n} AS DOUBLE))"
    "   * ln(CAST(2 * {c} * {on} AS DOUBLE)"
    "        / CAST(ca * nb + cb * na AS DOUBLE))) AS BIGINT) END)"
)

_JSD_A = _JSD_TERM.format(c="ca", n="na", on="nb")
_JSD_B = _JSD_TERM.format(c="cb", n="nb", on="na")


@query(
    "op-ext-js-divergence",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_TOKS}) AS tk FROM documents
    ),
    cnt AS (
      SELECT source, tk, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2
    ),
    tot AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             a.n AS na, b.n AS nb
      FROM tot a JOIN tot b ON a.source < b.source
    ),
    vocab AS (SELECT DISTINCT tk FROM cnt),
    cells AS (
      SELECT p.src_a, p.src_b, p.na, p.nb,
             COALESCE(x.c, 0) AS ca, COALESCE(y.c, 0) AS cb
      FROM pairs p CROSS JOIN vocab v
      LEFT JOIN cnt x ON x.source = p.src_a AND x.tk = v.tk
      LEFT JOIN cnt y ON y.source = p.src_b AND y.tk = v.tk
      WHERE COALESCE(x.c, 0) + COALESCE(y.c, 0) > 0
    )
    SELECT src_a, src_b,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM({_JSD_A} + {_JSD_B}) AS BIGINT) AS jsd_nano,
           CAST(SUM({_JSD_A} + {_JSD_B}) AS DOUBLE) / 1e9 AS jsd
    FROM cells GROUP BY 1, 2
    """,
)
def op_ext_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between every source pair's token
    unigram distributions — the bounded (≤ ln 2), symmetric mixture
    distance a training-mix audit reports next to op-ext-source-overlap
    (overlap asks "same content?"; JSD asks "same token MIX?" — two
    disjoint crawls of the same register score overlap ≈ 0 but
    JSD ≈ 0). Each side's KL-to-the-midpoint term reduces to the exact
    int64 cross-ratio 2·c_a·n_b/(c_a·n_b + c_b·n_a); terms are
    FLOOR-quantized to half-nano units (the op-ext-psi staging) so the
    per-pair token SUM is exact integer arithmetic and jsd crosses the
    oracle as that integer over 1e9; absent-token cells follow
    0·ln 0 = 0 by the CASE guard. SCALE: one token-explode
    map-side-combined count (the op-ext-vocab-topk shape) collapses
    the corpus to a |sources|×|vocab| frame. Cells are built SPARSELY
    (r11 advice #3): the pair spine (|S|²/2 rows, the only broadcast)
    joins each side's count frame and the one-sided complements come
    from a left-anti — never a dense pairs×vocab cross join, and the
    data-sized count frames are never broadcast, so an open/large
    vocabulary streams through ordinary shuffle joins. Cell count is
    Σ_pairs |vocab_a ∪ vocab_b| ≤ (|S|−1)·|cnt| — the same rows the
    dense variant kept after its ca+cb>0 filter, without materializing
    the zeros."""
    toks = (
        t(spark, sf_dir, "documents")
        .select("source", F.explode(tokens("text")).alias("tk"))
    )
    cnt = toks.groupBy("source", "tk").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = cnt.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    a = tot.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    b = tot.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    pairs = F.broadcast(
        a.crossJoin(b).filter(F.col("src_a") < F.col("src_b"))
    )
    ca = cnt.select(
        F.col("source").alias("src_a"), "tk", F.col("c").alias("ca")
    )
    cb = cnt.select(
        F.col("source").alias("src_b"), "tk", F.col("c").alias("cb")
    )
    # side-a cells (shared + a-only): every token src_a has, with src_b's
    # count attached where present; side-b-only cells via left_anti.
    side_a = (
        pairs.join(ca, "src_a")
        .join(cb, ["src_b", "tk"], "left")
        .select(
            "src_a", "src_b", "na", "nb", "ca",
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    side_b_only = (
        pairs.join(cb, "src_b")
        .join(ca, ["src_a", "tk"], "left_anti")
        .select(
            "src_a", "src_b", "na", "nb",
            F.lit(0).cast("bigint").alias("ca"), "cb",
        )
    )
    cells = side_a.unionByName(side_b_only)
    return cells.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.expr(f"{_JSD_A} + {_JSD_B}")).cast("bigint").alias("jsd_nano"),
        (F.sum(F.expr(f"{_JSD_A} + {_JSD_B}")).cast("double") / F.lit(1e9))
        .alias("jsd"),
    )


# --------------------------------------------------------------------------
# vocabulary growth / hapax profile (r12): Heaps-curve points per source
# --------------------------------------------------------------------------


@query(
    "op-ext-vocab-growth",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_TOKS}) AS tk FROM documents
    ),
    cnt AS (
      SELECT source, tk, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS dis_legomena,
           CAST((1000000 * COUNT(*)) // SUM(c) AS BIGINT) AS ttr_ppm,
           CAST((1000000 * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS hapax_share_ppm
    FROM cnt GROUP BY 1
    """,
)
def op_ext_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth / hapax profile per source — the (N, V) points
    a Heaps'-law fit (V ≈ K·N^β, Heaps 1978) consumes, plus the hapax
    and dis-legomena counts that anchor Good–Turing mass estimates.
    A training-mix audit reads these next to op-ext-vocab-topk: a
    source whose type–token ratio or hapax share collapses is template
    spam (near-zero vocabulary growth); one whose hapax share ≈ 1 is
    noise/IDs. All surfaced values are exact integers (counts and ppm
    floor-divisions) — no log/float crosses the engine boundary; the
    β exponent itself is left to the consumer precisely because ln is
    not bit-stable cross-engine (the op-ext-psi caveat). SCALE: one
    token explode into a map-side-combined (source, token) count — the
    op-ext-vocab-topk shape — then a |sources|-sized rollup; nothing
    after the first groupBy is data-sized."""
    toks = (
        t(spark, sf_dir, "documents")
        .select("source", F.explode(tokens("text")).alias("tk"))
    )
    cnt = toks.groupBy("source", "tk").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return (
        cnt.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("vocab"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("hapax"),
            F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("dis_legomena"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab",
            "hapax",
            "dis_legomena",
            F.expr("(1000000 * vocab) div n_tokens").alias("ttr_ppm"),
            F.expr("(1000000 * hapax) div vocab").alias("hapax_share_ppm"),
        )
    )


# --------------------------------------------------------------------------
# PMI collocations (r12): lift-ranked adjacent bigrams, log-free
# --------------------------------------------------------------------------

#: decimal(38,0) exactness cliff for the PMI cross-ratio, with a 1% safety
#: margin: both the numerator c_ab·N_uni²·10⁶ and the denominator
#: N_bi·c_a·c_b must stay under this or Spark's non-ANSI decimal multiply
#: silently NULLs (DuckDB's HUGEINT raises — a silent/loud asymmetry).
#: The in-op guard estimates the products in IEEE doubles (exact enough at
#: a 1% margin: double relative error ~1e-16) and RAISES like DuckDB when
#: the bound is crossed — module-level so the overflow test can lower the
#: cliff to the data instead of synthesizing a 4.6e10-token corpus.
_PMI_GUARD_LIMIT = 9.9e37


@query(
    "op-ext-pmi-collocations",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS l FROM documents),
    uni AS (
      SELECT unnest(l) AS w FROM tk
    ),
    ucnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cu FROM uni GROUP BY 1),
    utot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu FROM uni),
    bg AS (
      SELECT unnest(list_transform(range(1, len(l)), i -> l[i])) AS w1,
             unnest(list_transform(range(1, len(l)), i -> l[i + 1])) AS w2
      FROM tk WHERE len(l) >= 2
    ),
    bcnt AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
             FROM bg GROUP BY 1, 2),
    btot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM bg),
    lift AS (
      SELECT b.w1, b.w2, b.cb,
             CAST((CAST(b.cb AS HUGEINT) * u.nu * u.nu * 1000000)
                  // (CAST(t.nb AS HUGEINT) * a.cu * c.cu)
                  AS BIGINT) AS lift_ppm
      FROM bcnt b
      JOIN ucnt a ON b.w1 = a.w
      JOIN ucnt c ON b.w2 = c.w
      CROSS JOIN utot u CROSS JOIN btot t
      WHERE b.cb >= 5
    )
    SELECT w1, w2, cb AS n_pairs, lift_ppm
    FROM lift
    ORDER BY lift_ppm DESC, w1 ASC, w2 ASC
    LIMIT 20
    """,
)
def op_ext_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation detection (Church & Hanks 1990): the top-20 adjacent
    bigrams by pointwise-mutual-information LIFT — P(ab)/(P(a)·P(b)) =
    c_ab·N_uni² / (N_bi·c_a·c_b) — with the standard c_ab ≥ 5 noise
    floor. Ranking by the LIFT rather than its log keeps the score a
    single exact fixed-point integer (log is monotone, so the order is
    identical and ln never crosses the engine boundary — the same
    log-free re-expression as op-ext-importance-score); the wide
    product c_ab·N_uni²·10⁶ runs in decimal(38,0)/HUGEINT with the
    sign-free (p − p % q)/q exact floor division (registry_ml._sdiv).
    EXACTNESS BOUND (r12 review): c_ab·N_uni²·10⁶ must stay under
    decimal(38,0)'s 10³⁸ — with c_ab ≤ N_uni that is guaranteed for
    N_uni ≲ 4.6·10¹⁰ tokens and holds far beyond that for realistic
    c_ab ≪ N_uni, but a 100 TB corpus (~10¹³ tokens) with a dominant
    bigram CAN cross it, where Spark's non-ANSI decimal multiply
    returns NULL (sorting the pair LAST) while DuckDB's HUGEINT
    raises — a silent/loud asymmetry. ENFORCED IN-OP since r13: a
    double-precision estimate of both wide products (1% safety margin,
    _PMI_GUARD_LIMIT) raises loudly — like DuckDB — the moment either
    nears 10³⁸, so an operator sees a failure, never a silently
    truncated top-20; past the bound, shard the corpus or cap counts
    before calling. The tested SFs sit 10+ orders below the bound
    (guard passes, output byte-identical — no oracle change).
    A tokenizer/vocab pipeline reads this to decide merge candidates
    and to spot boilerplate n-grams before dedup. SCALE: unigram and
    bigram tables are map-side-combined vocabulary aggregates; the
    lift join touches |bigram vocab| rows with two broadcast scalar
    totals; top-20 is TakeOrderedAndProject."""
    from data_warehousing_assignment_spark.registry_ml import _sdiv

    docs = t(spark, sf_dir, "documents").select(tokens("text").alias("l"))
    uni = docs.select(F.explode("l").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("cu"))
    utot = uni.agg(F.count(F.lit(1)).cast("bigint").alias("nu"))
    bg = docs.filter(F.size("l") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(l) - 1),"
                " i -> struct(element_at(l, i) AS w1,"
                " element_at(l, i + 1) AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bcnt = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("cb")
    )
    btot = bg.agg(F.count(F.lit(1)).cast("bigint").alias("nb"))
    a = ucnt.select(F.col("w").alias("w1"), F.col("cu").alias("ca"))
    c = ucnt.select(F.col("w").alias("w2"), F.col("cu").alias("cc"))
    # Loud exactness guard (r12 verdict #4 / advice): estimate both wide
    # products in doubles and RAISE when either nears the decimal(38,0)
    # cliff — mirroring DuckDB's HUGEINT overflow raise instead of
    # Spark's silent NULL (which desc-sorts LAST and silently drops the
    # most dominant bigram from the top-20). assert_true returns NULL on
    # success, so the filter keeps every row and cannot be pruned.
    in_bound = (
        F.col("cb").cast("double")
        * F.col("nu").cast("double") * F.col("nu").cast("double")
        * F.lit(1000000.0)
        < F.lit(_PMI_GUARD_LIMIT)
    ) & (
        F.col("nb").cast("double")
        * F.col("ca").cast("double") * F.col("cc").cast("double")
        < F.lit(_PMI_GUARD_LIMIT)
    )
    lift = (
        bcnt.filter(F.col("cb") >= 5)
        .join(a, "w1")
        .join(c, "w2")
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
        .filter(
            F.assert_true(
                in_bound,
                F.lit(
                    "op-ext-pmi-collocations: cross-ratio exceeds the"
                    " decimal(38,0) exactness bound — shard the corpus or"
                    " cap counts (see docstring) instead of trusting a"
                    " silently-NULLed lift"
                ),
            ).isNull()
        )
        .select(
            "w1",
            "w2",
            F.col("cb").alias("n_pairs"),
            _sdiv(
                F.col("cb").cast("decimal(38,0)")
                * F.col("nu") * F.col("nu") * F.lit(1000000),
                F.col("nb").cast("decimal(38,0)") * F.col("ca") * F.col("cc"),
            )
            .cast("bigint")
            .alias("lift_ppm"),
        )
    )
    return (
        lift.orderBy(F.desc("lift_ppm"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )
