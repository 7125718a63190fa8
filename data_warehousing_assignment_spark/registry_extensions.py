"""Extension registry: the 100 TB training-data-pipeline operators
(dedup, similarity search, text analysis, streaming windows) wired to
the documents/embeddings/events testdata, with DuckDB oracles wherever
the computation is SQL-expressible.

The md5-based hashing strategy (see operators/dedup.py) exists precisely
so these oracles are possible: min-hash minimizes lexicographic HEX
strings, SimHash votes on md5 nibbles, and embedding scores run on
floor-quantized int64 micro-units — all bit-reproducible in DuckDB.

Oracle-less entries (rows-only check, by design): only the
approximate-by-spec paths — lsh_cosine_topk, ivf_cosine_topk,
embedding_near_dup_pairs — whose contract is approximation quality,
pinned by recall/error-bound tests (tests/test_similarity.py,
test_ivf.py) rather than SQL equivalence. approx_count_distinct
carries an oracle since r8: its registered surface is the
deterministic error-bound check (|sketch − exact| ≤ 4·rsd·exact
pinned TRUE next to the exact counts), the same contract pattern as
op-ext-approx-quantile and op-ext-hll-merge. The true readStream paths are exercised in
tests/test_streaming.py, test_stateful.py, test_watermark.py,
test_stream_sink.py, test_stream_dedup.py, test_stream_join.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.registry import dec, query, t
from data_warehousing_assignment_spark.operators import dedup as dd
from data_warehousing_assignment_spark.operators import similarity as sim
from data_warehousing_assignment_spark.operators import text as tx
from data_warehousing_assignment_spark.streaming import windows as sw


def docs_t(spark, sf_dir):
    """documents table widened for CPU-bound row-local hash stages
    (single small parquet file → single task otherwise)."""
    return dd.scale_out(t(spark, sf_dir, "documents"))

# Shared DuckDB fragments -------------------------------------------------

_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"

# word 3-gram shingles with the same <3-token fallback as word_shingles()
_SHINGLES = f"""
    CASE WHEN len({_TOKS}) >= 3
         THEN list_transform(range(1, len({_TOKS}) - 1),
                i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2])
         ELSE [array_to_string({_TOKS}, ' ')] END
"""

_K, _BANDS, _R = 12, 4, 3


def _sig_sql() -> str:
    """DuckDB expression list for the 12 min-hash values over shingles
    (mirrors dedup.minhash_signature)."""
    mins = ", ".join(
        f"list_min(list_transform(sh, s -> md5('{i}:' || s)))" for i in range(_K)
    )
    return mins


_SIG_CTE = f"""
    sigs AS (
      SELECT doc_id, list_value({_sig_sql()}) AS sig
      FROM (SELECT doc_id, {_SHINGLES} AS sh FROM documents)
    )
"""

_BANDS_CTE = (
    "bands AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5(sig[{b*_R+1}] || '|' || sig[{b*_R+2}] || '|' || sig[{b*_R+3}]) AS band_hash "
        "FROM sigs"
        for b in range(_BANDS)
    )
    + ")"
)

_CAND_SQL = f"""
    WITH {_SIG_CTE}, {_BANDS_CTE}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash
    WHERE a.doc_id < b.doc_id
"""


# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------


@query(
    "op-ext-dedup-exact",
    oracle=r"""
    SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
             AS content_hash,
           min(doc_id) AS keep_id, COUNT(*) AS group_size
    FROM documents GROUP BY 1
    """,
)
def op_ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via normalized content hash; survivor = min(doc_id).
    One shuffle on the 32-char hash — never on document bodies. No
    scale_out here: md5+groupBy is shuffle-bound, and widening first
    shuffles the bodies themselves (benchmarked 4.5× slower at sf0.1);
    at cluster scale the scan is already wide."""
    return dd.exact_dedup(t(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "op-ext-dedup-dupcapture",
    oracle="""
    SELECT lang, source, COUNT(*) AS n_rows
    FROM documents GROUP BY lang, source HAVING COUNT(*) > 1
    """,
)
def op_ext_dedup_dupcapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """duplicate_rows over a projection (metadata-level dup capture)."""
    return dd.duplicate_rows(t(spark, sf_dir, "documents"), ["lang", "source"])


@query(
    "op-ext-minhash-sig",
    # Arrays never cross the oracle boundary (the driver's pandas
    # canonicalization can't sort/hash list cells — r3 `err`): the
    # signature is surfaced as a '|'-joined string, array-native form
    # stays the operator contract (tests/test_dedup.py).
    oracle=f"""WITH {_SIG_CTE}
    SELECT doc_id, array_to_string(sig, '|') AS sig FROM sigs""",
)
def op_ext_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=12): row-local array expressions, zero
    shuffle — the signature stage scales linearly with corpus bytes."""
    docs = t(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs, "doc_id", "text", _K)
    return sigs.select("doc_id", F.concat_ws("|", "sig").alias("sig"))


_INCR_CAND_SQL = f"""
    WITH {_SIG_CTE}, {_BANDS_CTE},
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash
      WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CASE WHEN doc_a % 5 = 0 AND doc_b % 5 = 0 THEN 'new-new'
                ELSE 'cross' END AS pair_type
    FROM cands
    WHERE doc_a % 5 = 0 OR doc_b % 5 = 0
"""


@query("op-ext-minhash-incremental", oracle=_INCR_CAND_SQL)
def op_ext_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH candidates (r12): the doc_id%5==0 slice
    plays the NEW batch, the rest the settled corpus. Only the batch
    computes signatures; its band keys probe the stored band index plus
    themselves, so the work is O(Δ) hashing + a Δ-sized bucket join —
    the production shape of continuous dedup (the exact-hash twin is
    op-ext-dedup-incremental; this is its near-dup counterpart). The
    oracle states the correctness invariant directly: incremental
    output ≡ the FULL-corpus banded candidate set restricted to pairs
    touching the batch (bucket equi-joins on identical keys make the
    two constructions equal, not approximately equal). SCALE: the old
    side ships only (doc, band, band_hash) rows — at 100 TB the stored
    band index is ~150 GB cluster-wide while the corpus is not re-read
    at all; candidate verify (op-ext-jaccard) then touches only
    batch-linked pairs."""
    docs = t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    return dd.minhash_lsh_incremental_candidates(
        old, new, "doc_id", "text", _K, _BANDS
    )


@query("op-ext-minhash-lsh", oracle=_CAND_SQL)
def op_ext_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH candidate pairs (k=12, 4 bands × 3 rows):
    bucket equi-join, O(Σ bucket²), never all-pairs."""
    return dd.minhash_lsh_candidates(
        t(spark, sf_dir, "documents"), "doc_id", "text", _K, _BANDS
    )


@query(
    "op-ext-jaccard",
    oracle=f"""
    WITH {_SIG_CTE}, {_BANDS_CTE},
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash
      WHERE a.doc_id < b.doc_id
    ),
    sh AS (SELECT doc_id, list_distinct({_SHINGLES}) AS s FROM documents)
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
             / CAST(len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))
                    AS DOUBLE) AS jaccard
    FROM cands c
    JOIN sh x ON c.doc_a = x.doc_id
    JOIN sh y ON c.doc_b = y.doc_id
    """,
)
def op_ext_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard verification of LSH candidates — integer
    set-intersection sizes, one IEEE division; cost O(|candidates|)."""
    docs = t(spark, sf_dir, "documents")
    cands = dd.minhash_lsh_candidates(docs, "doc_id", "text", _K, _BANDS)
    return dd.ngram_jaccard_pairs(docs, cands, "doc_id", "text")


def _simhash_oracle(bits: int = dd.SIMHASH_BITS) -> str:
    """Oracle twin of operators/dedup.simhash: one vote sum per md5 bit,
    read per nibble through strpos (independent of the engine's packed
    chunk parse), packed into the same int64 words
    (dedup.simhash_word_sql)."""
    votes = ", ".join(
        "SUM(CASE WHEN ((strpos('0123456789abcdef', "
        f"substr(md5(tok), {j // 4 + 1}, 1)) - 1) & {1 << (j % 4)}) > 0 "
        f"THEN 1 ELSE -1 END) AS _v{j}"
        for j in range(bits)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, t.tok FROM (
        SELECT doc_id, {_TOKS} AS tk FROM documents) d, unnest(d.tk) AS t(tok)
    ), votes AS (
      SELECT doc_id, {votes} FROM toks GROUP BY doc_id
    )
    SELECT doc_id, {", ".join(dd.simhash_word_sql(bits))} FROM votes
    """


@query("op-ext-simhash", oracle=_simhash_oracle())
def op_ext_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (48 bits from md5 nibbles): one explode + one
    wide map-side-combined aggregation — a single shuffle keyed by doc."""
    return dd.simhash(t(spark, sf_dir, "documents"), "doc_id", "text")


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------


@query(
    "op-ext-text-stats",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           CAST(list_sum(list_transform({_TOKS}, s -> length(s))) AS DOUBLE)
             / CAST(len({_TOKS}) AS DOUBLE) AS avg_token_len
    FROM documents
    """,
)
def op_ext_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + length stats — row-local, zero shuffle."""
    docs = docs_t(spark, sf_dir)
    f = tx.quality_features("text")
    return docs.select(
        "doc_id",
        f["n_chars"].alias("n_chars_calc"),
        f["n_tokens"].alias("n_tokens"),
        f["avg_token_len"].alias("avg_token_len"),
    )


def _lang_oracle() -> str:
    hits = {
        lang: (
            f"len(list_filter({_TOKS}, "
            f"tk -> tk IN ({', '.join(repr(w) for w in ws)})))"
        )
        for lang, ws in tx.STOPWORDS.items()
    }
    langs = list(tx.STOPWORDS)
    case = "CASE "
    for lang in langs:  # first match wins → en priority like the Spark chain
        conds = [f"{hits[lang]} > 0"] + [
            f"{hits[lang]} >= {hits[o]}" for o in langs if o != lang
        ]
        case += f"WHEN {' AND '.join(conds)} THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"SELECT doc_id, {case} AS lang_guess FROM documents"


@query("op-ext-lang-id", oracle=_lang_oracle())
def op_ext_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (argmax with fixed tie order)."""
    return docs_t(spark, sf_dir).select(
        "doc_id", tx.lang_id("text").alias("lang_guess")
    )


@query(
    "op-ext-quality",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len({_TOKS}) AS DOUBLE) AS n_tokens,
             CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                  AS DOUBLE) AS punct,
             CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                  AS DOUBLE) AS digits,
             CAST(len(list_filter({_TOKS},
                  tk -> tk IN ('the','a','and','of','to','in','is','that','it','for')))
                  AS DOUBLE) AS sw
      FROM documents
    )
    SELECT doc_id,
           punct / n_chars AS punct_ratio,
           digits / n_chars AS digit_ratio,
           sw / n_tokens AS stopword_ratio,
           0.4 * least(sw / n_tokens * 4.0, 1.0)
           + 0.3 * least(n_tokens / 100.0, 1.0)
           + 0.2 * (1.0 - least(punct / n_chars * 10.0, 1.0))
           + 0.1 * (1.0 - least(digits / n_chars * 10.0, 1.0)) AS score
    FROM f
    """,
)
def op_ext_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: ratio features + fixed-weight composite
    (every term is ints-then-one-division → bit-stable doubles)."""
    docs = docs_t(spark, sf_dir)
    f = tx.quality_features("text")
    return docs.select(
        "doc_id",
        f["punct_ratio"].alias("punct_ratio"),
        f["digit_ratio"].alias("digit_ratio"),
        f["stopword_ratio"].alias("stopword_ratio"),
        tx.quality_score("text").alias("score"),
    )


@query(
    "op-ext-fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_min(list_transform({_SHINGLES}, s -> md5(s))) AS fingerprint
    FROM documents
    """,
)
def op_ext_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint: min shingle md5 (k=1 min-hash)."""
    return docs_t(spark, sf_dir).select(
        "doc_id", tx.doc_fingerprint("text").alias("fingerprint")
    )


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------

_QUANT_SQL = (
    "list_transform(embedding, x -> "
    "CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
)

_ANN_ORACLE = f"""
    WITH qv AS (
      SELECT vec_id AS query_id, {_QUANT_SQL} AS e
      FROM embeddings WHERE vec_id % 100 = 0
    ), cv AS (
      SELECT vec_id AS neighbor_id, {_QUANT_SQL} AS e FROM embeddings
    ), idx AS (SELECT unnest(range(1, 65)) AS i),
    dots AS (
      SELECT q.query_id, c.neighbor_id,
             CAST(SUM(q.e[idx.i] * c.e[idx.i]) AS BIGINT) AS dot
      FROM qv q, cv c, idx
      WHERE q.query_id <> c.neighbor_id
      GROUP BY 1, 2
    ), norms AS (
      SELECT vec_id, CAST(SUM(p) AS BIGINT) AS nrm FROM (
        SELECT vec_id, e[idx.i] * e[idx.i] AS p
        FROM (SELECT vec_id, {_QUANT_SQL} AS e FROM embeddings), idx) GROUP BY 1
    ), scored AS (
      SELECT d.query_id, d.neighbor_id,
             CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(nq.nrm AS DOUBLE)) * sqrt(CAST(nc.nrm AS DOUBLE)))
               AS score
      FROM dots d
      JOIN norms nq ON d.query_id = nq.vec_id
      JOIN norms nc ON d.neighbor_id = nc.vec_id
    )
    SELECT query_id, neighbor_id, rank, score FROM (
      SELECT query_id, neighbor_id, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY score DESC, neighbor_id) AS INT) AS rank
      FROM scored)
    WHERE rank <= 5
"""


@query("op-ext-ann-bruteforce", oracle=_ANN_ORACLE)
def op_ext_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (k=5) for the vec_id%100=0 query set —
    the exact baseline the LSH path is measured against. Quantized int64
    scoring makes ranks and scores bit-stable across engines."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return sim.brute_force_cosine_topk(emb, queries, k=5)


def _planes_sql(n_planes: int = 6, dim: int = 64) -> str:
    """The hyperplane coefficient table as literal VALUES rows — the
    SAME integers Spark uses (similarity._plane_coeffs is md5-derived
    and computed driver-side), so DuckDB can replay sign-bucketing
    exactly; zero hashing runs engine-side on either engine."""
    from data_warehousing_assignment_spark.operators.similarity import (
        _plane_coeffs,
    )

    rows = ", ".join(
        f"({p}, {list(_plane_coeffs(p, dim))})" for p in range(n_planes)
    )
    return f"(VALUES {rows}) planes(p, h)"


#: per-vector sign-bucket id: exact int64 plane projections → bit per
#: plane — the shared head of the LSH ANN and embed-neardup oracles
_BUCKET_CTES = f"""
    emb AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
    idx AS (SELECT unnest(range(1, 65)) AS i),
    proj AS (
      SELECT emb.vec_id, planes.p,
             CAST(SUM(emb.v[idx.i] * planes.h[idx.i]) AS BIGINT) AS pr
      FROM emb, {_planes_sql()}, idx GROUP BY 1, 2
    ),
    buck AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN pr > 0 THEN (1::BIGINT << p)
                           ELSE 0 END) AS BIGINT) AS bucket
      FROM proj GROUP BY 1
    ),
    nrms AS (
      SELECT emb.vec_id, CAST(SUM(v[idx.i] * v[idx.i]) AS BIGINT) AS nrm
      FROM emb, idx GROUP BY 1
    )"""


@query(
    "op-ext-ann-lsh",
    oracle=f"""
    WITH {_BUCKET_CTES},
    qp AS (
      SELECT b.vec_id AS query_id,
             unnest([b.bucket, xor(b.bucket, 1), xor(b.bucket, 2),
                     xor(b.bucket, 4), xor(b.bucket, 8),
                     xor(b.bucket, 16), xor(b.bucket, 32)]) AS bucket
      FROM buck b WHERE b.vec_id % 100 = 0
    ),
    cand AS (
      SELECT qp.query_id, cb.vec_id AS neighbor_id
      FROM qp JOIN buck cb ON cb.bucket = qp.bucket
      WHERE cb.vec_id <> qp.query_id
    ),
    dots AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(SUM(q.v[idx.i] * n.v[idx.i]) AS BIGINT) AS dot
      FROM cand c
      JOIN emb q ON q.vec_id = c.query_id
      JOIN emb n ON n.vec_id = c.neighbor_id, idx
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.query_id, d.neighbor_id,
             CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(nq.nrm AS DOUBLE))
                  * sqrt(CAST(nc.nrm AS DOUBLE))) AS score
      FROM dots d
      JOIN nrms nq ON d.query_id = nq.vec_id
      JOIN nrms nc ON d.neighbor_id = nc.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY score DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
)
def op_ext_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k (self + Hamming-1 multi-probe):
    same output contract as the brute-force baseline, candidates
    limited to the probed sign buckets. ORACLE-EXACT since r8, not just
    recall-pinned: every stage is deterministic — md5-derived integer
    plane coefficients (embedded as literals in the oracle, zero
    hashing engine-side), exact int64 projections and dots, strict
    sign-bit bucketing, and the one proven-stable float divide — so
    DuckDB replays the ENTIRE approximate pipeline bit-for-bit. Recall
    vs brute force stays pinned in tests/test_similarity.py; the
    full-probe twin anchors bucket-machinery ≡ brute force."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return sim.lsh_cosine_topk(emb, queries, k=5)


@query("op-ext-ann-lsh-fullprobe", oracle=_ANN_ORACLE)
def op_ext_ann_lsh_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH with every one of the 2^n_planes buckets probed:
    each corpus row lives in exactly one sign bucket, so probing all of
    them scores every (query, neighbor) pair exactly once — provably
    identical to op-ext-ann-bruteforce, hence the shared oracle. This is
    the external exactness anchor for the sign-bucket machinery;
    op-ext-ann-lsh is the same code at the approximate (self+Hamming-1
    probes) operating point."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return sim.lsh_cosine_topk(emb, queries, k=5, probe_all=True)


@query(
    "op-ext-embed-neardup",
    oracle=f"""
    WITH {_BUCKET_CTES},
    pairs AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM buck a JOIN buck b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    dots AS (
      SELECT p.doc_a, p.doc_b,
             CAST(SUM(x.v[idx.i] * y.v[idx.i]) AS BIGINT) AS dot
      FROM pairs p
      JOIN emb x ON x.vec_id = p.doc_a
      JOIN emb y ON y.vec_id = p.doc_b, idx
      GROUP BY 1, 2
    )
    SELECT d.doc_a, d.doc_b,
           CAST(d.dot AS DOUBLE)
             / (sqrt(CAST(na.nrm AS DOUBLE))
                * sqrt(CAST(nb.nrm AS DOUBLE))) AS cosine
    FROM dots d
    JOIN nrms na ON d.doc_a = na.vec_id
    JOIN nrms nb ON d.doc_b = nb.vec_id
    WHERE CAST(d.dot AS DOUBLE)
            / (sqrt(CAST(na.nrm AS DOUBLE))
               * sqrt(CAST(nb.nrm AS DOUBLE))) >= 0.5
    """,
)
def op_ext_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within hyperplane buckets
    (threshold 0.5 on this synthetic data). ORACLE-EXACT since r8 (was
    rows-only): the bucketing, int64 dots and the single float divide
    replay identically in DuckDB via the literal plane-coefficient
    table (see op-ext-ann-lsh) — identical expressions give identical
    doubles, so even the ≥ threshold boundary compares equal. The
    recall-vs-exact contract (pairs split across buckets) stays pinned
    against exact_near_dup_pairs in tests/test_similarity.py."""
    return sim.embedding_near_dup_pairs(
        t(spark, sf_dir, "embeddings"), threshold=0.5
    )


_NEARDUP_EXACT_ORACLE = f"""
    WITH e AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
    idx AS (SELECT unnest(range(1, 65)) AS i),
    norms AS (
      SELECT vec_id, CAST(SUM(v[idx.i] * v[idx.i]) AS BIGINT) AS nrm
      FROM e, idx GROUP BY 1
    ),
    dots AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
             CAST(SUM(a.v[idx.i] * b.v[idx.i]) AS BIGINT) AS dot
      FROM e a, e b, idx
      WHERE a.vec_id < b.vec_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(d.dot AS DOUBLE)
             / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE)))
             AS cosine
    FROM dots d
    JOIN norms na ON d.doc_a = na.vec_id
    JOIN norms nb ON d.doc_b = nb.vec_id
    WHERE CAST(d.dot AS DOUBLE)
             / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE)))
          >= 0.5
"""


@query("op-ext-embed-neardup-exact", oracle=_NEARDUP_EXACT_ORACLE)
def op_ext_embed_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL-PAIRS exact near-dup at the same threshold — the correctness
    anchor that calibrates op-ext-embed-neardup's bucketed recall.
    Quantized int64 scoring keeps the cosine bit-identical across
    engines. O(n²) by definition: exactness anchor / subsample tool, not
    the scale path (that's the LSH-bucketed variant)."""
    return sim.exact_near_dup_pairs(
        t(spark, sf_dir, "embeddings"), threshold=0.5
    )


# --------------------------------------------------------------------------
# streaming windows (batch semantics on events; true readStream in tests)
# --------------------------------------------------------------------------


@query(
    "op-ext-stream-tumbling",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def op_ext_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h event-time windows per event_type — identical code
    path runs under readStream (tests/test_streaming.py)."""
    return sw.tumbling_counts(t(spark, sf_dir, "events"))


@query(
    "op-ext-stream-sliding",
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL 1 HOUR, ts) - INTERVAL 1 HOUR, value
      FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM b GROUP BY ws
    """,
)
def op_ext_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2h/1h windows: every event lands in exactly two windows
    (oracle: union of the two bucket offsets)."""
    return sw.sliding_counts(t(spark, sf_dir, "events"))


@query(
    "op-ext-stream-session",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      -- the running sum MUST tie-break on event_id like the lag above:
      -- with an ORDER BY ts alone, duplicate-ts rows (sf1 synthesis makes
      -- 10 ts-identical copies per event) land on either side of the ROWS
      -- frame boundary arbitrarily, splitting one true session in two
      -- (caught by the r9 sf1 oracle sweep; Spark's session_window was right)
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM seq
    )
    SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM sess GROUP BY user_id, session_no
    """,
)
def op_ext_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30 min gap) per user — F.session_window; oracle
    replays the gaps-and-islands equivalent."""
    return sw.session_counts(t(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# multimodal columns (binary payload + typed metadata; decode stubbed)
# --------------------------------------------------------------------------

from data_warehousing_assignment_spark.operators import multimodal as mm  # noqa: E402


@query(
    "op-ext-mm-bytestats",
    oracle="""
    SELECT doc_id,
           CAST(5 + octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           md5('FAKE1' || text) AS payload_md5
    FROM documents
    """,
)
def op_ext_mm_bytestats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload stats via Arrow-batched mapInPandas — the canonical
    decode-stage plumbing (bytes in, features out, bounded batches). The
    deterministic FAKE payload ('FAKE1' magic + utf-8 text) makes the
    md5/byte-count oracle exact."""
    docs = mm.with_media_columns(docs_t(spark, sf_dir))
    return mm.byte_stats(docs).select("doc_id", "n_bytes", "payload_md5")


#: 8×8 → 4×4 nearest-neighbor resample picks row-major source indices
#: {0,2,4,6}×8 + {0,2,4,6}; the fake decoder tiles the text bytes
#: cyclically (np.resize), so pixel[i] = ord(text[idx % len]) / 255.
_DECODE_IDX = [8 * y + x for y in (0, 2, 4, 6) for x in (0, 2, 4, 6)]


@query(
    "op-ext-mm-decode",
    # The pixel array crosses the oracle boundary as '|'-joined integer
    # byte values (r3: the driver's pandas canonicalization `err`s on
    # list cells). pixel = byte/255.0 exactly, so round(pixel*255) is a
    # lossless inverse — the value check stays exact, not a hash.
    oracle=f"""
    -- ASCII corpus (pinned in pytest): ord(substr) = payload byte value
    SELECT doc_id, 4 AS width, 4 AS height,
           CASE WHEN length(text) = 0
                THEN '{'|'.join(['0'] * 16)}'
                ELSE array_to_string(
                       list_transform([{', '.join(map(str, _DECODE_IDX))}],
                         i -> ord(substr(text, (i % length(text)) + 1, 1))),
                       '|')
           END AS pixel_bytes
    FROM documents
    """,
)
def op_ext_mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stubbed image decode (real codec = NotImplementedError integration
    point) + 4×4 nearest-neighbor resize: payload bytes → grayscale pixel
    array through the same mapInPandas contract a Pillow-backed decoder
    would use. The oracle replays the cyclic-tile + resample arithmetic
    on the ASCII text bytes — the pandas stages are value-verified, not
    just shape-checked."""
    docs = mm.with_media_columns(docs_t(spark, sf_dir))
    decoded = mm.decode(docs)
    resized = mm.resize(decoded, 4, 4)
    return resized.select(
        "doc_id",
        "width",
        "height",
        F.concat_ws(
            "|",
            F.transform(
                "pixels", lambda v: F.round(v * 255).cast("int").cast("string")
            ),
        ).alias("pixel_bytes"),
    )


@query(
    "op-ext-mm-framesample",
    oracle="""
    -- DuckDB 1.0 has no BLOB substr; the test corpus is pure ASCII
    -- (octet_length == length for every row, asserted in pytest), so
    -- char slicing is byte slicing here.
    WITH b AS (
      SELECT doc_id, text AS body,
             greatest(octet_length(CAST(text AS BLOB)) // 4, 1) AS step
      FROM documents
    )
    SELECT doc_id, f AS frame_idx,
           md5(substr(body, f * step + 1, step)) AS frame_md5
    FROM b, (SELECT unnest([0, 2]) AS f)
    """,
)
def op_ext_mm_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling stub: one media row fans out to one row per
    sampled frame (every 2nd of 4 fake frames). Frames cross the oracle
    boundary as md5 hex (raw bytes canonicalize differently per engine),
    so the byte-slicing semantics are exactly verified."""
    docs = mm.with_media_columns(docs_t(spark, sf_dir)).withColumn(
        "meta",
        F.struct(
            F.lit("video/x-fake").alias("mime"),
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
            F.lit(4).alias("n_frames"),
            F.lit(0).alias("sample_rate"),
        ),
    )
    return mm.sample_frames(docs, every_n=2).select(
        "doc_id", "frame_idx", F.md5("frame_payload").alias("frame_md5")
    )


@query(
    "op-ext-mm-audio-energy",
    # Fake 8-bit PCM: sample = byte − 128 over the ASCII text body
    # (magic excluded), 64-sample frames. Pure integer energy math, so
    # the oracle replays it exactly with list ops — no tolerance.
    oracle="""
    WITH samp AS (
      SELECT doc_id,
             list_transform(range(1, length(text) + 1),
                            i -> (ord(substr(text, i, 1)) - 128)
                                 * (ord(substr(text, i, 1)) - 128)) AS sq,
             length(text) AS n
      FROM documents
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_samples,
           CAST((n + 63) // 64 AS BIGINT) AS n_frames,
           CAST(coalesce(list_sum(sq), 0) AS BIGINT) AS total_sq,
           CAST(CASE WHEN n = 0 THEN 0 ELSE
             list_max(list_transform(range(0, (n + 63) // 64),
               f -> coalesce(list_sum(list_slice(sq, f * 64 + 1,
                                                 f * 64 + 64)), 0)))
           END AS BIGINT) AS peak_frame_sq
    FROM samp
    """,
)
def op_ext_mm_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stubbed audio decode + frame-energy extraction (real codec =
    NotImplementedError integration point): payload bytes → centered
    8-bit PCM → 64-sample frame windows → total / peak squared energy,
    through the same Arrow-batched mapInPandas contract a real
    librosa/ffmpeg front-end would use. Integer-exact, value-verified."""
    docs = mm.with_media_columns(docs_t(spark, sf_dir))
    return mm.audio_frame_energy(docs, frame_len=64).select(
        "doc_id", "n_samples", "n_frames", "total_sq", "peak_frame_sq"
    )


from data_warehousing_assignment_spark.streaming import stateful as st  # noqa: E402


@query(
    "op-ext-stream-stateful",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           COUNT(*) AS max_batch
    FROM events GROUP BY user_id
    """,
)
def op_ext_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState on streams; its
    applyInPandas twin here): per-user running totals + burst counter.
    Cross-batch state accumulation is pinned by tests/test_stateful.py;
    this entry verifies the state math itself against SQL."""
    return st.user_totals_stateful(t(spark, sf_dir, "events"))


from data_warehousing_assignment_spark.operators import asof as ao  # noqa: E402


@query(
    "op-ext-asof-join",
    oracle="""
    SELECT l.event_id, l.user_id, l.ts_us, r.value AS value_asof
    FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
          WHERE event_type = 'view') l
    ASOF LEFT JOIN
         (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
          WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
    """,
)
def op_ext_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: for every view event, the user's most recent
    purchase value at-or-before it. Window formulation — one shuffle on
    (user, ts), no pandas in the hot path; joins on exact int64 MICROS
    both sides (DuckDB truncates the parquet ns timestamp to us, so us is
    the precision the two engines share)."""
    ev = t(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts_ns div 1000"))
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts_us"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_us", "value"
    )
    return ao.asof_join(views, purchases, "ts_us", ["user_id"], ["value"])


from data_warehousing_assignment_spark.operators.skew import salted_join  # noqa: E402


@query(
    "op-ext-salted-join",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def op_ext_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join: hot keys spread across n_salts reducers, small
    side replicated. The oracle is the PLAIN join — salting must be a
    pure physical rewrite with identical semantics."""
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    return salted_join(orders, cust, on=["o_custkey"], n_salts=8)


from data_warehousing_assignment_spark.operators import ivf as iv  # noqa: E402
from data_warehousing_assignment_spark.operators import pq as pqm  # noqa: E402


def _ivf_lloyd_round(src_c: str, n: int, train_src: str = "emb") -> str:
    """One unrolled Lloyd round as CTE text: assign every vector to its
    nearest centroid in ``src_c`` (exact int64 squared-L2, cluster-id
    tiebreak — similarity to operators/ivf._assign), then recompute each
    cell's centroid as the exact integer mean (round half away from
    zero via pure integer arithmetic — operators/ivf.build_ivf_index's
    r8 formulation, bit-identical in any engine). ``train_src`` names
    the corpus CTE the round trains over (default the full ``emb``;
    the incremental-index oracle trains over its ``base`` slice while
    final assignment still covers everything)."""
    return f"""
    d{n} AS (
      SELECT e.vec_id, c.cluster,
             CAST(SUM((e.v[idx.i] - c.centroid[idx.i])
                      * (e.v[idx.i] - c.centroid[idx.i])) AS BIGINT) AS dd
      FROM {train_src} e, {src_c} c, idx GROUP BY 1, 2
    ),
    a{n} AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dd, cluster) AS rk
        FROM d{n}) WHERE rk = 1
    ),
    u{n} AS (
      SELECT a.cluster, idx.i AS pos,
             CAST(SUM(e.v[idx.i]) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM a{n} a JOIN {train_src} e USING (vec_id), idx GROUP BY 1, 2
    ),
    c{n + 1} AS (
      SELECT cluster,
             list(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
                       ELSE -((2 * (-s) + n) // (2 * n)) END
                  ORDER BY pos) AS centroid
      FROM u{n} GROUP BY 1
    )"""


def _ivf_cand_ctes(
    c0_sql: str,
    n_probe: int = 4,
    query_mod: int = 100,
    query_where: str | None = None,
    train_src: str = "emb",
) -> str:
    """The IVF candidate-generation CTE chain (seeds → 2 unrolled Lloyd
    rounds → final assignment → ``n_probe``-cell probing →
    ``cand(query_id, neighbor_id)``) with the SEED CTE injected — shared
    verbatim by the exact-scoring IVF oracles (:func:`_ivf_oracle`) and
    the ADC-scoring IVF-PQ oracle, so the candidate set provably cannot
    drift between the exact and compressed operating points (the PQ op
    probes 8 since r12 — its measured ceiling experiment — while the
    exact-IVF anchors stay at the documented 4). ``query_where``
    overrides the default ``vec_id % query_mod = 0`` spine — the
    fixed-size audit sample (op-ext-ann-recall-sampled) injects a
    ``qsample`` CTE via ``c0_sql`` and points the probe filter at it.
    ``train_src`` routes the Lloyd rounds to a corpus slice (the
    incremental-index oracle trains on ``base``); final assignment and
    probing always cover the full ``emb``."""
    if query_where is None:
        query_where = f"vec_id % {query_mod} = 0"
    return f"""
    WITH emb AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
    idx AS (SELECT unnest(range(1, 65)) AS i),
    {c0_sql},
    {_ivf_lloyd_round('c0', 0, train_src)},
    {_ivf_lloyd_round('c1', 1, train_src)},
    dfin AS (
      SELECT e.vec_id, c.cluster,
             CAST(SUM((e.v[idx.i] - c.centroid[idx.i])
                      * (e.v[idx.i] - c.centroid[idx.i])) AS BIGINT) AS dd
      FROM emb e, c2 c, idx GROUP BY 1, 2
    ),
    cells AS (
      SELECT vec_id AS neighbor_id, cluster FROM (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dd, cluster) AS rk
        FROM dfin) WHERE rk = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cluster FROM (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dd, cluster) AS rk
        FROM dfin WHERE {query_where}) WHERE rk <= {n_probe}
    ),
    cand AS (
      SELECT p.query_id, c.neighbor_id
      FROM probes p JOIN cells c ON c.cluster = p.cluster
      WHERE c.neighbor_id <> p.query_id
    )"""


def _ivf_oracle(c0_sql: str, train_src: str = "emb") -> str:
    """Full IVF pipeline replay (candidate CTEs from
    :func:`_ivf_cand_ctes` → exact dot/norm scoring → top-5) — the
    anchor (pinned k=16), the scaled variant (data-derived k), and the
    incremental variant (``train_src="base"``: Lloyd over the base
    slice, assignment over everything) share one verbatim body."""
    return f"""
    {_ivf_cand_ctes(c0_sql, train_src=train_src)},
    nrms AS (
      SELECT emb.vec_id, CAST(SUM(v[idx.i] * v[idx.i]) AS BIGINT) AS nrm
      FROM emb, idx GROUP BY 1
    ),
    dots AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(SUM(q.v[idx.i] * n.v[idx.i]) AS BIGINT) AS dot
      FROM cand c
      JOIN emb q ON q.vec_id = c.query_id
      JOIN emb n ON n.vec_id = c.neighbor_id, idx
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.query_id, d.neighbor_id,
             CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(nq.nrm AS DOUBLE))
                  * sqrt(CAST(nc.nrm AS DOUBLE))) AS score
      FROM dots d
      JOIN nrms nq ON d.query_id = nq.vec_id
      JOIN nrms nc ON d.neighbor_id = nc.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY score DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """


def _seed16_c0(src: str) -> str:
    """The pinned 16-seed CTE (lowest 16 vec_ids of ``src`` → cluster
    ids 0..15) — ONE definition for every fixed-16-cell oracle
    (op-ext-ann-ivf, _FILT_C0_SQL's recall/filtered family, and the
    incremental pair's base-trained seeds), so a seed-rule change
    cannot silently skip one copy (r14 self-review)."""
    return f"""c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster,
             v AS centroid
      FROM (SELECT vec_id, v FROM {src} ORDER BY vec_id LIMIT 16)
    )"""


@query(
    "op-ext-ann-ivf",
    oracle=_ivf_oracle(f"""
    {_seed16_c0('emb')}"""),
)
def op_ext_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: deterministic k-means cells (2 Lloyd rounds
    of pure DataFrame aggregation), queries probe their 4 nearest of 16
    cells. ORACLE-EXACT since r8 (was rows-only): the r8 exact-integer
    centroid mean made the index order-independent and bit-reproducible,
    so the oracle replays the ENTIRE pipeline — seeds, both unrolled
    Lloyd rounds, final assignment, 4-cell probing, and the top-k with
    the one proven-stable float divide — and hash-matches. Recall vs
    brute force + full-probe≡exact equivalence stay pinned in
    tests/test_ivf.py."""
    corpus = t(spark, sf_dir, "embeddings")
    queries = corpus.filter(F.col("vec_id") % 100 == 0)
    return iv.ivf_cosine_topk(corpus, queries, k=5, n_clusters=16, n_probe=4)


@query("op-ext-ann-ivf-fullprobe", oracle=_ANN_ORACLE)
def op_ext_ann_ivf_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with n_probe = n_clusters: every cell probed ⇒ every
    (query, neighbor) pair scored exactly once through the index path —
    provably identical to op-ext-ann-bruteforce (tests/test_ivf.py pins
    the equivalence), so it shares the brute-force oracle. This is the
    external exactness anchor for the IVF machinery; op-ext-ann-ivf is
    the same code at the approximate (n_probe=4) operating point."""
    corpus = t(spark, sf_dir, "embeddings")
    queries = corpus.filter(F.col("vec_id") % 100 == 0)
    return iv.ivf_cosine_topk(corpus, queries, k=5, n_clusters=16, n_probe=16)


#: SQL twin of operators/ivf.auto_n_clusters(n, q, n_probe=4) — ONE
#: source of truth shared by the op-ext-ann-ivf-scaled oracle and the
#: parity test (tests/test_ivf.py), so the formula can't drift between
#: them. The {n} / {q} placeholders are SQL expressions for the corpus
#: and query counts (BIGINT).
IVF_KK_EXPR = (
    "GREATEST(CAST(16 AS BIGINT), LEAST("
    " CAST(FLOOR(SQRT(GREATEST(CAST(1 AS DOUBLE),"
    " CAST({q} * 4 * {n} AS DOUBLE)"
    " / CAST(3 * {n} + {q} AS DOUBLE)))) AS BIGINT),"
    " GREATEST(CAST(16 AS BIGINT), {n} // 8)))"
)


@query(
    "op-ext-ann-ivf-scaled",
    oracle=_ivf_oracle(f"""
    kk AS (
      SELECT {IVF_KK_EXPR.format(n='n', q='q')} AS k
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN vec_id % 100 = 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS q
            FROM emb)
    ),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster,
             v AS centroid
      FROM (SELECT vec_id, v,
                   ROW_NUMBER() OVER (ORDER BY vec_id) AS rk FROM emb)
      WHERE rk <= (SELECT k FROM kk)
    )"""),
)
def op_ext_ann_ivf_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF at the COST-BALANCED cell count (r9 verdict #2): same pipeline
    as op-ext-ann-ivf but n_clusters sized from the data via
    operators/ivf.auto_n_clusters — k* = floor(sqrt(Q·n_probe·n/(R·n+Q)))
    clamped to [16, n/8], so probe work per query stays ~n/k = O(sqrt n)
    instead of the anchor's fixed-16-cell n/16 (measured sf10: k=16 →
    80.7 s vs k≈115 → 35.2 s, BASELINE.md r9 probe). The oracle derives
    the SAME k from the data in exact SQL (BIGINT counts → one
    correctly-rounded double divide + sqrt, both IEEE-identical to
    python's math.sqrt on int/int true division since the operands stay
    < 2^53) and replays seeds, both Lloyd rounds, probing, and top-k
    verbatim through the shared _ivf_oracle body. The pinned-k anchor
    stays registered for replayability; THIS op is the operating point
    you'd run at 100 TB."""
    corpus = t(spark, sf_dir, "embeddings")
    queries = corpus.filter(F.col("vec_id") % 100 == 0)
    return iv.ivf_cosine_topk(
        corpus, queries, k=5, n_clusters="auto", n_probe=4
    )


def _pq_lloyd_round(n: int) -> str:
    """One unrolled PQ Lloyd round as CTE text — the per-SUBSPACE twin
    of :func:`_ivf_lloyd_round`: every (vector, subspace) row assigns to
    its nearest codeword in codebook ``p{n}`` (exact int64 squared-L2,
    code-id tiebreak), then each (m, code) cell recomputes its codeword
    as the exact integer round-half-away-from-zero mean into ``p{n+1}``
    — bit-identical to operators/pq.pq_codebooks in any engine."""
    return f"""
    pd{n} AS (
      SELECT s.vec_id, s.m, c.code,
             CAST(SUM((s.sv[i8.i] - c.cw[i8.i])
                      * (s.sv[i8.i] - c.cw[i8.i])) AS BIGINT) AS dd
      FROM sv s JOIN p{n} c USING (m), i8 GROUP BY 1, 2, 3
    ),
    pa{n} AS (
      SELECT vec_id, m, code FROM (
        SELECT vec_id, m, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY dd, code) AS rk
        FROM pd{n}) WHERE rk = 1
    ),
    pu{n} AS (
      SELECT a.m, a.code, i8.i AS pos,
             CAST(SUM(s.sv[i8.i]) AS BIGINT) AS s2,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM pa{n} a JOIN sv s ON s.vec_id = a.vec_id AND s.m = a.m, i8
      GROUP BY 1, 2, 3
    ),
    p{n + 1} AS (
      SELECT m, code,
             list(CASE WHEN s2 >= 0 THEN (2 * s2 + n) // (2 * n)
                       ELSE -((2 * (-s2) + n) // (2 * n)) END
                  ORDER BY pos) AS cw
      FROM pu{n} GROUP BY 1, 2
    )"""


_PQ_ORACLE = f"""
    {_ivf_cand_ctes(_seed16_c0('emb'), n_probe=8)},
    i8 AS (SELECT unnest(range(1, 9)) AS i),
    sv AS (
      SELECT vec_id, msp.m, v[msp.m * 8 + 1 : msp.m * 8 + 8] AS sv
      FROM emb, (SELECT unnest(range(0, 8)) AS m) msp
    ),
    plow AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
      FROM (SELECT vec_id FROM emb ORDER BY vec_id LIMIT 64)
    ),
    p0 AS (
      SELECT s.m, l.code, s.sv AS cw FROM sv s JOIN plow l USING (vec_id)
    ),
    {_pq_lloyd_round(0)},
    {_pq_lloyd_round(1)},
    pdf AS (
      SELECT s.vec_id, s.m, c.code,
             CAST(SUM((s.sv[i8.i] - c.cw[i8.i])
                      * (s.sv[i8.i] - c.cw[i8.i])) AS BIGINT) AS dd
      FROM sv s JOIN p2 c USING (m), i8 GROUP BY 1, 2, 3
    ),
    codes AS (
      SELECT vec_id, m, code FROM (
        SELECT vec_id, m, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY dd, code) AS rk
        FROM pdf) WHERE rk = 1
    ),
    cwn AS (
      SELECT m, code, CAST(SUM(cw[i8.i] * cw[i8.i]) AS BIGINT) AS nn
      FROM p2, i8 GROUP BY 1, 2
    ),
    xnrm AS (
      SELECT c.vec_id, CAST(SUM(w.nn) AS BIGINT) AS nx
      FROM codes c JOIN cwn w USING (m, code) GROUP BY 1
    ),
    lut AS (
      SELECT s.vec_id AS query_id, s.m, c.code,
             CAST(SUM(s.sv[i8.i] * c.cw[i8.i]) AS BIGINT) AS dot
      FROM sv s JOIN p2 c USING (m), i8
      WHERE s.vec_id % 100 = 0 GROUP BY 1, 2, 3
    ),
    qn AS (
      SELECT vec_id, CAST(SUM(v[idx.i] * v[idx.i]) AS BIGINT) AS nq
      FROM emb, idx WHERE vec_id % 100 = 0 GROUP BY 1
    ),
    adc AS (
      SELECT cd.query_id, cd.neighbor_id, CAST(SUM(l.dot) AS BIGINT) AS adot
      FROM cand cd
      JOIN codes c ON c.vec_id = cd.neighbor_id
      JOIN lut l ON l.query_id = cd.query_id
               AND l.m = c.m AND l.code = c.code
      GROUP BY 1, 2
    ),
    pscored AS (
      SELECT a.query_id, a.neighbor_id,
             CAST(a.adot AS DOUBLE)
               / (sqrt(CAST(q.nq AS DOUBLE))
                  * sqrt(CAST(x.nx AS DOUBLE))) AS score
      FROM adc a
      JOIN qn q ON q.vec_id = a.query_id
      JOIN xnrm x ON x.vec_id = a.neighbor_id
    ),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY score DESC, neighbor_id) AS ar
        FROM pscored) WHERE ar <= 100
    ),
    edots AS (
      SELECT s.query_id, s.neighbor_id,
             CAST(SUM(qv.v[idx.i] * nv.v[idx.i]) AS BIGINT) AS dot
      FROM short s
      JOIN emb qv ON qv.vec_id = s.query_id
      JOIN emb nv ON nv.vec_id = s.neighbor_id, idx
      GROUP BY 1, 2
    ),
    enrm AS (
      SELECT vec_id, CAST(SUM(v[idx.i] * v[idx.i]) AS BIGINT) AS nrm
      FROM emb, idx GROUP BY 1
    ),
    escored AS (
      SELECT d.query_id, d.neighbor_id,
             CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(n1.nrm AS DOUBLE))
                  * sqrt(CAST(n2.nrm AS DOUBLE))) AS score
      FROM edots d
      JOIN enrm n1 ON d.query_id = n1.vec_id
      JOIN enrm n2 ON d.neighbor_id = n2.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY score DESC, neighbor_id) AS rank
          FROM escored)
    WHERE rank <= 5
    """


@query("op-ext-ann-ivf-pq", oracle=_PQ_ORACLE)
def op_ext_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ADC+R approximate top-k (Jégou et al., TPAMI 2011,
    non-residual variant with re-ranking, §V): the same k-means cells
    as op-ext-ann-ivf but probing 8 of 16, with candidates RANKED from
    product-quantized codes — 8 subspaces × 64 codewords, so each
    corpus vector is 8 six-bit codes (6 B packed vs the 256 B float
    row, ~42×) and a query ranks a candidate with 8 integer LUT lookups
    instead of a 64-dim dot product; only the ADC top-100 shortlist is
    re-scored exactly against raw vectors. This is the memory-bound
    100 TB operating point: at a billion vectors the PQ code table fits
    executor RAM where raw vectors cannot, and raw vectors are touched
    for Q·100 rows at query time, never scanned. Codebooks train with
    the same deterministic exact-integer Lloyd machinery as the IVF
    cells (seeds = 64 lowest-id vectors' subvectors, 2 rounds), so the
    oracle replays EVERYTHING — cells, probes, per-subspace codebooks,
    codes, ADC tables, reconstruction norms, shortlist, exact re-rank,
    and the top-5 — and hash-matches; the candidate CTEs are shared
    with the exact-scoring IVF oracles (_ivf_cand_ctes, n_probe the
    only parameter). Operating point RE-MEASURED r12 (r11 verdict #2;
    the full recall table is in the operators/pq.ivf_pq_cosine_topk
    docstring): the old 4-probe/rerank-25 point sat on a 0.61 candidate
    ceiling and its shortlist lost a further 0.19 at 2000 vectors
    (recall@5 0.42); 8 probes lift the ceiling to 0.80 and rerank=100
    recovers the shortlist loss → recall@5 0.72. The residual-PQ
    variant (Jégou § IV.A) was implemented and measured: +0.02–0.07
    recall at ~2× wall on this corpus — a negative result here, so the
    path was removed. Recall floor and the compression contract are
    pinned in tests/test_pq.py."""
    corpus = t(spark, sf_dir, "embeddings")
    queries = corpus.filter(F.col("vec_id") % 100 == 0)
    return pqm.ivf_pq_cosine_topk(
        corpus, queries, k=5, n_clusters=16, n_probe=8, rerank=100
    )


_RRF_ORACLE = f"""
    {_ivf_cand_ctes(_seed16_c0('emb'))},
    nrms AS (
      SELECT emb.vec_id, CAST(SUM(v[idx.i] * v[idx.i]) AS BIGINT) AS nrm
      FROM emb, idx GROUP BY 1
    ),
    dots AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(SUM(q.v[idx.i] * n.v[idx.i]) AS BIGINT) AS dot
      FROM cand c
      JOIN emb q ON q.vec_id = c.query_id
      JOIN emb n ON n.vec_id = c.neighbor_id, idx
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.query_id, d.neighbor_id, d.dot,
             CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(nq.nrm AS DOUBLE))
                  * sqrt(CAST(nc.nrm AS DOUBLE))) AS cos
      FROM dots d
      JOIN nrms nq ON d.query_id = nq.vec_id
      JOIN nrms nc ON d.neighbor_id = nc.vec_id
    ),
    ra AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS r
      FROM scored
    ),
    rb AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY dot DESC, neighbor_id) AS r
      FROM scored
    ),
    contrib AS (
      SELECT query_id, neighbor_id, 1000000 // (60 + r) AS c
      FROM ra WHERE r <= 20
      UNION ALL
      SELECT query_id, neighbor_id, 1000000 // (60 + r) AS c
      FROM rb WHERE r <= 20
    ),
    fused AS (
      SELECT query_id, neighbor_id, CAST(SUM(c) AS BIGINT) AS rrf_micro
      FROM contrib GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, rrf_micro,
           CAST(rank AS INT) AS fused_rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY rrf_micro DESC, neighbor_id) AS rank
          FROM fused)
    WHERE rank <= 10
    """


def _top_per_query(
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


def _rrf_contrib(ranked: DataFrame, order: str) -> DataFrame:
    """``(query_id, neighbor_id, c)``: the reciprocal-rank contribution
    1e6 div (60 + r) of each query's top 20 by ``order`` (ties to the
    lower neighbor_id) — exact integer micro-units, so no float sum can
    drift."""
    return _top_per_query(ranked, f"{order}, neighbor_id", 20, "r").selectExpr(
        "query_id", "neighbor_id", "1000000 div (60 + r) AS c"
    )


def _rrf_fused(a: DataFrame, b: DataFrame) -> DataFrame:
    """``(query_id, neighbor_id, rrf_micro)``: the summed contributions
    of both rankings a candidate appears in."""
    return (
        a.unionAll(b)
        .groupBy("query_id", "neighbor_id")
        .agg(F.expr("CAST(sum(c) AS BIGINT) AS rrf_micro"))
    )


def _fused_top10(fused: DataFrame) -> DataFrame:
    top = _top_per_query(fused, "rrf_micro DESC, neighbor_id", 10, "fused_rank")
    return top.select("query_id", "neighbor_id", "rrf_micro", "fused_rank")


@query("op-ext-rank-fusion", oracle=_RRF_ORACLE)
def op_ext_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    merge two retrieval rankings into one list by summing 1/(60+rank)
    over the rankings each candidate appears in — the standard
    hybrid-retrieval combiner (lexical + dense, or here: cosine vs raw
    inner-product, which disagree exactly where vector norms differ).
    Both rankings run over the SAME IVF candidate set (the shared
    _ivf_cand_ctes — one scoring pass computes dot and cosine, two
    windows rank them), so the op inherits the ANN family's scale
    shape: candidates are n_probe/n_clusters of the corpus per query,
    and the fusion itself touches only 2·20 rank rows per query. RRF
    contributions are exact integer micro-units (1e6 // (60+r) — no
    float sums to drift), so the fused ordering is engine-exact."""
    from data_warehousing_assignment_spark.caching import pin

    corpus = t(spark, sf_dir, "embeddings")
    index = iv.build_ivf_index(corpus, "vec_id", "embedding", 16)
    queries = corpus.filter("vec_id % 100 = 0")
    # two ranking windows read one scoring pass
    scored = pin(iv.probed_cell_scan(corpus, queries, index, n_probe=4))
    fused = _rrf_fused(
        _rrf_contrib(scored, "cos DESC"), _rrf_contrib(scored, "dot DESC")
    )
    return _fused_top10(fused)


@query(
    "op-ext-token-bpe",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text),
                ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+')) AS INT) AS n_bpe_tokens
    FROM documents
    """,
)
def op_ext_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (GPT-2-style pre-tokenizer shape) —
    the LLM-pipeline token-budget estimator; row-local regex pass."""
    return docs_t(spark, sf_dir).select(
        "doc_id", tx.bpe_token_count("text").alias("n_bpe_tokens")
    )


def _rolling_oracle(k: int = tx.ROLL_K) -> str:
    return f"""
    SELECT doc_id,
           list_min(list_transform(
             range(1, greatest(length(lower(text)) - {k} + 1, 1) + 1),
             i -> list_reduce(
                    list_transform(
                      range(i, least(i + {k} - 1, length(lower(text))) + 1),
                      p -> CAST(ord(substr(lower(text), CAST(p AS INT), 1)) AS BIGINT)),
                    (a, b) -> (a * {tx.ROLL_BASE} + b) % {tx.ROLL_MOD})
           )) AS fingerprint
    FROM documents
    """


@query("op-ext-fingerprint-rolling", oracle=_rolling_oracle())
def op_ext_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling-hash fingerprint: min polynomial hash over all
    16-char windows — suffix/prefix edits still collide on shared
    windows. Row-local integer folds, JVM-side."""
    return docs_t(spark, sf_dir).select(
        "doc_id", tx.rolling_hash_fingerprint("text").alias("fingerprint")
    )


def _winnow_fps_cte(k: int = tx.ROLL_K, w: int = tx.WINNOW_W) -> str:
    """DuckDB replay of the two winnowing stages: ``m(doc_id, fps)``
    holds the distinct window-min fingerprints per document — shared
    by the per-doc summary (op-ext-winnow) and the copy-detection
    posting join (op-ext-winnow-neardup)."""
    return f"""
    h AS (
      SELECT doc_id, list_transform(
               range(1, greatest(length(lower(text)) - {k} + 1, 1) + 1),
               i -> list_reduce(
                      list_transform(
                        range(i, least(i + {k} - 1, length(lower(text))) + 1),
                        p -> CAST(ord(substr(lower(text), CAST(p AS INT), 1))
                                  AS BIGINT)),
                      (a, b) -> (a * {tx.ROLL_BASE} + b) % {tx.ROLL_MOD})) AS hs
      FROM documents
    ),
    m AS (
      SELECT doc_id, list_distinct(list_transform(
               range(1, greatest(len(hs) - {w} + 1, 1) + 1),
               j -> list_min(hs[CAST(j AS INT):CAST(j + {w} - 1 AS INT)])))
               AS fps
      FROM h
    )"""


def _winnow_oracle(k: int = tx.ROLL_K, w: int = tx.WINNOW_W) -> str:
    return f"""
    WITH {_winnow_fps_cte(k, w)}
    SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
           CAST(list_min(fps) AS BIGINT) AS fp_min,
           CAST(list_reduce(fps, (a, b) -> xor(a, b)) AS BIGINT) AS fp_xor
    FROM m
    """


@query("op-ext-winnow", oracle=_winnow_oracle())
def op_ext_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed document fingerprints (MOSS): per doc the distinct
    window-min rolling hashes (k=16 chars, w=4), surfaced as count +
    min + order-independent XOR fold. Any two documents sharing a
    substring of ≥ k+w−1 chars share ≥ 1 fingerprint, at ~2/(w+1)
    selection density — the copy-detection index between "one min per
    doc" (op-ext-fingerprint-rolling) and "every k-gram"
    (op-ext-span-dedup). Row-local HOFs, zero shuffle; at 100 TB the
    posting-list join on the selected fingerprints is the scale path
    (same banded-join shape as MinHash-LSH). Selection semantics
    pinned in tests/test_text_ops.py (guarantee + density).

    r10: the fingerprint build rides tx.winnow_fps_np — the Arrow-batched
    numpy twin of winnow_hashes→winnow_select (pinned element-equal in
    tests/test_text_ops.py) — because the interpreted HOF chain was the
    dominant term of the winnow family's floor (8.3 s of 16 s at sf0.1;
    the numpy passes vectorize the same exact int64 arithmetic across
    window positions). Still two-stage: the UDF result materializes once,
    the three folds reference it by name."""
    staged = docs_t(spark, sf_dir).select(
        "doc_id", tx.winnow_fps_np("text").alias("fps")
    )
    fps = F.col("fps")
    return staged.select(
        "doc_id",
        F.size(fps).cast("bigint").alias("n_fp"),
        F.array_min(fps).cast("bigint").alias("fp_min"),
        F.aggregate(
            fps,
            F.lit(0).cast("bigint"),
            lambda a, b: a.bitwiseXOR(b),
        )
        .cast("bigint")
        .alias("fp_xor"),
    )


#: MOSS copy-detection knobs: fingerprints seen in more than MAXDF
#: docs are boilerplate (dropped — the standard MOSS "ignore common
#: code" move); candidate pairs need MINSH shared survivors; the edit
#: verify keeps pairs within 30% relative edit distance.
_WN_MAXDF = 20
_WN_MINSH = 3


@query(
    "op-ext-winnow-neardup",
    oracle=f"""
    WITH {{fps_cte}},
    post AS (SELECT doc_id, unnest(fps) AS fp FROM m),
    dfc AS (SELECT fp FROM post GROUP BY fp
            HAVING COUNT(*) <= {_WN_MAXDF}),
    pf AS (SELECT p.doc_id, p.fp FROM post p JOIN dfc USING (fp)),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM pf a JOIN pf b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= {_WN_MINSH}
    )
    SELECT doc_a, doc_b, n_shared,
           CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
    FROM pairs
    JOIN documents da ON pairs.doc_a = da.doc_id
    JOIN documents db ON pairs.doc_b = db.doc_id
    WHERE levenshtein(da.text, db.text) * 10
          <= 3 * greatest(length(da.text), length(db.text))
    """.format(fps_cte=_winnow_fps_cte()),
)
def op_ext_winnow_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS copy detection end to end (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): winnowed fingerprints → inverted-posting self-join →
    shared-fingerprint candidate pairs → exact edit-distance verify.
    This is the scale path the per-doc op (op-ext-winnow) points at:
    candidates cost Σ(posting list²) — measured max df 36 / p99 4 on
    this corpus — never n²; fingerprints in more than 20 docs are
    dropped as boilerplate (the MOSS "common code" rule), pairs need
    ≥ 3 shared survivors, and the final ``levenshtein`` (native
    JVM-side, identical metric in DuckDB)
    keeps pairs within 30% relative edit distance — an exact-integer
    filter (edit·10 ≤ 3·maxlen), no float thresholds. Same
    banded-join shape as MinHash-LSH but substring-anchored: catches
    contiguous plagiarism/boilerplate MinHash's bag-of-shingles can
    dilute away."""
    from data_warehousing_assignment_spark.caching import pin

    docs = docs_t(spark, sf_dir)
    post = docs.select(
        "doc_id", F.explode(tx.winnow_fps_np("text")).alias("fp")
    )
    # df-filter via a window, not a count-join, and PIN the filtered
    # postings: the self-join's two sides would otherwise each rebuild
    # the O(len·k) hash chain (AQE's broadcast conversion defeats
    # ReusedExchange at small SF, and the build dominates the query).
    # The pinned frame is (doc_id, fp) pairs only — ~16 bytes/row.
    pf = pin(
        post.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
        )
        .where(F.col("df") <= _WN_MAXDF)
        .select("doc_id", "fp")
    )
    a, b = pf.alias("a"), pf.alias("b")
    pairs = (
        a.join(b, "fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= _WN_MINSH)
    )
    txt = docs.select("doc_id", "text")
    # The one scalar read is the justified watermark class; on an
    # empty/all-NULL corpus the max is None and there are no pairs to
    # verify, so any threshold works — use 0.
    m = docs.agg(F.max(F.length("text")).alias("m")).first()["m"]
    max_len = int(m) if m is not None else 0
    full_t = (3 * max_len) // 10 + 1
    maxl = F.greatest(F.length("ta.text"), F.length("tb.text"))
    # Rung 0 — O(1) length lower bound: ed ≥ |len_a − len_b|, so a pair
    # whose length GAP alone breaks the 30% rule can never survive the
    # final filter; drop it before any DP runs. Exact-integer test,
    # provably lossless (dropped pairs are exactly ones the final
    # `edit_dist·10 ≤ 3·maxlen` would discard).
    dlen = F.abs(F.length("ta.text") - F.length("tb.text"))
    # Verify ONCE PER DISTINCT TEXT PAIR, not once per doc pair
    # (r11, replacing the r10 band ladder): ed() depends only on the
    # two text VALUES, and real corpora (and this one) carry heavy
    # exact-copy multiplicity, so the same (text_a, text_b) value pair
    # recurs across many candidate doc pairs — each identical verify
    # re-paid. Collapse by the unordered (length ∥ md5) pair (ed is
    # symmetric; the same exact-dup-collapse principle the MinHash
    # family applies BEFORE candidate generation), run the DP on one
    # deterministic representative per key (min struct — any rep gives
    # the same ed by value-dependence), and hash-join the verdicts
    # back. The fixed-width length prefix makes the collision
    # assumption explicit and cheap to audit (r11 advice #2): two
    # DISTINCT texts share a key only if they have the SAME length AND
    # an md5 collision — without it the correctness argument rested on
    # 128-bit hash uniqueness alone. Measured sf1: 290,928 candidate
    # doc pairs → ~3k distinct text pairs, DP time collapses ~100×;
    # the join-back is a pairs-scale shuffle on 42-char keys that AQE
    # broadcast-converts while the verdict frame stays small. Two further measured facts shape the rungs
    # (BASELINE.md r11): JVM levenshtein has a ~18 µs/pair FLOOR
    # regardless of band width (T=4 and T=64 cost within 15% on 290k
    # pairs — band narrowing alone cannot win), and the distance
    # distribution is bimodal (every pair at ed ≤ 8 or ed > 64:
    # mutated copies vs boilerplate-bridged strangers), so ONE narrow
    # T=8 rung + the full corpus-wide band on its misses is optimal —
    # a middle rung would only re-pay the per-pair floor. Each rung is
    # materialized (pin) before its result is filtered on: a collapsed
    # Project+Filter re-evaluates the levenshtein expression per
    # reference (measured 3× = the difference between 37 s and ~20 s
    # at sf1), and the rung frames are distinct-pair-sized, so the
    # checkpoint is cheap by construction.
    staged = pin(
        pairs.join(txt.alias("ta"), pairs.doc_a == F.col("ta.doc_id"))
        .join(txt.alias("tb"), pairs.doc_b == F.col("tb.doc_id"))
        .where(dlen * 10 <= 3 * maxl)
        .select(
            "doc_a", "doc_b", "n_shared",
            F.col("ta.text").alias("_ta"),
            F.col("tb.text").alias("_tb"),
            F.concat(
                F.lpad(F.length("ta.text").cast("string"), 10, "0"),
                F.md5(F.col("ta.text")),
            ).alias("_ha"),
            F.concat(
                F.lpad(F.length("tb.text").cast("string"), 10, "0"),
                F.md5(F.col("tb.text")),
            ).alias("_hb"),
            maxl.alias("_maxlen"),
        )
    )
    k1 = F.least("_ha", "_hb")
    k2 = F.greatest("_ha", "_hb")
    reps = (
        staged.groupBy(k1.alias("_k1"), k2.alias("_k2"))
        .agg(F.min(F.struct("_ta", "_tb")).alias("_r"))
        .select("_k1", "_k2", F.col("_r._ta").alias("_ta"),
                F.col("_r._tb").alias("_tb"))
    )
    # Rung 1: equality fast path + fixed T=8 narrow band, materialized
    # so the split below reads the value instead of re-running the DP.
    e8 = F.when(F.col("_ta") == F.col("_tb"), F.lit(0)).otherwise(
        F.levenshtein("_ta", "_tb", 8)
    )
    rung1 = pin(reps.select("_k1", "_k2", "_ta", "_tb",
                            e8.cast("bigint").alias("_e8")))
    resolved = rung1.where(F.col("_e8") >= 0).select(
        "_k1", "_k2", F.col("_e8").alias("_ed")
    )
    # Rung 2: only keys PROVEN ed > 8 pay the corpus-wide 30% band;
    # -1 here means ed > full_t, provably failing the final filter.
    missed = pin(
        rung1.where(F.col("_e8") < 0).select(
            "_k1", "_k2",
            F.levenshtein("_ta", "_tb", full_t).cast("bigint").alias("_ed"),
        )
    )
    verdicts = resolved.unionByName(missed)
    return (
        staged.select(
            "doc_a", "doc_b", "n_shared",
            k1.alias("_k1"), k2.alias("_k2"), "_maxlen",
        )
        .join(verdicts, ["_k1", "_k2"])
        .where(
            (F.col("_ed") >= 0)
            & (F.col("_ed") * 10 <= 3 * F.col("_maxlen"))
        )
        .select("doc_a", "doc_b", "n_shared",
                F.col("_ed").alias("edit_dist"))
    )


@query(
    "op-ext-approx-count-distinct",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           TRUE AS within_rsd
    FROM orders GROUP BY 1
    """,
)
def op_ext_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approx_count_distinct per order-month — the scale option for
    op-agg-count-distinct (SURVEY §2.4): fixed-size sketches merge
    map-side, so the shuffle carries KBs per group instead of the full
    distinct-key set.

    Oracle-backed since r8 via the error-bound contract (the estimate
    is spec-approximate, so the deterministic surface is the GUARANTEE,
    same pattern as op-ext-approx-quantile): the query computes both
    the sketch estimate (rsd=0.01) and the exact count per group and
    surfaces |approx − exact| ≤ 4·rsd·exact as a boolean, which the
    oracle pins TRUE next to the exact counts. In production the
    approx expression runs ALONE — the exact twin here is the
    verification surface, not the plan (the whole point is not paying
    for it at 100 TB). Tighter pin in tests/test_approx.py."""
    # The sketch and the exact count aggregate SEPARATELY and join on
    # the |months|-sized key: one combined agg would make Spark thread
    # the 1640-register HLL buffer through the per-(month, custkey)
    # distinct pre-aggregation — measured 3.6 s vs 0.6 s at sf0.1.
    orders = t(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
    approx = orders.groupBy(month).agg(
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("_approx")
    )
    exact = orders.groupBy(month).agg(
        F.count_distinct("o_custkey").cast("bigint").alias("exact_customers")
    )
    return approx.join(exact, "order_month").select(
        "order_month",
        "exact_customers",
        (
            F.abs(F.col("_approx") - F.col("exact_customers")).cast("double")
            <= 0.04 * F.col("exact_customers").cast("double")
        ).alias("within_rsd"),
    )


from data_warehousing_assignment_spark.streaming.dedup import dedup_events  # noqa: E402


@query(
    "op-ext-stream-dedup",
    oracle="""
    SELECT event_id, COUNT(*) AS n FROM (
      SELECT event_id FROM events UNION ALL SELECT event_id FROM events
    ) GROUP BY event_id HAVING COUNT(*) = 2
    """,
)
def op_ext_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup (dropDuplicatesWithinWatermark on streams; exact
    dedup twin on static frames): a doubled events feed dedups back to
    one row per key. The oracle pins input doubling + survivor-per-key;
    the watermark-bounded streaming state path is exercised in
    tests/test_stream_dedup.py."""
    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "value", "ts")
    doubled = ev.unionByName(ev)
    return dedup_events(doubled, ["event_id"]).select(
        "event_id", F.lit(2).alias("n")
    )


from data_warehousing_assignment_spark.streaming.joins import (  # noqa: E402
    view_purchase_conversions,
)


@query(
    "op-ext-stream-join",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id,
           v.user_id, p.value AS purchase_value,
           CAST(epoch(date_trunc('second', p.ts))
                - epoch(date_trunc('second', v.ts)) AS BIGINT) AS delay_sec
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     -- compare in µs: Spark truncates the ns parquet timestamp to µs,
     -- so ns-precision bounds could disagree exactly at the horizon
     AND epoch_us(p.ts) >= epoch_us(v.ts)
     AND epoch_us(p.ts) <= epoch_us(v.ts) + 3600000000
    """,
)
def op_ext_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (view→purchase conversion within 1h):
    the same builder runs under readStream with two watermarked sides
    (tests/test_stream_join.py proves stream ≡ batch); registered here on
    the static frames against a DuckDB range-join oracle."""
    ev = t(spark, sf_dir, "events")
    return view_purchase_conversions(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
    )


@query(
    "op-ext-rollup",
    oracle="""
    SELECT n_name, o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (n_name, o_orderpriority)
    """,
)
def op_ext_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (nation → priority → grand total) — the
    subtotal surface the reference lacks entirely. Decimal-exact sums so
    every subtotal level hash-matches; Catalyst expands the rollup into
    one Expand + single aggregation (one shuffle for all levels)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .rollup("n_name", "o_orderpriority")
        .agg(
            F.sum(dec("o_totalprice")).cast("double").alias("total"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "op-ext-cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def op_ext_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping combinations in one
    Expand + aggregation pass."""
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "op-ext-pivot",
    oracle="""
    SELECT n_name,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN
                CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN
                CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS O,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN
                CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS P
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def op_ext_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT order totals by status — with the pivot values DECLARED
    (pivot without values triggers an extra distinct-scan job; never do
    that on a 100 TB fact)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(dec("o_totalprice")).cast("double"))
    )


# --------------------------------------------------------------------------
# round 5: dedup clustering, range join, rollup cascade, splits, text mining
# --------------------------------------------------------------------------

from data_warehousing_assignment_spark.operators import timeseries as tsr  # noqa: E402

#: Jaccard threshold above which a verified candidate pair becomes a
#: cluster edge. 0.5 keeps real near-dups connected while the random
#: LSH collisions (low-Jaccard candidates) stay singletons.
_EDGE_THRESH = 0.5

#: Session-scoped memo of the (doc_id, cluster_id) frame: clusters,
#: survivors and best-survivor all sit on the SAME near-dup clustering
#: (same corpus, same k/bands/threshold), and the CC loop inside it is
#: the expensive part (≈12 s at sf1) — computing it three times per
#: session was pure waste (r7 verdict #6). Keyed by Spark app id so a
#: fresh session never sees another session's checkpoints. The frame is
#: eagerly localCheckpoint-ed: tiny (two ids per doc), lineage-free,
#: and exactly what each family member would have computed itself.
_CLUSTER_CACHE: dict[tuple, DataFrame] = {}


def shared_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, _K, _BANDS,
           _EDGE_THRESH)
    df = _CLUSTER_CACHE.get(key)
    if df is not None:
        # Liveness probe: a localCheckpoint lives in block-manager
        # blocks, and anything that unpersists all RDDs (test fixtures,
        # a memory-pressure sweep) orphans the frame — its lineage is
        # truncated, so it cannot recompute. One 1-row take proves the
        # blocks are still there; on failure fall through to rebuild.
        try:
            df.take(1)
            return df
        except Exception:
            _CLUSTER_CACHE.pop(key, None)
    df = dd.near_dup_clusters(
        t(spark, sf_dir, "documents"), "doc_id", "text",
        _K, _BANDS, _EDGE_THRESH,
    ).localCheckpoint(eager=True)
    # Evict entries from OTHER applications on insert: keys of dead
    # sessions can never hit again (appId is in the key) but would pin
    # their localCheckpoint blocks forever; one live session implies at
    # most a handful of sf_dir keys, so this bounds the memo to the
    # current app's working set (r8 advice).
    app = spark.sparkContext.applicationId
    for k in [k for k in _CLUSTER_CACHE if k[0] != app]:
        _CLUSTER_CACHE.pop(k, None)
    _CLUSTER_CACHE[key] = df
    return df


def clear_dedup_cluster_cache() -> None:
    """Drop the memo (bench uses this so per-op timings still measure a
    full rebuild rather than a cache hit)."""
    _CLUSTER_CACHE.clear()

# DuckDB twin of the full pair pipeline (sigs → bands → candidates →
# Jaccard-verified edges), symmetrized for reachability. Shared by the
# two clustering oracles below; must sit under a WITH RECURSIVE header.
_EDGE_CTES = f"""{_SIG_CTE}, {_BANDS_CTE},
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash
      WHERE a.doc_id < b.doc_id
    ),
    sh AS (SELECT doc_id, list_distinct({_SHINGLES}) AS s FROM documents),
    jac AS (
      SELECT c.doc_a, c.doc_b
      FROM cands c
      JOIN sh x ON c.doc_a = x.doc_id
      JOIN sh y ON c.doc_b = y.doc_id
      WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
              / CAST(len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))
                     AS DOUBLE) >= {_EDGE_THRESH}
    ),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM jac
              UNION ALL
              SELECT doc_b AS a, doc_a AS b FROM jac),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id
             FROM reach GROUP BY node)
"""


@query(
    "op-ext-dedup-clusters",
    oracle=f"WITH RECURSIVE {_EDGE_CTES} SELECT doc_id, cluster_id FROM comp",
)
def op_ext_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER labels (dedup.near_dup_clusters): exact-dedup
    collapse → MinHash-LSH → Jaccard verify → connected components
    (min-label propagation, operators/graph.py) on the representatives
    → labels fanned back out; every doc labeled with the min doc_id of
    its duplicate group, singletons label themselves. The oracle
    replays reachability over the RAW pair graph as a recursive CTE —
    valid because quotienting by exact-dup groups preserves components
    and the min-reachable-id fixpoint is iteration-order-independent."""
    return shared_dedup_clusters(spark, sf_dir)


@query(
    "op-ext-dedup-survivors",
    oracle=f"""WITH RECURSIVE {_EDGE_CTES}
    SELECT cluster_id, COUNT(*) AS group_size FROM comp GROUP BY cluster_id
    """,
)
def op_ext_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster rollup: one row per duplicate group, keyed by its
    surviving representative (= the component label = min doc_id).
    Dedup-by-cluster = keep rows where doc_id == cluster_id; this query
    surfaces the group sizes that decision is based on."""
    comp = shared_dedup_clusters(spark, sf_dir)
    return comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("group_size")
    )


@query(
    "op-ext-dedup-best-survivor",
    oracle=f"""WITH RECURSIVE {_EDGE_CTES},
    scored AS (
      SELECT c.cluster_id, c.doc_id,
             CAST(len({_TOKS}) AS BIGINT) AS n_tokens
      FROM comp c JOIN documents USING (doc_id)
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY cluster_id
                  ORDER BY n_tokens DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY cluster_id) AS group_size
      FROM scored
    )
    SELECT cluster_id, doc_id AS survivor_id,
           CAST(group_size AS BIGINT) AS group_size,
           n_tokens AS survivor_tokens
    FROM ranked WHERE rn = 1
    """,
)
def op_ext_dedup_best_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-policy survivor selection: per near-dup cluster keep the
    HIGHEST-QUALITY member (here: most tokens, doc_id tiebreak) instead
    of the min-id representative — the policy real training pipelines
    want, where the longest/cleanest copy survives and its boilerplate
    near-dups drop. Composition: near_dup_clusters → token-count join →
    per-cluster argmax (top_k_per_group k=1, WindowGroupLimit — each
    cluster's running top row only, never a per-cluster sort
    materialization)."""
    from data_warehousing_assignment_spark.operators.analytics import (
        top_k_per_group,
    )

    docs = t(spark, sf_dir, "documents")
    comp = shared_dedup_clusters(spark, sf_dir)
    scored = comp.join(
        docs.select(
            "doc_id", F.size(tx.tokens("text")).cast("bigint").alias("n_tokens")
        ),
        "doc_id",
    )
    sized = scored.withColumn(
        "group_size",
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).cast("bigint"),
    )
    best = top_k_per_group(
        sized, ["cluster_id"], [F.desc("n_tokens"), F.asc("doc_id")], k=1
    )
    return best.select(
        "cluster_id",
        F.col("doc_id").alias("survivor_id"),
        "group_size",
        F.col("n_tokens").alias("survivor_tokens"),
    )


@query(
    "op-ext-range-join",
    oracle="""
    WITH pts AS (
      SELECT CAST(unnest(generate_series(DATE '1995-01-01',
                                         DATE '2001-12-01',
                                         INTERVAL 1 MONTH)) AS DATE) AS d
    ),
    iv AS (
      SELECT CAST(l_shipdate AS DATE) AS s,
             CAST(l_shipdate AS DATE)
               + CAST(3 + (l_orderkey * 7 + l_linenumber) % 25 AS INT) AS e,
             l_quantity
      FROM lineitem
    )
    SELECT strftime(d, '%Y-%m-%d') AS as_of_date, COUNT(*) AS n_in_transit,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS qty_in_transit
    FROM pts JOIN iv ON iv.s <= pts.d AND pts.d < iv.e
    GROUP BY d
    """,
)
def op_ext_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval RANGE JOIN, zero-join form: lineitems in
    transit on each month-start date, transit window = shipdate +
    deterministic 3-27 days. The oracle states the naive inequality
    join; the Spark plan (r15, guide §2.4) derives each interval's
    matching month starts ROW-LOCALLY (the point spine is exactly the
    month-bucket boundaries, so the r14 bucket-expansion equi-join
    degenerated to one candidate point per bucket —
    timeseries.month_starts_in_intervals has the equivalence argument,
    pinned value-equal to the join formulation in
    tests/test_timeseries.py) and feeds the grouped aggregate directly:
    Scan → explode (~0.6 matching months/interval vs the expansion's
    ~2 buckets/interval) → partial agg → ONE 84-group exchange. No
    join at all — measured 9.6 s → 3.7 s at the 100× synthesis
    (r14's broadcast-pinned expansion join), value-identical output."""
    li = t(spark, sf_dir, "lineitem")
    ship = F.col("l_shipdate").cast("date")
    days = (F.lit(3) + (F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 25).cast(
        "int"
    )
    iv = li.select(
        ship.alias("s"), F.date_add(ship, days).alias("e"), "l_quantity"
    )
    matched = tsr.month_starts_in_intervals(
        iv, "s", "e", "1995-01-01", "2001-12-01"
    )
    return (
        matched.groupBy("_m")
        .agg(
            F.count(F.lit(1)).alias("n_in_transit"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("qty_in_transit"),
        )
        .select(
            F.format_string(
                "%04d-%02d-01", F.expr("_m div 12"), F.col("_m") % 12 + 1
            ).alias("as_of_date"),
            "n_in_transit",
            "qty_in_transit",
        )
    )


@query(
    "op-ext-rollup-cascade",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def op_ext_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate cascade hourly → 6h → daily
    (operators/timeseries.py): raw events are scanned ONCE (hourly);
    each coarser level re-aggregates the finer one over ~1/6 the rows.
    DECIMAL sums make the re-aggregation exact, so the daily output is
    bit-identical to the oracle's direct daily aggregation — the
    external proof that the cascade loses nothing."""
    _, _, daily = tsr.cascade_rollup(t(spark, sf_dir, "events"))
    return daily.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        F.col("key").alias("event_type"),
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
    )


# DuckDB twin of text.hash_bucket (strpos-on-hex-alphabet nibbles, the
# same portable trick as the SimHash oracle).
def _bucket_sql(key: str, salt: str) -> str:
    h = f"md5('{salt}' || CAST({key} AS VARCHAR))"
    nib = (
        "(strpos('0123456789abcdef', substring({h}, {i}, 1)) - 1)"
    )
    return (
        f"({nib.format(h=h, i=1)} * 16 + {nib.format(h=h, i=2)})"
    )


@query(
    "op-ext-hash-split",
    oracle=f"""
    SELECT doc_id, CAST({_bucket_sql('doc_id', 'split:')} AS BIGINT) AS bucket,
           CASE WHEN {_bucket_sql('doc_id', 'split:')} < 204 THEN 'train'
                WHEN {_bucket_sql('doc_id', 'split:')} < 230 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def op_ext_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split keyed on
    md5(doc_id) (text.hash_split): membership is a pure function of the
    key — stable across reruns, engines, partitionings and cluster
    sizes, so test rows can never leak into train between runs.
    Row-local, zero shuffle."""
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        tx.hash_bucket("doc_id", "split:").cast("bigint").alias("bucket"),
        tx.hash_split("doc_id").alias("split"),
    )


@query(
    "op-ext-sample-stratified",
    oracle=f"""
    SELECT doc_id, lang,
           CAST({_bucket_sql('doc_id', 'strat:')} AS BIGINT) AS bucket
    FROM documents
    WHERE {_bucket_sql('doc_id', 'strat:')}
          < CASE WHEN lang = 'en' THEN 192 ELSE 64 END
    """,
)
def op_ext_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic STRATIFIED downsample: per-language keep-rates
    (75% en, 25% otherwise) applied via the same content-addressed
    hash bucket — reproducible sampling, no rand(), no seed plumbing;
    a different salt decorrelates it from the train/val/test split."""
    b = tx.hash_bucket("doc_id", "strat:")
    rate = F.when(F.col("lang") == "en", F.lit(192)).otherwise(F.lit(64))
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", "lang", b.cast("bigint").alias("bucket"))
        .filter(F.col("bucket") < rate)
    )


@query(
    "op-ext-heavy-hitters",
    oracle=f"""
    WITH tk AS (
      SELECT t.tok FROM (SELECT {_TOKS} AS tk FROM documents) d,
                        unnest(d.tk) AS t(tok)
    ),
    counts AS (SELECT tok, COUNT(*) AS n FROM tk GROUP BY tok)
    SELECT tok, n,
           CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS rnk
    FROM counts ORDER BY n DESC, tok LIMIT 20
    """,
)
def op_ext_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 tokens: explode → map-side-combined count →
    distributed top-k (orderBy+limit plans as TakeOrderedAndProject —
    per-partition heaps, only 20 rows cross to the driver stage; never
    a single-partition global sort). Total tiebreak (count desc, token
    asc) keeps the cut deterministic."""
    counts = (
        docs_t(spark, sf_dir)
        .select(F.explode(tx.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(20)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    return counts.select(
        "tok", "n", F.row_number().over(w).cast("bigint").alias("rnk")
    )


@query(
    "op-ext-tfidf",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, t.tok, COUNT(*) AS tf
      FROM (SELECT doc_id, {_TOKS} AS tk FROM documents) d,
           unnest(d.tk) AS t(tok)
      GROUP BY 1, 2
    ),
    df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             ROUND(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
      FROM tf JOIN df USING (tok) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, tok, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, tok) AS rnk
    FROM scored)
    SELECT doc_id, tok, tfidf, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def op_ext_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. tf and df are integer-exact
    both engines; idf = ln((N+1)/(df+1)) is one libm call on identical
    doubles, rounded to 6 dp before ranking so a last-ulp difference
    cannot flip the order; ties broken by token. The df side is
    vocab-sized and joins UNHINTED (r14, verdict-#1 discipline: a
    forced broadcast of an unbounded web-token vocabulary is a
    designed-in driver OOM at 100 TB — AQE broadcasts it at small SF
    and falls back to a shuffle join at scale, plan-pinned in
    tests/test_plan_shapes.py); N is a broadcast 1-row relation (never
    a driver collect)."""
    from pyspark.sql import Window

    docs = docs_t(spark, sf_dir)
    tf = (
        docs.select("doc_id", F.explode(tx.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    from data_warehousing_assignment_spark.caching import pin

    tf = pin(tf)  # feeds both the df aggregation and the score join
    df_counts = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_counts, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b\d{3}-\d{4}\b"


@query(
    "op-ext-pii-redact",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or call 555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS body
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(body, '{_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(body, '{_PHONE_RE}')) AS BIGINT)
             AS n_phones,
           md5(regexp_replace(regexp_replace(body, '{_EMAIL_RE}', '<EMAIL>',
                                             'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_hash
    FROM aug
    """,
)
def op_ext_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub for training corpora: email + phone patterns replaced
    with typed placeholders, match counts surfaced for audit. Inputs
    are augmented with a deterministic synthetic email/phone per doc so
    the redaction provably FIRES (the raw corpus contains none).
    Row-local regexp ops, zero shuffle; hash-at-the-boundary keeps the
    redacted body out of the result surface."""
    body = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(body, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return docs_t(spark, sf_dir).select(
        "doc_id",
        F.regexp_count(body, F.lit(_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(body, F.lit(_PHONE_RE)).cast("bigint").alias("n_phones"),
        F.md5(redacted).alias("redacted_hash"),
    )


def _shingles_sql(n: int) -> str:
    """DuckDB word-n-gram twin of text.word_shingles for arbitrary n,
    over a column ``tk`` (pre-split token list), incl. the <n-token
    full-text fallback."""
    terms = " || ' ' || ".join(f"tk[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len(tk) >= {n} THEN "
        f"list_transform(range(1, len(tk) - {n} + 2), i -> {terms}) "
        "ELSE [array_to_string(tk, ' ')] END"
    )


@query(
    "op-ext-decontaminate",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_TOKS} AS tk FROM documents),
    sh AS (SELECT doc_id, source, {_shingles_sql(8)} AS s FROM t),
    ex AS (SELECT DISTINCT doc_id, source, u.x AS g
           FROM sh, unnest(sh.s) u(x)),
    bench AS (SELECT DISTINCT g FROM ex WHERE source = 'src0')
    SELECT e.doc_id, COUNT(*) AS n_hits
    FROM ex e JOIN bench b ON e.g = b.g
    WHERE e.source != 'src0' GROUP BY e.doc_id
    """,
)
def op_ext_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (text.contamination_hits): flag
    training docs sharing any 8-word-gram with the held-out benchmark
    slice (source='src0' stands in for an eval suite). md5-hashed grams
    shuffle 32 chars, benchmark side broadcast — the leakage guard every
    training pipeline runs before a data release."""
    docs = t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    return tx.contamination_hits(
        dd.scale_out(corpus), bench, "doc_id", "text", n=8
    )


@query(
    "op-ext-length-quantiles",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           round(quantile_cont(n_chars, 0.5), 6) AS p50,
           round(quantile_cont(n_chars, 0.9), 6) AS p90,
           round(quantile_cont(n_chars, 0.99), 6) AS p99
    FROM documents GROUP BY lang
    """,
)
def op_ext_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length quantiles (corpus profiling). EXACT
    linear-interpolated percentiles — Spark `percentile` and DuckDB
    `quantile_cont` share the (n-1)·p definition, rounded to 6 dp.
    Grouped exact percentile shuffles each stratum's values to its
    reducer — fine while strata fit an executor (they do: languages);
    at unbounded cardinality switch to approx_percentile (t-digest,
    map-side combinable), which this oracle deliberately pins the exact
    reference for."""
    return (
        t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(n_chars, 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(n_chars, 0.99)"), 6).alias("p99"),
        )
    )


# --------------------------------------------------------------------------
# round 5: simhash near-dup pairs, corpus vocab, BM25, hourly gap-fill
# --------------------------------------------------------------------------

@query(
    "op-ext-simhash-neardup",
    oracle=f"""
    WITH fp AS ({_simhash_oracle()}),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM fp a JOIN fp b ON a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
    """,
)
def op_ext_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate PAIRS (Hamming <= 3) via banded bucket
    self-join (dedup.simhash_neardup_pairs): 4 bands of 12 bits over the
    48-bit fingerprint; pigeonhole makes band-collision recall EXACT for
    distance < bands, the xor-popcount residual restores precision. The
    oracle is the literal all-pairs definition — affordable at sf0.01.
    SCALE LIMIT (measured r11): 12-bit bands cap at 4,096 buckets, so
    the band join is O(n²/4096) — at the 100× synthesis (500k docs)
    that is ~250M candidates and 58 GB of shuffle spill. This op is
    the small-scale anchor; op-ext-simhash-neardup-scaled (32-bit
    bands over a 128-bit fingerprint) is the 100 TB operating point."""
    return dd.simhash_neardup_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text",
        bands=4, max_hamming=3,
    )


@query(
    "op-ext-simhash-neardup-scaled",
    oracle=f"""
    WITH fp AS ({_simhash_oracle(128)}),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash_0, b.simhash_0))
                  + bit_count(xor(a.simhash_1, b.simhash_1)) AS BIGINT)
               AS hamming
      FROM fp a JOIN fp b ON a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
    """,
)
def op_ext_simhash_neardup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALE twin of op-ext-simhash-neardup: 4 bands of 32 bits over a
    128-bit two-word SimHash (dedup.simhash_neardup_pairs). Same
    pigeonhole exactness (3 flips leave ≥ 1 of 4 bands clean), but
    band keys draw from 2³² values instead of 2¹² — bucket collisions
    stay content-driven (true near-dups + 2⁻³²-rate noise) instead of
    saturating at 4,096 buckets, so Σ|bucket|² stays near-linear at
    any realistic corpus size. The finer fingerprint makes this a
    DIFFERENT statistic than the 48-bit anchor (128-bit Hamming ≤ 3 is
    strictly rarer); the oracle is the literal all-pairs definition at
    sf0.01."""
    return dd.simhash_neardup_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", bits=128,
        max_hamming=3,
    )


@query(
    "op-ext-vocab-topk",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, t.tok
      FROM (SELECT doc_id, {_TOKS} AS tk FROM documents) d,
           unnest(d.tk) AS t(tok)
    ),
    v AS (
      SELECT tok, COUNT(*) AS n_occurrences,
             COUNT(DISTINCT doc_id) AS n_docs
      FROM tf GROUP BY tok
    ),
    r AS (
      SELECT tok, n_occurrences, n_docs,
             row_number() OVER (ORDER BY n_occurrences DESC, tok) AS rnk
      FROM v)
    SELECT tok, n_occurrences, n_docs, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 50
    """,
)
def op_ext_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile: top-50 tokens by total occurrences
    (ties by token) with document frequency — the vocab-build /
    stopword-discovery pass of a training pipeline. One explode + one
    map-side-combined agg keyed by token; the top-50 cut runs as
    orderBy+limit over the already-aggregated VOCAB —
    TakeOrderedAndProject per-partition heaps, so no reducer ever holds
    the whole vocabulary — and only the 50 survivors see the ranking
    window (r7; was a global row_number window over the vocab)."""
    from pyspark.sql import Window

    tf = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tx.tokens("text")).alias("tok")
    )
    v = dd.scale_out(tf).groupBy("tok").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    top = v.orderBy(F.desc("n_occurrences"), F.asc("tok")).limit(50)
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("tok"))
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint"))


#: BM25 (k1 = 1.5, b = 0.75) of one posting from its ``tf``, document
#: length ``dl``, corpus ``avgdl`` and term ``idf``, rounded to 6 dp: the
#: same left-associative double expression the oracles write (``D``
#: literals, so no operand is parsed as DECIMAL).
BM25_SQL = (
    "round(idf * (tf * 2.5D)"
    " / (tf + 1.5D * (1.0D - 0.75D + 0.75D * dl / avgdl)), 6)"
)
#: the same score as exact fixed-point µ-units: rounded to 6 dp, ×1e6,
#: rounded again so Spark's truncating cast and DuckDB's rounding cast
#: agree — sums of these are order-free integers
BM25_MICRO_SQL = f"CAST(round({BM25_SQL} * 1000000, 0) AS BIGINT)"
_BM25_IDF_SQL = "ln(1.0D + (n_docs - df + 0.5D) / (df + 0.5D))"


def bm25_idf(tf: DataFrame, stats: DataFrame, guarded: bool = True) -> DataFrame:
    """Per-token BM25 idf ``(tok, idf)``. ``guarded`` applies the stop-term
    guard (integer-exact, mirrored in the oracles' HAVING): a term in
    >90% of documents contributes idf ≈ ln(1.11) ≈ 0.1 — noise — while
    its postings list is O(corpus). Dropping it bounds the postings join
    the way every production lexical index does (stop lists /
    impact-ordered pruning à la WAND are the stronger forms). No-op on
    the tested corpora: max df ratio measured 0.78–0.83 across SFs
    (threshold behavior unit-pinned in tests/test_rank_fusion.py)."""
    df = (
        tf.groupBy("tok")
        .agg(F.expr("count(1) AS df"))
        .crossJoin(F.broadcast(stats.select("n_docs")))
    )
    if guarded:
        df = df.filter("df * 10 <= n_docs * 9")
    return df.selectExpr("tok", f"{_BM25_IDF_SQL} AS idf")


def bm25_build(
    docs: DataFrame, guarded: bool, zipf_skew: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """``(tf, dl, stats, idf)`` of a documents frame: the pinned
    ``(doc_id, tok, tf)`` term counts (they feed both the doc-frequency
    agg and the score join), ``(doc_id, dl)`` lengths, the 1-row
    ``(avgdl, n_docs)`` stats and :func:`bm25_idf`. tf/df/dl/N are
    integer-exact in both engines; avgdl is exact-int-sum / count (one
    IEEE divide). Only the 1-row stats may carry a broadcast hint: the
    idf (vocab-sized: unbounded on web text) and dl (one row per
    document) frames join UNHINTED (r13 verdict #1) — at ~100 TB both are
    tens-of-GB frames and a forced broadcast is a designed-in driver OOM;
    AQE broadcasts them at small SF and picks shuffle-hash/sort-merge at
    scale (pinned in
    tests/test_plan_shapes.py::test_bm25_family_no_forced_corpus_broadcast).

    ``zipf_skew=True`` is a measurement knob, not a registered contract:
    a deterministic Zipf PROJECTION of the posting lists that reproduces
    the natural-language df profile the block-max prune targets. Tokens
    get a fixed arbitrary rank r (md5 order); the token at rank r keeps
    ~1/r of its (doc, token) postings via a per-posting md5 coin, so df
    falls off as df_raw/r — a Zipf(1) tail: few huge stop-ish lists (low
    idf ⇒ low impact ⇒ non-essential under MaxScore) and many short
    rare-term lists. dl/avgdl are recomputed from the projected postings
    so the BM25 arithmetic is self-consistent on the projected corpus;
    the vocab-sized rank frame joins unhinted like idf. Block-max
    losslessness under the knob is pinned in tests/test_rank_fusion.py."""
    from data_warehousing_assignment_spark.caching import pin

    tf = pin(
        docs.select("doc_id", F.explode(tx.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.expr("count(1) AS tf"))
    )
    if zipf_skew:
        tokrank = tf.select("tok").distinct().selectExpr(
            "tok",
            "CAST(row_number() OVER (ORDER BY md5(tok), tok) AS BIGINT) AS zrank",
        )
        tf = pin(
            tf.join(tokrank, "tok")
            .filter(
                "CAST(conv(substring(md5(concat_ws(':', tok,"
                " CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
                " % zrank = 0"
            )
            .drop("zrank")
        )
        dl = tf.groupBy("doc_id").agg(F.expr("CAST(sum(tf) AS BIGINT) AS dl"))
    else:
        dl = docs.select(
            "doc_id", F.size(tx.tokens("text")).cast("bigint").alias("dl")
        )
    stats = dl.selectExpr(
        "CAST(sum(dl) AS DOUBLE) / count(1) AS avgdl", "count(1) AS n_docs"
    )
    return tf, dl, stats, bm25_idf(tf, stats, guarded)


@query(
    "op-ext-bm25",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, t.tok, COUNT(*) AS tf
      FROM (SELECT doc_id, {_TOKS} AS tk FROM documents) d,
           unnest(d.tk) AS t(tok)
      GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS dl FROM documents),
    stats AS (
      SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             COUNT(*) AS n_docs
      FROM dl
    ),
    idf AS (
      SELECT tok, ln(1.0 + (s.n_docs - COUNT(*) + 0.5) / (COUNT(*) + 0.5))
                  AS idf
      FROM tf CROSS JOIN stats s
      GROUP BY tok, s.n_docs
    ),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             round(idf.idf * (tf.tf * 2.5)
                   / (tf.tf + 1.5 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)),
                   6) AS bm25
      FROM tf
      JOIN idf USING (tok)
      JOIN dl USING (doc_id)
      CROSS JOIN stats s
    ),
    ranked AS (
      SELECT doc_id, tok, bm25,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY bm25 DESC, tok) AS rnk
      FROM scored)
    SELECT doc_id, tok, bm25, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def op_ext_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 BM25 (k1=1.5, b=0.75) terms per document — TF-IDF's
    production successor with doc-length normalization. Determinism:
    the score is the SAME left-associative double expression in both
    engines (BM25_SQL), rounded to 6 dp before ranking; ties by token.
    Plan: the bm25_build shape, with the unguarded idf."""
    docs = docs_t(spark, sf_dir)
    tf, dl, stats, idf = bm25_build(docs, guarded=False)
    return (
        tf.join(idf, "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .selectExpr("doc_id", "tok", f"{BM25_SQL} AS bm25")
        .selectExpr(
            "*",
            "CAST(row_number() OVER (PARTITION BY doc_id"
            " ORDER BY bm25 DESC, tok) AS BIGINT) AS rnk",
        )
        .filter("rnk <= 3")
    )


@query(
    "op-ext-gapfill",
    oracle="""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) // 3600000000 AS hour_id, value
      FROM events WHERE user_id < 10
    ),
    hourly AS (
      SELECT user_id, hour_id, COUNT(*) AS n_ev,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS hv
      FROM ev GROUP BY 1, 2
    ),
    spine AS (
      SELECT user_id,
             unnest(generate_series(lo, hi)) AS hour_id
      FROM (SELECT user_id, MIN(hour_id) AS lo, MAX(hour_id) AS hi
            FROM hourly GROUP BY 1)
    )
    SELECT s.user_id, s.hour_id,
           CAST(COALESCE(h.n_ev, 0) AS BIGINT) AS n_events,
           COALESCE(h.hv, 0.0) AS hour_value,
           COALESCE(last_value(h.hv IGNORE NULLS)
                      OVER (PARTITION BY s.user_id ORDER BY s.hour_id
                            ROWS UNBOUNDED PRECEDING),
                    0.0) AS value_locf
    FROM spine s LEFT JOIN hourly h
      ON s.user_id = h.user_id AND s.hour_id = h.hour_id
    """,
)
def op_ext_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-user hourly series with LOCF gap filling
    (timeseries.gapfill_hourly) — the time_bucket_gapfill + locf shape
    over the events stream, users 0-9 (bounds the spine for the gate;
    the operator itself is unbounded). Hour buckets are exact integer
    µs division on both engines; sums are decimal-exact."""
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 10).withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    )
    return tsr.gapfill_hourly(ev)


@query(
    "op-ext-setjoin-prefix",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_distinct(string_split_regex(lower(trim(text)), '\\s+'))
               AS s
      FROM documents WHERE doc_id < 250
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
                    AS DOUBLE) AS jaccard
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
                 AS DOUBLE) >= 0.8
    """,
)
def op_ext_setjoin_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard set-similarity self-join (t=0.8) via PPJoin-style
    prefix filtering (dedup.set_similarity_join_prefix): sets re-sorted
    rarest-token-first, only the |s|−⌈t|s|⌉+1 prefix enters the
    candidate equi-join, exact verify on the full sets. The oracle
    states the naive all-pairs join — completeness of the prefix filter
    is exactly what the hash-match proves. Complements minhash-LSH
    (approximate, probabilistic recall) with the exact algorithm; the
    doc_id bound sizes the gate output, the operator is unbounded."""
    from data_warehousing_assignment_spark.operators.dedup import (
        set_similarity_join_prefix,
    )

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 250)
        .select("doc_id", F.array_distinct(tx.tokens("text")).alias("s"))
    )
    return set_similarity_join_prefix(docs, "doc_id", "s", threshold=0.8)


@query(
    "op-ext-containment-join",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_distinct(string_split_regex(lower(trim(text)), '\\s+'))
               AS s
      FROM documents WHERE doc_id < 250
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / CAST(len(a.s) AS DOUBLE) AS containment
    FROM d a JOIN d b ON a.doc_id <> b.doc_id
    WHERE len(a.s) > 0
      AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / CAST(len(a.s) AS DOUBLE) >= 0.9
    """,
)
def op_ext_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT directed containment self-join (C(a→b) = |a∩b|/|a| ≥ 0.9,
    dedup.containment_join) — the subset-duplicate detector the
    symmetric Jaccard joins structurally miss (a short doc quoted inside
    a long one has near-zero Jaccard but containment 1.0). Asymmetric
    prefix filter: only the contained side's rarity-first prefix enters
    the candidate join, the container side indexes all tokens. The
    oracle states the naive all-pairs predicate — the hash match proves
    candidate completeness. Same doc_id gate bound as setjoin-prefix;
    the operator itself is unbounded."""
    from data_warehousing_assignment_spark.operators.dedup import (
        containment_join,
    )

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 250)
        .select("doc_id", F.array_distinct(tx.tokens("text")).alias("s"))
    )
    return containment_join(docs, "doc_id", "s", threshold=0.9)


def _cur_bucket_sql() -> str:
    h = "md5('cur:' || CAST(d.doc_id AS VARCHAR))"
    nib = "(strpos('0123456789abcdef', substring({h}, {i}, 1)) - 1)"
    return f"({nib.format(h=h, i=1)} * 16 + {nib.format(h=h, i=2)})"


@query(
    "op-ext-curation-funnel",
    oracle=f"""WITH RECURSIVE {_EDGE_CTES},
    f AS (
      SELECT d.source,
             len({_TOKS}) >= 5 AS q,
             d.doc_id = c.cluster_id AS surv,
             ({_cur_bucket_sql()} % 10) < 8 AS samp
      FROM documents d JOIN comp c ON d.doc_id = c.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
           CAST(SUM(CASE WHEN q AND surv THEN 1 ELSE 0 END) AS BIGINT)
             AS n_survivors,
           CAST(SUM(CASE WHEN q AND surv AND samp THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sampled
    FROM f GROUP BY source
    """,
)
def op_ext_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel — the per-source keep/drop accounting a
    training-data pipeline reports after each gate: raw corpus → quality
    filter (≥5 tokens) → near-dup survivor (doc is its cluster's min-id
    representative, dedup.near_dup_clusters) → deterministic 80%
    content-addressed sample (md5 bucket — stable across engines, reruns
    and cluster sizes, text.hash_bucket). Cumulative counts surface the
    funnel per source in ONE conditional aggregation over the
    cluster-labeled corpus: the dedup pipeline runs once, the gates are
    row-local flags, and the only post-join shuffle carries
    |sources| × 4 counters."""
    docs = t(spark, sf_dir, "documents")
    comp = shared_dedup_clusters(spark, sf_dir)
    q = F.size(tx.tokens("text")) >= 5
    surv = F.col("doc_id") == F.col("cluster_id")
    samp = (tx.hash_bucket("doc_id", "cur:") % 10) < 8
    cnt_if = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")
    return (
        docs.join(comp, "doc_id")
        .select("source", q.alias("q"), surv.alias("surv"), samp.alias("samp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            cnt_if(F.col("q")).alias("n_quality"),
            cnt_if(F.col("q") & F.col("surv")).alias("n_survivors"),
            cnt_if(F.col("q") & F.col("surv") & F.col("samp")).alias("n_sampled"),
        )
    )


# --------------------------------------------------------------------------
# ANN index-quality monitor (r12): recall@5 of the shipped IVF cut
# --------------------------------------------------------------------------

_RECALL_SURFACE_ORACLE = f"""
    {_ivf_cand_ctes(_seed16_c0('emb'), n_probe=8, query_mod=50)},
    nrms AS (
      SELECT emb.vec_id, CAST(SUM(v[idx.i] * v[idx.i]) AS BIGINT) AS nrm
      FROM emb, idx GROUP BY 1
    ),
    dots AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(SUM(q.v[idx.i] * n.v[idx.i]) AS BIGINT) AS dot
      FROM cand c
      JOIN emb q ON q.vec_id = c.query_id
      JOIN emb n ON n.vec_id = c.neighbor_id, idx
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.query_id, d.neighbor_id,
             CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(nq.nrm AS DOUBLE))
                  * sqrt(CAST(nc.nrm AS DOUBLE))) AS score
      FROM dots d
      JOIN nrms nq ON d.query_id = nq.vec_id
      JOIN nrms nc ON d.neighbor_id = nc.vec_id
    ),
    ivf5 AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id) AS rank
            FROM scored)
      WHERE rank <= 5
    ),
    bdots AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             CAST(SUM(q.v[idx.i] * n.v[idx.i]) AS BIGINT) AS dot
      FROM emb q JOIN emb n ON n.vec_id <> q.vec_id, idx
      WHERE q.vec_id % 50 = 0
      GROUP BY 1, 2
    ),
    bscored AS (
      SELECT d.query_id, d.neighbor_id,
             CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(nq.nrm AS DOUBLE))
                  * sqrt(CAST(nc.nrm AS DOUBLE))) AS score
      FROM bdots d
      JOIN nrms nq ON d.query_id = nq.vec_id
      JOIN nrms nc ON d.neighbor_id = nc.vec_id
    ),
    exact5 AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id) AS rank
            FROM bscored)
      WHERE rank <= 5
    )
    SELECT e.query_id,
           CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
           CAST((1000000 * COUNT(i.neighbor_id)) // 5 AS BIGINT)
             AS recall_ppm
    FROM exact5 e
    LEFT JOIN ivf5 i ON e.query_id = i.query_id
                    AND e.neighbor_id = i.neighbor_id
    GROUP BY 1
    """


@query("op-ext-ann-recall-surface", oracle=_RECALL_SURFACE_ORACLE)
def op_ext_ann_recall_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of the SHIPPED IVF candidate cut (16 cells,
    n_probe=8 — the operating point the r12 measured experiment chose
    for the PQ path) against the exact brute-force top-5: the
    index-quality monitor a production retrieval stack alarms on. An
    ANN index silently degrades as the corpus drifts (cells go stale,
    hot regions overflow their cells); recall measured IN-ENGINE on a
    deterministic query sample (vec_id % 50 — 10+ queries at every SF,
    a denser audit spine than the %100 ANN ops so the oracle compares
    a non-trivial row set) turns that into a numeric, regressable
    surface — this op is the monitored-metric form of the r12 recall
    table in the operators/pq.ivf_pq_cosine_topk docstring. recall_ppm
    is an exact integer (1e6·hits // 5): hits are set-intersection
    counts of two deterministically-ranked top-5 lists, so the whole
    surface is hash-exact cross-engine. SCALE CONTRACT (r12 advice): this
    registered form samples queries by vec_id % 50 — a MODULUS spine
    whose Q grows linearly with the corpus, making the brute-force
    ground truth O(C²/50); it is the small-SF DISCRIMINATING anchor
    (densest oracle-comparable row set) and is only run at oracle SFs.
    The production shape — Q pinned to a fixed-size deterministic
    audit sample so the exact baseline stays linear in corpus size —
    is registered as op-ext-ann-recall-sampled (same recall
    arithmetic, md5-ordered 100-query sample); BASELINE.md records the
    %-spine sf10 probe being killed past 27 min while the fixed-sample
    probe ran in 54.5 s at 200k vectors. At the 100× sweep this op
    inherits the pair-oracle exclusion class (the DuckDB replay
    materializes Q·C pair rows), while its sf1 oracle run and the
    sampled twin's sf10 evidence stand in."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact5 = sim.brute_force_cosine_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    ivf5 = iv.ivf_cosine_topk(
        emb, queries, k=5, n_clusters=16, n_probe=8
    ).select("query_id", F.col("neighbor_id").alias("_n"))
    hits = (
        exact5.join(
            ivf5,
            (exact5.query_id == ivf5.query_id)
            & (exact5.neighbor_id == ivf5._n),
            "left",
        )
        .groupBy(exact5.query_id)
        .agg(F.count("_n").cast("bigint").alias("n_hits"))
    )
    return hits.select(
        "query_id",
        "n_hits",
        F.expr("(1000000 * n_hits) div 5").alias("recall_ppm"),
    )


#: The fixed-size deterministic audit-sample spine shared by every
#: fixed-Q op (recall-sampled, hybrid-fusion, fusion-gain): the 100
#: lowest vec_ids by md5(vec_id) order — a content-addressed
#: pseudo-random draw both engines rank identically, tie-broken by
#: vec_id. ONE definition on each side (this CTE + audit_sample below)
#: so the ops' claim of sharing a query set is enforced, not asserted.
_QSAMPLE_CTE = """qsample AS (
      SELECT vec_id FROM emb
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 100
    )"""

_QSAMPLE_WHERE = "vec_id IN (SELECT vec_id FROM qsample)"

#: Seed CTE chain for the hybrid stack's dense leg: the audit sample, the
#: cost-balanced cell count (the SAME IVF_KK_EXPR twin op-ext-ann-ivf-scaled
#: rides, with q = the pinned sample size instead of the %100 spine — r13
#: verdict #2), and the k*-row lowest-id seed set. Shared by the
#: op-ext-hybrid-fusion / op-ext-fusion-gain chain (_hybrid_fused_ctes) and
#: the op-ext-fusion-baseline oracle in registry_advanced, so the engine's
#: auto_n_clusters call and all three oracles derive one k.
_HYBRID_C0_SQL = f"""
    {_QSAMPLE_CTE},
    kk AS (
      SELECT {IVF_KK_EXPR.format(n='n', q='q')} AS k
      FROM (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM emb) AS n,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM qsample) AS q)
    ),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster,
             v AS centroid
      FROM (SELECT vec_id, v,
                   ROW_NUMBER() OVER (ORDER BY vec_id) AS rk FROM emb)
      WHERE rk <= (SELECT k FROM kk)
    )"""

#: The SHIPPED recall-monitor cut's seed chain — audit sample + pinned
#: 16-cell lowest-id seeds — ONE definition shared by
#: op-ext-ann-recall-sampled and the r14 filtered-search ops, so the
#: "same cut, directly comparable recall" claim is enforced by
#: construction rather than by eyeballing two copies (r14 self-review).
_FILT_C0_SQL = f"""
    {_QSAMPLE_CTE},
    {_seed16_c0('emb')}"""


def audit_sample(emb: DataFrame) -> DataFrame:
    """Engine twin of :data:`_QSAMPLE_CTE` — pinned, because every
    consumer feeds it to at least two downstream legs and an unpinned
    frame would replay the full-table top-100 sort per leg."""
    from data_warehousing_assignment_spark.caching import pin

    return pin(
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(100)
    )


def _recall_vs_exact_oracle(c0_sql: str, train_src: str = "emb") -> str:
    """Recall@5-vs-brute-force oracle over a fixed audit sample: the IVF
    candidate chain (seed CTEs injected via ``c0_sql``, Lloyd corpus via
    ``train_src``) → exact scoring → ivf5, against the O(100·C) exact
    ground truth → per-query integer recall_ppm. ONE body shared by
    op-ext-ann-recall-sampled (full-corpus training) and
    op-ext-ann-incr-recall (base-trained frozen centroids), so the
    drift the incremental monitor reports is measured under literally
    the same arithmetic, not a re-implementation."""
    return f"""
    {_ivf_cand_ctes(c0_sql, n_probe=8, query_where=_QSAMPLE_WHERE, train_src=train_src)},
    nrms AS (
      SELECT emb.vec_id, CAST(SUM(v[idx.i] * v[idx.i]) AS BIGINT) AS nrm
      FROM emb, idx GROUP BY 1
    ),
    dots AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(SUM(q.v[idx.i] * n.v[idx.i]) AS BIGINT) AS dot
      FROM cand c
      JOIN emb q ON q.vec_id = c.query_id
      JOIN emb n ON n.vec_id = c.neighbor_id, idx
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.query_id, d.neighbor_id,
             CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(nq.nrm AS DOUBLE))
                  * sqrt(CAST(nc.nrm AS DOUBLE))) AS score
      FROM dots d
      JOIN nrms nq ON d.query_id = nq.vec_id
      JOIN nrms nc ON d.neighbor_id = nc.vec_id
    ),
    ivf5 AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id) AS rank
            FROM scored)
      WHERE rank <= 5
    ),
    bdots AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             CAST(SUM(q.v[idx.i] * n.v[idx.i]) AS BIGINT) AS dot
      FROM emb q JOIN emb n ON n.vec_id <> q.vec_id, idx
      WHERE q.{_QSAMPLE_WHERE}
      GROUP BY 1, 2
    ),
    bscored AS (
      SELECT d.query_id, d.neighbor_id,
             CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(nq.nrm AS DOUBLE))
                  * sqrt(CAST(nc.nrm AS DOUBLE))) AS score
      FROM bdots d
      JOIN nrms nq ON d.query_id = nq.vec_id
      JOIN nrms nc ON d.neighbor_id = nc.vec_id
    ),
    exact5 AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id) AS rank
            FROM bscored)
      WHERE rank <= 5
    )
    SELECT e.query_id,
           CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
           CAST((1000000 * COUNT(i.neighbor_id)) // 5 AS BIGINT)
             AS recall_ppm
    FROM exact5 e
    LEFT JOIN ivf5 i ON e.query_id = i.query_id
                    AND e.neighbor_id = i.neighbor_id
    GROUP BY 1
    """


_RECALL_SAMPLED_ORACLE = _recall_vs_exact_oracle(_FILT_C0_SQL)


@query("op-ext-ann-recall-sampled", oracle=_RECALL_SAMPLED_ORACLE)
def op_ext_ann_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION shape of the ANN recall monitor (r12 verdict #2):
    recall@5 of the shipped IVF cut (16 cells, n_probe=8) against the
    exact brute-force top-5 over a FIXED-SIZE deterministic audit
    sample — the 100 lowest vec_ids by md5(vec_id) order (a content-
    addressed pseudo-random draw both engines rank identically, tie-
    broken by vec_id). Q is pinned at min(100, corpus), so the exact
    ground-truth side is O(100·C) — LINEAR in corpus size — where the
    %50 modulus spine of op-ext-ann-recall-surface (the small-SF
    discriminating anchor) grows Q with the corpus and went
    quadratic: BASELINE.md records its sf10 probe killed past 27 min
    while this fixed-sample shape ran 54.5 s at 200k vectors. Same
    recall arithmetic as the surface op — exact integer recall_ppm =
    1e6·|exact5 ∩ ivf5| // 5 per query — so the monitor an operator
    alarms on at 100 TB is the op that is oracle-verified here, not a
    probe-only variant. The Q-bounded ground truth also keeps the
    DuckDB replay feasible far beyond the %-spine's range."""
    emb = t(spark, sf_dir, "embeddings")
    queries = audit_sample(emb)
    approx5 = iv.ivf_cosine_topk(emb, queries, k=5, n_clusters=16, n_probe=8)
    return _sampled_recall_frame(emb, queries, approx5)


def _sampled_recall_frame(
    emb: DataFrame, queries: DataFrame, approx5: DataFrame
) -> DataFrame:
    """Per-query integer recall@5 of ``approx5`` (query_id, neighbor_id,
    …) against the exact brute-force top-5 over the same fixed audit
    sample — engine twin of the :func:`_recall_vs_exact_oracle` tail,
    ONE body shared by op-ext-ann-recall-sampled and
    op-ext-ann-incr-recall so the incremental monitor's drift is
    measured under literally the same arithmetic."""
    exact5 = sim.brute_force_cosine_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    ivf5 = approx5.select("query_id", F.col("neighbor_id").alias("_n"))
    hits = (
        exact5.join(
            ivf5,
            (exact5.query_id == ivf5.query_id)
            & (exact5.neighbor_id == ivf5._n),
            "left",
        )
        .groupBy(exact5.query_id)
        .agg(F.count("_n").cast("bigint").alias("n_hits"))
    )
    return hits.select(
        "query_id",
        "n_hits",
        F.expr("(1000000 * n_hits) div 5").alias("recall_ppm"),
    )


# --------------------------------------------------------------------------
# incremental IVF index maintenance (r14): build once on the base
# corpus, assign each arriving batch against the FROZEN centroids in
# O(Δ·k) — the arrival path at 100 TB, where re-clustering per batch is
# a full-corpus job — plus the recall monitor that measures what the
# frozen index costs as the un-reclustered corpus grows
# --------------------------------------------------------------------------

#: The base/delta split of the incremental-index ops: the index is
#: k-means-built on the 90% BASE slice only; the 10% delta (every
#: _INCR_MOD-th vec_id — a superset of the %100 query spine, so queries
#: are themselves newly-arrived vectors) is assigned to the frozen
#: centroids on arrival and never clustered. The modulus is ONE
#: constant: every engine predicate and oracle CASE below derives from
#: _INCR_MOD, so the split cannot drift between sides (r14 self-review).
_INCR_MOD = 10

_INCR_BASE_WHERE = f"vec_id % {_INCR_MOD} <> 0"

_INCR_SEED_SQL = f"""
    base AS (SELECT vec_id, v FROM emb WHERE {_INCR_BASE_WHERE}),
    {_seed16_c0('base')}"""

_INCR_FILT_C0_SQL = f"""
    {_QSAMPLE_CTE},
    {_INCR_SEED_SQL.strip()}"""


def _incr_index(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Engine twin of the ``base``/``c0`` chain: k-means (2 Lloyd
    rounds) on the base slice, then O(Δ·k) frozen-centroid assignment
    of the delta via operators/ivf.extend_ivf_index — shared by both
    incremental ops so they serve the SAME index."""
    base = emb.filter(F.col("vec_id") % _INCR_MOD != 0)
    delta = emb.filter(F.col("vec_id") % _INCR_MOD == 0)
    centroids, assign = iv.build_ivf_index(base, n_clusters=16)
    return iv.extend_ivf_index(centroids, assign, delta)


@query(
    "op-ext-ann-ivf-incremental",
    oracle=_ivf_oracle(_INCR_SEED_SQL, train_src="base"),
)
def op_ext_ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k served from an INCREMENTALLY MAINTAINED index: k-means
    runs once over the 90% base slice (the amortized offline build),
    and the 10% delta batch is assigned to the FROZEN centroids in
    O(Δ·k) on arrival (operators/ivf.extend_ivf_index) — no
    re-clustering, the only maintenance shape that survives a 100 TB
    corpus taking continuous ingest (the dedup twin is
    op-ext-dedup-incremental's O(Δ) new-vs-corpus classification).
    Queries are the standard %100 spine — all of them newly-arrived
    delta vectors, i.e. the index answers for vectors it never
    clustered on. ORACLE-EXACT through the shared _ivf_oracle body with
    the Lloyd rounds routed to the ``base`` CTE (train_src): because
    the engine's base assignments are themselves argmin against the
    final frozen centroids, base-assign ∪ delta-assign ≡ assigning the
    full corpus against those centroids, which is what the oracle's
    final-assignment CTE computes (equivalence pinned engine-side in
    tests/test_ivf.py). Recall cost of serving frozen is measured by
    op-ext-ann-incr-recall."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return iv.ivf_cosine_topk(
        emb, queries, k=5, n_probe=4, index=_incr_index(emb)
    )


@query(
    "op-ext-ann-incr-recall",
    oracle=_recall_vs_exact_oracle(_INCR_FILT_C0_SQL, train_src="base"),
)
def op_ext_ann_incr_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DRIFT MONITOR for the incrementally maintained IVF index:
    recall@5 of the frozen-centroid index (base-trained 16 cells,
    n_probe=8, delta assigned on arrival) against the exact brute-force
    top-5 on the SAME fixed 100-query md5 audit sample as
    op-ext-ann-recall-sampled — same sample, same probe width, same
    recall arithmetic (shared _sampled_recall_frame /
    _recall_vs_exact_oracle bodies), so recall-sampled minus this op is
    a like-for-like measurement of what NOT re-clustering after 10%
    corpus growth costs (measured numbers in BASELINE.md r14). This is
    the alarm an operator watches at 100 TB to decide when the
    amortized rebuild is due; ground truth stays O(100·C) — linear in
    corpus — by the pinned-Q contract."""
    emb = t(spark, sf_dir, "embeddings")
    queries = audit_sample(emb)
    approx5 = iv.ivf_cosine_topk(
        emb, queries, k=5, n_probe=8, index=_incr_index(emb)
    )
    return _sampled_recall_frame(emb, queries, approx5)


@query(
    "op-ext-ann-cell-drift",
    oracle=f"""
    {_ivf_cand_ctes(_INCR_SEED_SQL, train_src="base")},
    counts AS (
      SELECT cluster,
             CAST(SUM(CASE WHEN neighbor_id % {_INCR_MOD} <> 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
             CAST(SUM(CASE WHEN neighbor_id % {_INCR_MOD} = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_delta
      FROM cells GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_base) AS BIGINT) AS tb,
                   CAST(SUM(n_delta) AS BIGINT) AS td FROM counts)
    SELECT cluster, n_base, n_delta,
           CAST((1000000 * n_base) // NULLIF(t.tb, 0) AS BIGINT)
             AS base_ppm,
           CAST((1000000 * n_delta) // NULLIF(t.td, 0) AS BIGINT)
             AS delta_ppm,
           CAST((1000000 * n_delta) // NULLIF(t.td, 0)
                - (1000000 * n_base) // NULLIF(t.tb, 0) AS BIGINT)
             AS shift_ppm
    FROM counts, tot t
    """,
)
def op_ext_ann_cell_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The O(Δ) LEADING alarm for the incrementally maintained IVF
    index: per-cell occupancy of the base corpus vs the arriving delta
    batch, as exact integer ppm shares plus the signed shift. If new
    vectors distribute across the frozen cells like the base did,
    the centroids still describe the data and the frozen index is
    healthy; a skewed shift_ppm is the cheap early signal to run the
    expensive confirmatory monitor (op-ext-ann-incr-recall, O(100·C))
    and schedule the amortized rebuild. Costs nothing beyond the
    arrival-path assignment the index already performs — the counts
    aggregate over the assignment frame the delta batch produced, so
    at 100 TB this monitor is a k-row groupBy per batch. All
    arithmetic integer-exact (truncating div on non-negative counts,
    identical in both engines); an empty base/delta side yields NULL
    ppm rather than an engine-divergent division error. Same
    base/delta split and frozen index as the other incremental ops
    (shared _incr_index)."""
    emb = t(spark, sf_dir, "embeddings")
    _, assign = _incr_index(emb)
    return _cell_drift_frame(assign)


def _cell_drift_frame(assign: DataFrame) -> DataFrame:
    """The drift arithmetic over an (vec_id, cluster) assignment frame,
    base/delta classified by _INCR_MOD — factored out of the op so the
    alarm's SENSITIVITY is unit-testable on a synthetic skewed
    assignment (the uniform test corpus reads ~0 shift, which alone
    would leave 'does the alarm ever fire?' unanswered —
    tests/test_ivf.py feeds it an adversarial delta and pins the
    expected ppm shifts)."""
    from data_warehousing_assignment_spark.caching import pin

    # pinned: counts feeds both the tot aggregate and the final select —
    # unpinned, the whole incremental build could run twice (k rows)
    counts = pin(
        assign.groupBy("cluster").agg(
            F.sum(F.when(F.col("vec_id") % _INCR_MOD != 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_base"),
            F.sum(F.when(F.col("vec_id") % _INCR_MOD == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_delta"),
        )
    )
    tot = counts.agg(
        F.sum("n_base").cast("bigint").alias("tb"),
        F.sum("n_delta").cast("bigint").alias("td"),
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "cluster",
        "n_base",
        "n_delta",
        F.expr("(1000000 * n_base) div NULLIF(tb, 0)").alias("base_ppm"),
        F.expr("(1000000 * n_delta) div NULLIF(td, 0)").alias("delta_ppm"),
        F.expr(
            "(1000000 * n_delta) div NULLIF(td, 0)"
            " - (1000000 * n_base) div NULLIF(tb, 0)"
        ).alias("shift_ppm"),
    )


# --------------------------------------------------------------------------
# hybrid retrieval (r13): RRF fusion of the IVF dense ranking with a
# doc-level BM25 lexical ranking over one fixed query sample
# --------------------------------------------------------------------------

def _hybrid_fused_ctes() -> str:
    """The hybrid-retrieval CTE chain ending at ``fused(query_id,
    neighbor_id, rrf_micro)`` — shared verbatim by the ranking oracle
    (op-ext-hybrid-fusion) and the evaluation oracle
    (op-ext-fusion-gain in registry_advanced), so the two can't drift."""
    return f"""
    {_ivf_cand_ctes(_HYBRID_C0_SQL, query_where=_QSAMPLE_WHERE)},
    nrms AS (
      SELECT emb.vec_id, CAST(SUM(v[idx.i] * v[idx.i]) AS BIGINT) AS nrm
      FROM emb, idx GROUP BY 1
    ),
    ddots AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(SUM(q.v[idx.i] * n.v[idx.i]) AS BIGINT) AS dot
      FROM cand c
      JOIN emb q ON q.vec_id = c.query_id
      JOIN emb n ON n.vec_id = c.neighbor_id, idx
      GROUP BY 1, 2
    ),
    dscored AS (
      SELECT d.query_id, d.neighbor_id,
             CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(nq.nrm AS DOUBLE))
                  * sqrt(CAST(nc.nrm AS DOUBLE))) AS cos
      FROM ddots d
      JOIN nrms nq ON d.query_id = nq.vec_id
      JOIN nrms nc ON d.neighbor_id = nc.vec_id
    ),
    dense20 AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS r
      FROM dscored
    ),
    tf AS (
      SELECT doc_id, t.tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, {_TOKS} AS tk FROM documents) d,
           unnest(d.tk) AS t(tok)
      GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS dl
           FROM documents),
    stats AS (
      SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             COUNT(*) AS n_docs
      FROM dl
    ),
    idf AS (
      SELECT tok, ln(1.0 + (s.n_docs - COUNT(*) + 0.5) / (COUNT(*) + 0.5))
                  AS idf
      FROM tf CROSS JOIN stats s
      GROUP BY tok, s.n_docs
      HAVING COUNT(*) * 10 <= s.n_docs * 9
    ),
    qt AS (
      SELECT DISTINCT doc_id AS query_id, tok
      FROM tf WHERE doc_id IN (SELECT vec_id FROM qsample)
    ),
    lterm AS (
      SELECT q.query_id, tf.doc_id AS neighbor_id,
             CAST(round(round(idf.idf * (tf.tf * 2.5)
                   / (tf.tf + 1.5 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)),
                   6) * 1000000, 0) AS BIGINT) AS mu
      FROM qt q
      JOIN tf ON tf.tok = q.tok AND tf.doc_id <> q.query_id
      JOIN idf ON idf.tok = q.tok
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
    ),
    lexscore AS (
      SELECT query_id, neighbor_id, CAST(SUM(mu) AS BIGINT) AS bm25_micro
      FROM lterm GROUP BY 1, 2
    ),
    lex20 AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY bm25_micro DESC, neighbor_id) AS r
      FROM lexscore
    ),
    contrib AS (
      SELECT query_id, neighbor_id, 1000000 // (60 + r) AS c
      FROM dense20 WHERE r <= 20
      UNION ALL
      SELECT query_id, neighbor_id, 1000000 // (60 + r) AS c
      FROM lex20 WHERE r <= 20
    ),
    fused AS (
      SELECT query_id, neighbor_id, CAST(SUM(c) AS BIGINT) AS rrf_micro
      FROM contrib GROUP BY 1, 2
    )"""


_HYBRID_ORACLE = f"""
    {_hybrid_fused_ctes()}
    SELECT query_id, neighbor_id, rrf_micro,
           CAST(rank AS INT) AS fused_rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY rrf_micro DESC, neighbor_id) AS rank
          FROM fused)
    WHERE rank <= 10
    """


@query("op-ext-hybrid-fusion", oracle=_HYBRID_ORACLE)
def op_ext_hybrid_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (r12 verdict #6): reciprocal-rank fusion
    (Cormack, Clarke & Büttcher, SIGIR 2009) of the DENSE IVF cosine
    ranking over ``embeddings`` with a LEXICAL doc-level BM25 ranking
    over ``documents`` (k1=1.5, b=0.75 — the op-ext-bm25 constants,
    re-aimed from term-per-doc to doc-per-query scoring), over one
    fixed query sample (the md5-ordered 100-id audit draw of
    op-ext-ann-recall-sampled; doc_id ≡ vec_id links the modalities).
    This is the production retrieval stack's next step after IVF/PQ +
    recall monitoring: lexical and dense rankers fail differently, and
    RRF merges them with integer rank arithmetic (1e6 // (60+rank),
    top-20 per list) that no score-scale mismatch can skew.

    Determinism: the fusion is exact integer arithmetic; the dense
    ranking replays the shared _ivf_cand_ctes candidates with exact
    integer dot/norms; the BM25 side sums per-TERM fixed-point µ-unit
    contributions (round to 6 dp → ×1e6 → BIGINT — double-round so
    Spark's truncating cast and DuckDB's rounding cast agree), making
    the per-doc score an ORDER-FREE integer sum; cross-engine
    exactness therefore reduces to per-term ln bit-identity, the same
    documented empirical contract op-ext-bm25 already rides (PSI/JSD
    caveat).

    SCALE: Q is pinned at 100, so the lexical side is a Q-bounded
    inverted-index probe (query terms joined against the vocab-keyed
    postings/tf table — sparse on a Zipf vocabulary, worst-case
    O(Q·C) on this deliberately tiny synthetic vocab) and the dense
    side is the standard probed-cell scan; the fusion itself touches
    2·20 rank rows per query. Both ranking frames shuffle on their
    natural keys (token, cluster); only fixed-size frames (1-row
    stats, Q-row sample) carry broadcast hints — the vocab-sized idf
    and corpus-sized dl joins are unhinted so AQE picks the strategy
    (r13 verdict #1, plan-pinned). A
    stop-term guard (df·10 ≤ n_docs·9, integer-exact both engines)
    drops >90%-df terms whose idf ≈ 0 but whose postings are
    O(corpus) — a no-op at tested SFs (max df ratio 0.83) and the
    standard bound a production lexical index applies; measured
    two-decade probe stays linear (6.0→26.6→244.5 s across
    sf0.1→sf1→sf10, BASELINE.md r13)."""
    return _fused_top10(hybrid_fused_frame(spark, sf_dir))


def hybrid_fused_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hybrid RRF pipeline up to the fused scores —
    ``(query_id, neighbor_id, rrf_micro)`` before any top-k cut.
    Frame-parameterized body shared by op-ext-hybrid-fusion (top-10
    ranking) and op-ext-fusion-gain (exact MRR/NDCG evaluation in
    registry_advanced), mirroring the shared ``_hybrid_fused_ctes``
    oracle chain so engine and oracle cannot drift independently."""
    emb = t(spark, sf_dir, "embeddings")
    queries = audit_sample(emb)
    # --- dense leg: IVF candidates -> exact integer cosine -> top-20
    # Cell count is the COST-BALANCED k* of operators/ivf.auto_n_clusters
    # (r13 verdict #2 — no more hard-coded 16; the oracle derives the same
    # k in SQL via IVF_KK_EXPR). Measured note: at the pinned Q=100 audit
    # sample the balanced optimum floors at 16 for EVERY corpus size
    # (k* ≈ sqrt(Q·n_probe/R) = sqrt(133) ≈ 11.5 < floor for n ≫ Q, and
    # 11–12 at all tested SFs), so values are provably unchanged — the
    # constant was accidentally optimal for a build+query batch. The
    # sizing now tracks the data: a 5000-query batch at sf10 sizes k*=81
    # (the op-ext-ann-ivf-scaled precedent, 35.6 s vs 100.6 s).
    n_vec = emb.count()
    k_cells = iv.auto_n_clusters(n_vec, min(100, n_vec), n_probe=4)
    index = iv.build_ivf_index(emb, "vec_id", "embedding", k_cells)
    dense20 = _rrf_contrib(
        iv.probed_cell_scan(emb, queries, index, n_probe=4), "cos DESC"
    )
    # --- lexical leg: BM25 doc ranking from the inverted tf table
    tf, dl, stats, idf = bm25_build(docs_t(spark, sf_dir), guarded=True)
    qt = (
        tf.join(F.broadcast(queries.selectExpr("vec_id AS doc_id")), "doc_id")
        .selectExpr("doc_id AS query_id", "tok")
        .distinct()
    )
    lterm = (
        qt.join(tf.withColumnRenamed("doc_id", "neighbor_id"), "tok")
        .filter("neighbor_id <> query_id")
        # idf (vocab-sized) and dl (corpus-sized) deliberately unhinted —
        # see bm25_build (r13 verdict #1); only fixed-size frames (1-row
        # stats, Q-row query sample) carry broadcast hints.
        .join(idf, "tok")
        .join(dl.withColumnRenamed("doc_id", "neighbor_id"), "neighbor_id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .selectExpr("query_id", "neighbor_id", f"{BM25_MICRO_SQL} AS mu")
    )
    lexscore = lterm.groupBy("query_id", "neighbor_id").agg(
        F.expr("CAST(sum(mu) AS BIGINT) AS bm25_micro")
    )
    # --- RRF fusion: exact integer micro-contributions
    return _rrf_fused(dense20, _rrf_contrib(lexscore, "bm25_micro DESC"))


# --------------------------------------------------------------------------
# block-max / MaxScore BM25 pruning (r13 verdict #4): impact-ordered
# postings pruning for the lexical top-k — provably lossless, so the
# ranking oracle is the existing UNPRUNED top-k
# --------------------------------------------------------------------------

_BM25_TOPK = 10

#: The unpruned lexical-ranking CTE chain over the doc-keyed 100-query
#: md5 audit sample — shared by the op-ext-bm25-blockmax ranking oracle
#: (which, by the losslessness proof in the op docstring, needs NO prune
#: replay at all) and the op-ext-bm25-blockmax-audit prune replay.
_BM25_LEX_CTES = f"""
    WITH tf AS (
      SELECT doc_id, t.tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, {_TOKS} AS tk FROM documents) d,
           unnest(d.tk) AS t(tok)
      GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS dl FROM documents),
    stats AS (
      SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             COUNT(*) AS n_docs
      FROM dl
    ),
    idf AS (
      SELECT tok, ln(1.0 + (s.n_docs - COUNT(*) + 0.5) / (COUNT(*) + 0.5))
                  AS idf
      FROM tf CROSS JOIN stats s
      GROUP BY tok, s.n_docs
      HAVING COUNT(*) * 10 <= s.n_docs * 9
    ),
    qsample AS (
      SELECT doc_id FROM documents
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 100
    ),
    qt AS (
      SELECT DISTINCT doc_id AS query_id, tok
      FROM tf WHERE doc_id IN (SELECT doc_id FROM qsample)
    ),
    postings AS (
      SELECT tf.tok, tf.doc_id,
             CAST(round(round(idf.idf * (tf.tf * 2.5)
                   / (tf.tf + 1.5 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)),
                   6) * 1000000, 0) AS BIGINT) AS mu
      FROM tf JOIN idf USING (tok) JOIN dl USING (doc_id)
      CROSS JOIN stats s
    ),
    lexscore AS (
      SELECT q.query_id, p.doc_id AS neighbor_id,
             CAST(SUM(p.mu) AS BIGINT) AS bm25_micro
      FROM qt q
      JOIN postings p ON p.tok = q.tok AND p.doc_id <> q.query_id
      GROUP BY 1, 2
    )"""


def _blockmax_frames(
    spark: SparkSession, sf_dir: str, zipf_skew: bool = False
) -> dict:
    """Shared build for the block-max BM25 pair: the fixed-point impact
    postings, the MaxScore term split, and the pruned candidate/scoring
    frames. Engine twin of the _BM25_LEX_CTES + audit-oracle chain.
    ``zipf_skew`` is bm25_build's Zipf posting projection (the
    win-regime measurement knob, numbers in BASELINE.md round 14)."""
    from data_warehousing_assignment_spark.caching import pin

    docs = docs_t(spark, sf_dir)
    tf, dl, stats, idf = bm25_build(docs, guarded=True, zipf_skew=zipf_skew)
    # Query-INDEPENDENT per-(doc, token) impact in exact µ-units — the
    # quantity an impact-ordered index stores. Same double-round
    # fixed-point as the hybrid lexical leg; idf/dl joins unhinted
    # (verdict #1 discipline), stats 1-row broadcast only.
    postings = pin(
        tf.join(idf, "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .selectExpr("tok", "doc_id", f"{BM25_MICRO_SQL} AS mu")
    )
    # per-term max impact: the block-max upper bound (vocab-sized agg)
    ub = postings.groupBy("tok").agg(F.expr("max(mu) AS ub"))
    qdocs = pin(
        docs.select("doc_id")
        .orderBy(F.expr("md5(CAST(doc_id AS STRING))"), "doc_id")
        .limit(100)
    )
    qt = pin(
        tf.join(F.broadcast(qdocs), "doc_id")
        .selectExpr("doc_id AS query_id", "tok")
        .distinct()
    )
    qterms = qt.join(ub, "tok")
    # Phase 1 — a valid LOWER BOUND on each query's true k-th best score:
    # take the k docs with the largest single-term impact in the top-UB
    # term's postings and compute their FULL scores; θ_q = the minimum of
    # those k full scores. Exactly k documents then provably score ≥ θ_q,
    # so the true k-th best ≥ θ_q. (The earlier single-term-partial bound
    # was valid too but far looser — measured 5.8% postings reduction vs
    # this bound's, BASELINE.md r14.) Fewer than k pool docs ⇒ no θ ⇒
    # nothing pruned.
    t1 = _top_per_query(qterms, "ub DESC, tok", 1, "_r").select("query_id", "tok")
    pool = _top_per_query(
        t1.join(postings, "tok").filter("doc_id <> query_id"),
        "mu DESC, doc_id",
        _BM25_TOPK,
        "_k",
    ).selectExpr("query_id", "doc_id AS neighbor_id")
    poolscore = (
        pool.join(qt, "query_id")
        .join(
            postings.withColumnRenamed("doc_id", "neighbor_id"),
            ["tok", "neighbor_id"],
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.expr("CAST(sum(mu) AS BIGINT) AS fsc"))
    )
    theta = (
        poolscore.groupBy("query_id")
        .agg(F.expr("min(fsc) AS theta"), F.expr("count(1) AS _np"))
        .filter(f"_np = {_BM25_TOPK}")
        .select("query_id", "theta")
    )
    # MaxScore split: ascending-UB running sum; a term whose cumulative
    # UB stays STRICTLY below θ is non-essential (a doc matching only
    # such terms scores ≤ that cum < θ ≤ true k-th best — strictly below,
    # so no tie-break can resurrect it). The max-UB term is always kept.
    ess = (
        qterms.join(F.broadcast(theta), "query_id", "left")
        .selectExpr(
            "*",
            "sum(ub) OVER (PARTITION BY query_id ORDER BY ub, tok"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cum",
            "row_number() OVER (PARTITION BY query_id ORDER BY ub, tok) AS _rn",
            "count(1) OVER (PARTITION BY query_id) AS _n",
        )
        .filter("theta IS NULL OR _cum >= theta OR _rn = _n")
        .select("query_id", "tok")
    )
    cand = (
        ess.join(postings, "tok")
        .filter("doc_id <> query_id")
        .selectExpr("query_id", "doc_id AS neighbor_id")
        .distinct()
    )
    # Exact scoring of the surviving candidates: the (tok, doc)-keyed
    # postings stream SEMI-joined to the candidate set, then summed.
    # The lookup-join form (cand × query-terms → postings probe) is the
    # classic index shape, but it materializes |cand|·|terms/query|
    # rows through a Q-keyed join — 4.5G rows at sf10 on this dense
    # corpus where candidates ≈ all docs. The semi form streams the
    # naive per-pair volume once with a bounded candidate hash — the
    # shape that survives 100× (r14; the candidate-GENERATION skip
    # above is unchanged and is where the WAND win lives).
    scored = (
        qt.join(postings.withColumnRenamed("doc_id", "neighbor_id"), "tok")
        .filter("neighbor_id <> query_id")
        .join(cand, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id", "neighbor_id")
        .agg(F.expr("CAST(sum(mu) AS BIGINT) AS bm25_micro"))
    )
    return {"postings": postings, "qt": qt, "ess": ess, "cand": cand, "scored": scored}


@query(
    "op-ext-bm25-blockmax",
    oracle=f"""
    {_BM25_LEX_CTES}
    SELECT query_id, neighbor_id, bm25_micro, CAST(rank AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY bm25_micro DESC, neighbor_id) AS rank
          FROM lexscore)
    WHERE rank <= {_BM25_TOPK}
    """,
)
def op_ext_bm25_blockmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{k} document retrieval with WAND-style MaxScore pruning
    over impact-ordered postings (r13 verdict #4 — the production form
    of the stop-term guard's weak df bound). Postings store the
    query-independent fixed-point µ-impact per (doc, token); pruning is
    two-phase: (1) θ_q = the MINIMUM FULL score of the k docs with the
    largest single-term impact in the top-upper-bound term's postings —
    a valid lower bound on the true k-th best score because those are k
    actual documents each scoring ≥ θ_q; (2) MaxScore term split — terms
    whose ascending-UB running sum stays strictly below θ_q are
    non-essential, and only documents matching ≥1 essential term are
    exactly scored. LOSSLESS by construction (a skipped doc scores
    ≤ cum < θ_q ≤ true k-th best, strictly below, so even tie-breaks
    cannot admit it) — which is why the ORACLE is simply the unpruned
    top-k: the gate itself proves prune ≡ no-prune on real data.
    Measured reduction pinned in tests/test_rank_fusion.py and logged
    per-SF in BASELINE.md via op-ext-bm25-blockmax-audit. SCALE: ub is
    a vocab-keyed agg; the θ probe touches one postings list per query;
    candidate generation drops every non-essential postings list —
    exactly the skip an impact-ordered index performs, expressed
    relationally. All arithmetic integer-exact cross-engine."""
    return _top_per_query(
        _blockmax_frames(spark, sf_dir)["scored"],
        "bm25_micro DESC, neighbor_id",
        _BM25_TOPK,
    )


@query(
    "op-ext-bm25-blockmax-audit",
    oracle=f"""
    {_BM25_LEX_CTES},
    ub AS (SELECT tok, MAX(mu) AS ub FROM postings GROUP BY 1),
    qterms AS (SELECT q.query_id, q.tok, u.ub FROM qt q JOIN ub u USING (tok)),
    t1 AS (
      SELECT query_id, tok FROM (
        SELECT query_id, tok,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY ub DESC, tok) AS r
        FROM qterms) WHERE r = 1
    ),
    pool AS (
      SELECT query_id, doc_id AS neighbor_id FROM (
        SELECT t.query_id, p.doc_id,
               ROW_NUMBER() OVER (PARTITION BY t.query_id
                   ORDER BY p.mu DESC, p.doc_id) AS r
        FROM t1 t JOIN postings p ON p.tok = t.tok AND p.doc_id <> t.query_id)
      WHERE r <= {_BM25_TOPK}
    ),
    poolscore AS (
      SELECT pl.query_id, pl.neighbor_id, CAST(SUM(p.mu) AS BIGINT) AS fsc
      FROM pool pl
      JOIN qt q ON q.query_id = pl.query_id
      JOIN postings p ON p.tok = q.tok AND p.doc_id = pl.neighbor_id
      GROUP BY 1, 2
    ),
    theta AS (
      SELECT query_id, MIN(fsc) AS theta
      FROM poolscore GROUP BY 1 HAVING COUNT(*) = {_BM25_TOPK}
    ),
    ess AS (
      SELECT query_id, tok FROM (
        SELECT q.query_id, q.tok, th.theta,
               SUM(q.ub) OVER (PARTITION BY q.query_id ORDER BY q.ub, q.tok
                               ROWS UNBOUNDED PRECEDING) AS cum,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                   ORDER BY q.ub, q.tok) AS rn,
               COUNT(*) OVER (PARTITION BY q.query_id) AS n
        FROM qterms q LEFT JOIN theta th USING (query_id))
      WHERE theta IS NULL OR cum >= theta OR rn = n
    ),
    cand AS (
      SELECT DISTINCT e.query_id, p.doc_id AS neighbor_id
      FROM ess e JOIN postings p ON p.tok = e.tok AND p.doc_id <> e.query_id
    ),
    dfc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
            FROM postings GROUP BY 1)
    SELECT
      (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) FROM qt) AS n_queries,
      -- algebraic form of COUNT(qt ⋈ postings excluding self): each
      -- query term tok contributes df(tok) − 1 rows (the query doc
      -- itself contains tok by qt construction), so the count is a
      -- vocab-sized join — streaming 890M pair rows at sf10 just to
      -- count them was half the temp blowup (r14)
      (SELECT CAST(SUM(d.df - 1) AS BIGINT) FROM qt q
       JOIN dfc d ON d.tok = q.tok) AS unpruned_rows,
      (SELECT CAST(SUM(d.df - 1) AS BIGINT) FROM ess e
       JOIN dfc d ON d.tok = e.tok) AS essential_rows,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates
    """,
)
def op_ext_bm25_blockmax_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MEASURED postings-rows-scanned reduction of the block-max
    prune, as a 1-row oracle-backed audit (the oracle replays θ, the
    MaxScore split, and the candidate set in SQL — so the prune LOGIC
    itself is cross-engine pinned, not just its lossless output):
    unpruned_rows = postings rows the naive scorer touches;
    essential_rows = candidate-generation rows after dropping
    non-essential terms (the θ probe is a subset — the top-UB term is
    always essential); n_candidates = the surviving (query, doc) pairs.
    The exact-scoring row count is not surfaced: its only lossless SQL
    formulation semi-joins a ~900M-row postings stream against the
    43M-pair candidate set at sf10, which DuckDB insists on spilling
    past the harness disk (576 s → disk-full, measured r14) — the prune
    replay itself is what the oracle pins. Per-SF numbers in BASELINE.md
    round 14.

    Both row counters are algebraic (r14): each query term contributes
    df(tok) − 1 pair rows (the query doc itself contains tok by qt
    construction), so they are vocab-sized joins — materializing the
    890M pair rows at sf10 just to count them was half the temp
    blowup."""
    frames = _blockmax_frames(spark, sf_dir)
    qt = frames["qt"]
    dfc = frames["postings"].groupBy("tok").agg(
        F.expr("CAST(count(1) AS BIGINT) AS df")
    )
    return (
        qt.selectExpr("CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries")
        .crossJoin(
            qt.join(dfc, "tok").selectExpr(
                "CAST(sum(df - 1) AS BIGINT) AS unpruned_rows"
            )
        )
        .crossJoin(
            frames["ess"].join(dfc, "tok").selectExpr(
                "CAST(sum(df - 1) AS BIGINT) AS essential_rows"
            )
        )
        .crossJoin(
            frames["cand"].selectExpr("CAST(count(1) AS BIGINT) AS n_candidates")
        )
    )


# --------------------------------------------------------------------------
# filtered vector search (r13 verdict #5): ANN top-k under a metadata
# predicate — filter-aware candidate generation vs post-filtering, both
# oracle-exact, plus the recall comparison against the brute-force
# FILTERED ground truth on the fixed 100-query audit sample
# --------------------------------------------------------------------------

_FILT_TOPK = 5
_FILT_NPROBE = 8

#: Exact-scoring SQL tail over a filtered candidate CTE ``fcand``.
_FILT_SCORE_TAIL = """
    nrms AS (
      SELECT emb.vec_id, CAST(SUM(v[idx.i] * v[idx.i]) AS BIGINT) AS nrm
      FROM emb, idx GROUP BY 1
    ),
    fdots AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(SUM(q.v[idx.i] * n.v[idx.i]) AS BIGINT) AS dot
      FROM fcand c
      JOIN emb q ON q.vec_id = c.query_id
      JOIN emb n ON n.vec_id = c.neighbor_id, idx
      GROUP BY 1, 2
    ),
    fscored AS (
      SELECT d.query_id, d.neighbor_id,
             CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(nq.nrm AS DOUBLE))
                  * sqrt(CAST(nc.nrm AS DOUBLE))) AS score
      FROM fdots d
      JOIN nrms nq ON d.query_id = nq.vec_id
      JOIN nrms nc ON d.neighbor_id = nc.vec_id
    )"""


def _filt_ctx(spark: SparkSession, sf_dir: str) -> tuple:
    """(emb, pinned audit sample, built 16-cell index) — built ONCE and
    passed into both strategy legs by the recall op, so the comparison
    never pays a redundant k-means build (r14 self-review;
    ivf_cosine_topk's index= parameter exists for this)."""
    emb = t(spark, sf_dir, "embeddings")
    queries = audit_sample(emb)
    index = iv.build_ivf_index(emb, "vec_id", "embedding", 16)
    return emb, queries, index


def _filtered_aware_top(
    spark: SparkSession, sf_dir: str, ctx: tuple | None = None
) -> DataFrame:
    """Filter-AWARE IVF top-k: the label predicate is an EQUI-KEY of the
    probed-cell join, not a post-scoring filter — candidate volume
    divides by the predicate's selectivity before any scoring happens
    (at 100 TB with a label-bucketed layout this is the partition-pruned
    scan)."""
    emb, queries, index = ctx or _filt_ctx(spark, sf_dir)
    scored = iv.probed_cell_scan(
        emb, queries, index, n_probe=_FILT_NPROBE, keys=("label",)
    ).selectExpr("query_id", "neighbor_id", "cos AS score")
    return _top_per_query(scored, "score DESC, neighbor_id", _FILT_TOPK).select(
        "query_id", "neighbor_id", "rank", "score"
    )


@query(
    "op-ext-ann-filtered",
    oracle=f"""
    {_ivf_cand_ctes(_FILT_C0_SQL, n_probe=_FILT_NPROBE,
                    query_where=_QSAMPLE_WHERE)},
    lab AS (SELECT vec_id, label FROM embeddings),
    fcand AS (
      SELECT c.query_id, c.neighbor_id
      FROM cand c
      JOIN lab lq ON lq.vec_id = c.query_id
      JOIN lab ln ON ln.vec_id = c.neighbor_id
      WHERE ln.label = lq.label
    ),
    {_FILT_SCORE_TAIL}
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY score DESC, neighbor_id) AS rank
          FROM fscored)
    WHERE rank <= {_FILT_TOPK}
    """,
)
def op_ext_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search, filter-aware form (r13 verdict #5) — the
    production retrieval shape after hybrid fusion: ANN top-5 under a
    metadata predicate (neighbor shares the query's label), with the
    predicate pushed INTO candidate generation as an equi-key of the
    probed-cell join rather than applied after scoring. Same shipped
    16-cell / 8-probe cut and md5 audit sample as
    op-ext-ann-recall-sampled, so its recall is directly comparable.
    Candidate volume is selectivity·|probed cells| — the post-filter
    twin (op-ext-ann-postfilter) scores ~10× more rows at this 10%
    predicate and can still return < k survivors. Exactness: integer
    dot/norms, one proven-stable IEEE divide, ties by neighbor_id;
    the oracle replays index build, probing, the label equi-predicate,
    and scoring verbatim. Recall vs the brute-force FILTERED ground
    truth is oracle-checked by op-ext-ann-filtered-recall;
    recall-vs-selectivity sweep in BASELINE.md round 14."""
    return _filtered_aware_top(spark, sf_dir)


def _postfilter_top(
    spark: SparkSession, sf_dir: str, ctx: tuple | None = None
) -> DataFrame:
    """Unfiltered IVF top-20 → label predicate → top-5 re-rank. Shared
    by op-ext-ann-postfilter and the recall comparison."""
    emb, queries, index = ctx or _filt_ctx(spark, sf_dir)
    top20 = iv.ivf_cosine_topk(
        emb, queries, k=20, n_probe=_FILT_NPROBE, index=index
    ).select("query_id", "neighbor_id", "score")
    qlab = queries.selectExpr("vec_id AS query_id", "label AS _ql")
    # corpus-sized label frame UNHINTED; the Q-bounded top frame carries
    # the hint (same discipline as _retrieval_metrics_over, verdict #7)
    nlab = emb.selectExpr("vec_id AS neighbor_id", "label AS _nl")
    kept = (
        F.broadcast(top20.join(F.broadcast(qlab), "query_id"))
        .join(nlab, "neighbor_id")
        .filter("_nl = _ql")
    )
    return _top_per_query(kept, "score DESC, neighbor_id", _FILT_TOPK).select(
        "query_id", "neighbor_id", "rank", "score"
    )


@query(
    "op-ext-ann-postfilter",
    oracle=f"""
    {_ivf_cand_ctes(_FILT_C0_SQL, n_probe=_FILT_NPROBE,
                    query_where=_QSAMPLE_WHERE)},
    nrms AS (
      SELECT emb.vec_id, CAST(SUM(v[idx.i] * v[idx.i]) AS BIGINT) AS nrm
      FROM emb, idx GROUP BY 1
    ),
    dots AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(SUM(q.v[idx.i] * n.v[idx.i]) AS BIGINT) AS dot
      FROM cand c
      JOIN emb q ON q.vec_id = c.query_id
      JOIN emb n ON n.vec_id = c.neighbor_id, idx
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.query_id, d.neighbor_id,
             CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(nq.nrm AS DOUBLE))
                  * sqrt(CAST(nc.nrm AS DOUBLE))) AS score
      FROM dots d
      JOIN nrms nq ON d.query_id = nq.vec_id
      JOIN nrms nc ON d.neighbor_id = nc.vec_id
    ),
    top20 AS (
      SELECT query_id, neighbor_id, score FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY score DESC, neighbor_id) AS r
        FROM scored)
      WHERE r <= 20
    ),
    lab AS (SELECT vec_id, label FROM embeddings)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
    FROM (SELECT t.query_id, t.neighbor_id, t.score,
                 ROW_NUMBER() OVER (PARTITION BY t.query_id
                     ORDER BY t.score DESC, t.neighbor_id) AS rank
          FROM top20 t
          JOIN lab lq ON lq.vec_id = t.query_id
          JOIN lab ln ON ln.vec_id = t.neighbor_id
          WHERE ln.label = lq.label)
    WHERE rank <= {_FILT_TOPK}
    """,
)
def op_ext_ann_postfilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The POST-FILTERING control for op-ext-ann-filtered: unfiltered
    IVF top-20 (same 16-cell/8-probe cut), THEN the label predicate,
    then the top-5 cut. This is what a retrieval stack does when its
    vector index can't push predicates — it wastes candidate budget on
    rows the filter discards (at 10% selectivity, ~90% of the scored
    top-20) and can return FEWER than k survivors where the filter-aware
    form fills its k from in-predicate cells. The measured recall gap vs
    the shared brute-force filtered ground truth is the number that
    justifies filter-aware candidate generation (BASELINE.md r14;
    per-query oracle-checked by op-ext-ann-filtered-recall). Oracle
    replays the unfiltered ranking, the filter, and the re-rank."""
    return _postfilter_top(spark, sf_dir)


@query(
    "op-ext-ann-filtered-recall",
    oracle=f"""
    {_ivf_cand_ctes(_FILT_C0_SQL, n_probe=_FILT_NPROBE,
                    query_where=_QSAMPLE_WHERE)},
    lab AS (SELECT vec_id, label FROM embeddings),
    nrms AS (
      SELECT emb.vec_id, CAST(SUM(v[idx.i] * v[idx.i]) AS BIGINT) AS nrm
      FROM emb, idx GROUP BY 1
    ),
    udots AS (
      -- row-local exact dot (r14): quantized coords are < 2^21, so
      -- every partial sum of the 64-term product stays < 2^53 and
      -- list_dot_product's double is EXACT — value-identical to the
      -- unnest-SUM idiom without the ×64 row explosion whose grouped
      -- aggregation spill blew the sf10 temp headroom
      SELECT c.query_id, c.neighbor_id,
             CAST(list_dot_product(q.v, n.v) AS BIGINT) AS dot
      FROM cand c
      JOIN emb q ON q.vec_id = c.query_id
      JOIN emb n ON n.vec_id = c.neighbor_id
    ),
    uscored AS (
      SELECT d.query_id, d.neighbor_id,
             CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(nq.nrm AS DOUBLE))
                  * sqrt(CAST(nc.nrm AS DOUBLE))) AS score
      FROM udots d
      JOIN nrms nq ON d.query_id = nq.vec_id
      JOIN nrms nc ON d.neighbor_id = nc.vec_id
    ),
    aware5 AS (
      -- the filter-aware candidate set is cand ∩ label-equality, and a
      -- pair's score is pair-local — so the aware ranking is the
      -- label-filtered slice of the ONE scored frame. Scoring once
      -- (instead of a separate fdots pass over fcand) halved the
      -- DuckDB spill that blew the disk at sf10 (r14).
      SELECT query_id, neighbor_id FROM (
        SELECT u.query_id, u.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY u.query_id
                   ORDER BY u.score DESC, u.neighbor_id) AS r
        FROM uscored u
        JOIN lab lq ON lq.vec_id = u.query_id
        JOIN lab ln ON ln.vec_id = u.neighbor_id
        WHERE ln.label = lq.label) WHERE r <= {_FILT_TOPK}
    ),
    post5 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT t.query_id, t.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY t.query_id
                   ORDER BY t.score DESC, t.neighbor_id) AS rank
        FROM (SELECT query_id, neighbor_id, score FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY score DESC, neighbor_id) AS r
                FROM uscored) WHERE r <= 20) t
        JOIN lab lq ON lq.vec_id = t.query_id
        JOIN lab ln ON ln.vec_id = t.neighbor_id
        WHERE ln.label = lq.label)
      WHERE rank <= {_FILT_TOPK}
    ),
    qset AS (
      -- materialize the 100-row query set BEFORE the label join: with
      -- the filter written as WHERE q.vec_id IN qsample, DuckDB planned
      -- the 10-value label equi-join first (500k × same-label ≈ 25G
      -- pairs) and filled the temp disk; qset-first runs in 2.6 s at
      -- sf10 (r14)
      SELECT l.vec_id, l.label FROM lab l
      JOIN qsample s ON s.vec_id = l.vec_id
    ),
    bdots AS (
      -- same row-local exact dot as udots (see note there)
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             CAST(list_dot_product(qe.v, ne.v) AS BIGINT) AS dot
      FROM qset q
      JOIN lab n ON n.label = q.label AND n.vec_id <> q.vec_id
      JOIN emb qe ON qe.vec_id = q.vec_id
      JOIN emb ne ON ne.vec_id = n.vec_id
    ),
    bscored AS (
      SELECT d.query_id, d.neighbor_id,
             CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(nq.nrm AS DOUBLE))
                  * sqrt(CAST(nc.nrm AS DOUBLE))) AS score
      FROM bdots d
      JOIN nrms nq ON d.query_id = nq.vec_id
      JOIN nrms nc ON d.neighbor_id = nc.vec_id
    ),
    truth5 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY score DESC, neighbor_id) AS rank
        FROM bscored)
      WHERE rank <= {_FILT_TOPK}
    )
    SELECT t.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits_aware,
           CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_hits_post,
           CAST((1000000 * COUNT(a.neighbor_id)) // COUNT(*) AS BIGINT)
             AS recall_aware_ppm,
           CAST((1000000 * COUNT(p.neighbor_id)) // COUNT(*) AS BIGINT)
             AS recall_post_ppm
    FROM truth5 t
    LEFT JOIN aware5 a ON a.query_id = t.query_id
                      AND a.neighbor_id = t.neighbor_id
    LEFT JOIN post5 p ON p.query_id = t.query_id
                     AND p.neighbor_id = t.neighbor_id
    GROUP BY 1
    """,
)
def op_ext_ann_filtered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of BOTH filtered-search strategies against the
    brute-force FILTERED ground truth (exact cosine top-5 among
    same-label neighbors) on the fixed 100-query audit sample — the
    monitor that tells an operator whether predicate pushdown or
    post-filtering is losing recall at their selectivity. n_truth can be
    < 5 when a label class is small, so recall divides by the actual
    truth-set size. SCALE: the ground-truth pair join is label-keyed —
    O(Q · C/|labels|) rows, a 10× reduction on the already-linear
    recall-sampled contract; both strategy legs ride the documented
    probed-cell shapes. All counts integer-exact."""
    return _filtered_truth_hits(spark, sf_dir).selectExpr(
        "query_id",
        "n_truth",
        "n_hits_aware",
        "n_hits_post",
        "(1000000 * n_hits_aware) div n_truth AS recall_aware_ppm",
        "(1000000 * n_hits_post) div n_truth AS recall_post_ppm",
    )


def _filtered_truth_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query (n_truth, n_hits_aware, n_hits_post) of both filtered-
    search strategies vs the brute-force filtered ground truth. The
    index and sample are built once and fed to both strategy legs; the
    ground truth scores every same-label pair with the probed-cell
    scan's own cosine (iv.cosine_pairs on the label key alone)."""
    ctx = _filt_ctx(spark, sf_dir)
    emb, queries, _ = ctx
    aware5 = _filtered_aware_top(spark, sf_dir, ctx).selectExpr(
        "query_id AS _qa", "neighbor_id AS _na"
    )
    post5 = _postfilter_top(spark, sf_dir, ctx).selectExpr(
        "query_id AS _qp", "neighbor_id AS _np"
    )
    truth = iv.cosine_pairs(
        iv.quantized_rows(emb, "neighbor_id", "cv", "_nc", ["label"]),
        iv.quantized_rows(queries, "query_id", "qvec", "_nq", ["label"]),
        ["label"],
    )
    truth5 = _top_per_query(truth, "cos DESC, neighbor_id", _FILT_TOPK)
    return (
        truth5.join(aware5, F.expr("query_id = _qa AND neighbor_id = _na"), "left")
        .join(post5, F.expr("query_id = _qp AND neighbor_id = _np"), "left")
        .groupBy("query_id")
        .agg(
            F.expr("CAST(count(1) AS BIGINT) AS n_truth"),
            F.expr("CAST(count(_na) AS BIGINT) AS n_hits_aware"),
            F.expr("CAST(count(_np) AS BIGINT) AS n_hits_post"),
        )
    )
