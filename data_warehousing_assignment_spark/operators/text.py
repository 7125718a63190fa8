"""Text-analysis operators for large-scale training-data pipelines
(extension surface, SURVEY.md §7.5 — no reference counterpart).

Everything here is a row-local Column expression over built-in array /
string functions: zero shuffles, fully inside whole-stage codegen, and
embarrassingly parallel at 100 TB — the cost is one columnar scan of the
documents table regardless of cluster size. No Python UDFs anywhere.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.functions import exact as ex
from data_warehousing_assignment_spark.functions.cleaning import sql_str

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small and hard-coded: the heuristic must be
# reproducible in the DuckDB oracle, and real deployments would swap in
# fastText/CLD3 behind the same column contract.
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans", "pour"),
    "es": ("el", "la", "los", "las", "y", "es", "un", "una", "para", "que"),
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization, lower-cased — the split every operator
    below shares. split on \\s+ keeps multi-space text clean."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(F.trim(c)), r"\s+")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> — row-local via
    transform(sequence(...)), no explode needed. Multiset (not dedup'd):
    every consumer below is order/multiplicity-insensitive (min-hash,
    set-intersect).

    ``toks`` is bound ONCE via a 1-element-array transform (a "let"
    binding — r15, guide §1.2 per-task work): the shingle body
    references the token array 3 times at top level and once per
    SHINGLE inside the transform lambda, and codegen does not share a
    non-trivial child expression across those references — with the
    usual ``tokens(col)`` argument the regex split re-ran once per
    gram (measured 21 µs/gram at the 100× synthesis; 10 µs/gram with
    the binding — decontaminate's whole map side halved). Binding the
    evaluated array to a lambda variable makes every inner reference a
    variable read; same expression semantics, bit-identical output."""
    def _body(tk: Column) -> Column:
        # sequence(0, size-n) → one start index per shingle; slice is 1-based
        return F.when(F.size(tk) >= n, F.transform(
            F.sequence(F.lit(0), F.size(tk) - n),
            lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)),
        )).otherwise(F.array(F.concat_ws(" ", tk)))

    return F.element_at(F.transform(F.array(toks), _body), 1)


def stopword_hits(toks: Column, lang: str) -> Column:
    """# tokens that are stopwords of `lang` (multiplicity counts)."""
    return F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS[lang])))


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: argmax of per-language stopword hit counts,
    'und' (undetermined) when no list scores a hit. Ties resolve in the
    fixed order en > de > fr > es so the label is deterministic."""
    tk = tokens(col)
    scores = {lang: stopword_hits(tk, lang) for lang in STOPWORDS}
    # Wrap back-to-front (es innermost … en outermost) so the en arm is
    # evaluated first and >= comparisons give earlier langs tie priority.
    out = F.lit("und")
    for lang in reversed(list(STOPWORDS)):
        cond = scores[lang] > 0
        for o in STOPWORDS:
            if o != lang:
                cond = cond & (scores[lang] >= scores[o])
        out = F.when(cond, F.lit(lang)).otherwise(out)
    return out


def punct_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c) - F.length(F.regexp_replace(c, r"[.,!?;:]", ""))


def digit_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c) - F.length(F.regexp_replace(c, r"[0-9]", ""))


def quality_features(col: Column | str) -> dict[str, Column]:
    """Quality-scoring features: length, token stats, punctuation/digit/
    stopword ratios. All integer counts + one final IEEE division each —
    deterministic across engines."""
    c = F.col(col) if isinstance(col, str) else col
    tk = tokens(c)
    n_chars = F.length(c)
    n_tok = F.size(tk)
    sum_tok_len = F.aggregate(
        F.transform(tk, F.length), F.lit(0).cast("bigint"), lambda a, x: a + x
    )
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_tokens": n_tok.cast("bigint"),
        "avg_token_len": (sum_tok_len.cast("double") / n_tok.cast("double")),
        "punct_ratio": (punct_count(c).cast("double") / n_chars.cast("double")),
        "digit_ratio": (digit_count(c).cast("double") / n_chars.cast("double")),
        "stopword_ratio": (
            stopword_hits(tk, "en").cast("double") / n_tok.cast("double")
        ),
    }


def quality_score(col: Column | str) -> Column:
    """Composite [0,1]-ish quality score: rewards stopword density and
    moderate token length, penalizes punctuation/digit noise. Fixed
    weights so the score is a pure deterministic expression."""
    f = quality_features(col)
    return (
        F.lit(0.4) * F.least(f["stopword_ratio"] * 4.0, F.lit(1.0))
        + F.lit(0.3) * F.least(f["n_tokens"].cast("double") / 100.0, F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - F.least(f["punct_ratio"] * 10.0, F.lit(1.0)))
        + F.lit(0.1) * (F.lit(1.0) - F.least(f["digit_ratio"] * 10.0, F.lit(1.0)))
    )


#: GPT-2-style pre-tokenizer shape: optional leading space + a run of
#: letters, digits, or other non-space symbols. Compatible across Java
#: regex (Spark) and RE2 (DuckDB) — no lookarounds, no backrefs.
BPE_TOKEN_RE = r" ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+"


def bpe_tokens(col: Column | str) -> Column:
    """BPE-ish sub-word pre-tokenization (the split a BPE tokenizer would
    merge from): regexp_extract_all with :data:`BPE_TOKEN_RE` over the
    lower-cased text. Row-local; the usual LLM-pipeline "token budget"
    estimator when the real tokenizer is too expensive to ship."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(BPE_TOKEN_RE), F.lit(0))


def bpe_token_count(col: Column | str) -> Column:
    """# BPE-ish tokens (see :func:`bpe_tokens`)."""
    return F.size(bpe_tokens(col))


ROLL_K = 16
ROLL_BASE = 257
ROLL_MOD = (1 << 31) - 1


def rolling_hash_fingerprint(col: Column | str) -> Column:
    """Rabin-Karp-style document fingerprint: polynomial hash
    (base 257 mod 2³¹−1) of every ``ROLL_K``-char window of the
    lower-cased text, minimized over windows — near-identical documents
    (differing in a suffix/prefix) still collide on their shared
    windows' minimum: the min of :func:`winnow_hashes`.

    Expressed as nested array folds (O(len·k) integer ops per row,
    row-local, JVM-side). Texts shorter than k hash their full length."""
    return F.array_min(winnow_hashes(col))


WINNOW_W = 4


def winnow_hashes(col: Column | str) -> Column:
    """All k-gram (k = ``ROLL_K``) rolling hashes of the lower-cased
    text, in position order (``array<bigint>``, one per window start)
    — stage 1 of winnowing, and the windows
    :func:`rolling_hash_fingerprint` minimizes over (base 257 mod
    2³¹−1), O(len·k) row-local integer ops. Texts shorter than k yield
    one full-length hash.

    MATERIALIZE this column (``.select(... .alias("hs"))``) before
    passing it to :func:`winnow_select`: embedding this subtree inside
    the selection lambda makes Catalyst re-evaluate the whole O(len·k)
    build once per window position — O(len²·k), measured 237 s vs
    <1 s at sf0.01."""
    k = ROLL_K
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    n = F.length(c)
    starts = F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1)))

    def win_hash(i: Column) -> Column:
        positions = F.sequence(i, F.least(i + F.lit(k - 1), n))
        return F.aggregate(
            positions,
            F.lit(0).cast("bigint"),
            # Column.substr accepts Column positions (F.substring doesn't)
            lambda acc, p: (acc * ROLL_BASE + F.ascii(c.substr(p, F.lit(1))))
            % ROLL_MOD,
        )

    return F.transform(starts, win_hash)


def winnow_select(hashes: Column | str) -> Column:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): slide a w-wide (w = ``WINNOW_W``)
    window over the position-ordered hash sequence from
    :func:`winnow_hashes`, keep
    each window's MINIMUM, return the DISTINCT selected hashes. The
    guarantee that makes this the standard document-fingerprint
    scheme: any shared substring of length ≥ k + w − 1 yields at least
    one shared selected fingerprint, while only ~2/(w+1) of positions
    are kept — a tunable recall/size trade-off that plain min-hashing
    (keep ONE hash, see :func:`rolling_hash_fingerprint`) doesn't
    offer.

    ``hashes`` must be a materialized column REFERENCE (see the
    :func:`winnow_hashes` warning). Row-local, O(len·w), zero
    shuffle; hash sequences shorter than w collapse to their overall
    min — every doc emits ≥ 1 fingerprint."""
    w = WINNOW_W
    hs = F.col(hashes) if isinstance(hashes, str) else hashes
    nh = F.size(hs)
    sel_starts = F.sequence(F.lit(1), F.greatest(nh - w + 1, F.lit(1)))
    mins = F.transform(sel_starts, lambda j: F.array_min(F.slice(hs, j, w)))
    return F.array_distinct(mins)


def winnow_fps_np(col: Column | str) -> Column:
    """Winnowed fingerprints (= ``winnow_select(winnow_hashes(text))``
    up to element order) as ONE Arrow-batched pandas UDF — the measured
    fast path for the winnow family: the HOF formulation evaluates
    O(len·k) interpreted Catalyst expressions per row (8.3 s of the
    16 s op-ext-winnow-neardup floor at sf0.1); here the k accumulation
    steps are k numpy passes vectorized across ALL window positions of
    a row (C speed, exact same int64 arithmetic: acc·257 + codepoint
    mod 2³¹−1, codepoints via utf-32 so non-ASCII matches ord()/ascii()).
    Returns the distinct selected mins SORTED (np.unique) — every
    consumer (count/min/xor fold, explode→posting join) is
    order-insensitive, pinned equal to the HOF twin in
    tests/test_text_ops.py. Row-local, zero shuffle, same oracle.

    Case-mapping precondition (r10 advice): this twin uses Python
    ``str.lower()`` while the HOF twin uses JVM ``lower()`` — measured
    IDENTICAL on full simple-case Unicode including the classic traps
    (U+0130 İ → i + combining dot, Greek final sigma), pinned by the
    non-ASCII rows in tests/test_text_ops.py::
    test_winnow_np_twin_matches_hof. The DuckDB ORACLE's ``lower()``
    however maps U+0130 → plain 'i' and never emits final sigma, so
    ORACLE equality (not engine self-consistency) holds only for text
    avoiding those two code points — true of the pinned testdata corpus
    (ASCII); any divergence on future corpora surfaces as a test/oracle
    failure, not silent wrong answers."""
    import numpy as np

    k, w = ROLL_K, WINNOW_W
    c = F.col(col) if isinstance(col, str) else col

    @F.pandas_udf("array<long>")
    def _fps(texts: pd.Series) -> pd.Series:
        out = []
        for s in texts:
            if s is None:
                # HOF twin: lower(NULL) → NULL hashes → NULL fps; the
                # old `(s or "")` coercion fabricated fingerprint [0]
                # for NULL text and would have joined all NULL-text
                # docs as near-dup candidates (r10 review)
                out.append(None)
                continue
            codes = np.frombuffer(
                s.lower().encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            n = codes.size
            if n <= k:
                # one truncated full-length window (the HOF's clamp)
                h = np.int64(0)
                for cc in codes:
                    h = (h * ROLL_BASE + cc) % ROLL_MOD
                out.append([int(h)])
                continue
            m = n - k + 1
            h = np.zeros(m, dtype=np.int64)
            for j in range(k):
                h = (h * ROLL_BASE + codes[j : j + m]) % ROLL_MOD
            if m >= w:
                mm = m - w + 1
                mins = h[:mm].copy()
                for j in range(1, w):
                    np.minimum(mins, h[j : j + mm], out=mins)
            else:
                mins = h.min(keepdims=True)
            out.append(np.unique(mins).tolist())
        return pd.Series(out)

    return _fps(c)


def doc_fingerprint(col: Column | str) -> Column:
    """Winnowing-style document fingerprint: the lexicographic-min md5
    over the document's word 3-gram shingles (k=1 min-hash). Identical
    and near-identical documents collide; row-local, no shuffle."""
    sh = word_shingles(tokens(col))
    return F.array_min(F.transform(sh, F.md5))


# -- deterministic hash bucketing (splits / sampling) -----------------------


def bucket_sql(decode, col: str, salt: str) -> str:
    """Bucket 0-255 of :func:`hash_bucket` as SQL text, its two hex digits
    read by ``decode`` (``ex.hex_int``, or ``ex.hex_int_oracle`` in the
    oracles)."""
    return decode(ex.salted_md5(salt, col), 1, 2)


def hash_bucket(col: str, salt: str) -> Column:
    """Deterministic bucket 0-255 from the first two hex nibbles of
    ``md5(salt || value)`` — the content-addressed randomness every
    train/val/test split and downsample below shares. md5-on-string is
    bit-identical across Spark, DuckDB, and Postgres (the same
    cross-engine rule as the dedup hashes, operators/dedup.py), unlike
    engine-native hash()/rand(). Row-local, zero shuffle; membership of
    a row is a pure function of its key, so splits are STABLE across
    reruns, engines, cluster sizes, and data re-partitioning — the
    property a training pipeline needs so that test data never leaks
    into train between runs."""
    return F.expr(bucket_sql(ex.hex_int, col, salt))


#: salt of the train/val/test split and its bucket bounds: 80/10/10
#: of 256 buckets is train below 204, val below 230
SPLIT_SALT = "split:"
SPLIT_TRAIN_HI = 256 * 80 // 100
SPLIT_VAL_HI = 256 * (80 + 10) // 100


def hash_split(col: str) -> Column:
    """'train' / 'val' / 'test' label from :func:`hash_bucket` with
    ``SPLIT_SALT`` — bucket below ``SPLIT_TRAIN_HI`` is train, below
    ``SPLIT_VAL_HI`` val, the rest test."""
    b = hash_bucket(col, SPLIT_SALT)
    return (
        F.when(b < SPLIT_TRAIN_HI, F.lit("train"))
        .when(b < SPLIT_VAL_HI, F.lit("val"))
        .otherwise(F.lit("test"))
    )


# -- benchmark decontamination ----------------------------------------------


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Test-set decontamination: corpus documents sharing at least one
    word n-gram with ANY benchmark document, with the count of distinct
    overlapping n-grams — the standard guard against benchmark leakage
    into training data (n=8..13 in published pipelines).

    Scale shape: shingles are md5-hashed BEFORE the join so only
    16-byte keys shuffle, never text (r14: ``unhex`` packs the hex
    digest to binary — same 128 collision-safe bits, half the bytes
    through the benchmark distinct exchange, the broadcast hash
    relation and every probe compare; unhex is bijective on md5 output
    so the join matches exactly the same gram pairs and n_hits is
    unchanged); the benchmark side is deduplicated and broadcast (eval
    suites are tiny next to a training corpus — if one ever isn't,
    drop the hint and Catalyst falls back to a shuffle hash join on
    the same key). Corpus-side grams are deduplicated per doc first,
    so n_hits counts distinct shared grams. Returns
    ``(id_col, n_hits)``, contaminated docs only.
    """

    def grams(df: DataFrame):
        return df.select(
            F.col(id_col).alias("_id"),
            F.explode(
                F.array_distinct(word_shingles(tokens(text_col), n))
            ).alias("g"),
        ).select("_id", F.unhex(F.md5("g")).alias("gh"))

    bench = grams(benchmark).select("gh").distinct()
    return (
        grams(corpus)
        .join(F.broadcast(bench), "gh")
        .groupBy(F.col("_id").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


#: the end-of-word marker BPE appends to every word, so merges never
#: cross word boundaries
BPE_EOW = "▁"


def learn_bpe_merges(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> list[tuple[int, str, str, int]]:
    """Learn a BPE merge table (Sennrich et al. 2016) from a corpus.

    Returns ``[(merge_rank, left, right, pair_count), ...]`` — the
    ordered merge rules a BPE tokenizer replays at encode time.

    Scalable decomposition — the textbook trick, distributed:

    * ONE corpus-sized pass builds the (word, frequency) VOCAB; every
      later step works on the vocab, whose size is the language's word
      inventory, not the corpus (at 100 TB the vocab is millions of
      rows while the corpus is trillions).
    * Each merge round: explode each word's current symbol array into
      adjacent pairs weighted by word frequency → map-side-combined
      count → the argmax pair comes back as ONE driver scalar (same
      driver-loop contract as connected components); the merge is then
      applied to the symbol arrays with a row-local left-to-right fold
      (SQL ``aggregate``) — greedy non-overlapping, exactly the reference
      algorithm's replacement order.
    * ``localCheckpoint`` truncates the per-round lineage so round k
      doesn't replay rounds 1..k-1.

    Ties break on (count desc, left, right) — fully deterministic.
    Words are char-split with an end-of-word marker so merges never
    cross word boundaries.
    """
    words = (
        docs.select(F.explode(tokens(text_col)).alias("w"))
        .where("length(w) > 0")
        .groupBy("w")
        .agg(F.expr("count(1) AS n"))
    )
    vocab = words.selectExpr(
        "n",
        "concat(transform(sequence(1, length(w)), i -> substr(w, i, 1)),"
        f" array({sql_str(BPE_EOW)})) AS syms",
    ).localCheckpoint(eager=False)

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pairs = (
            vocab.selectExpr(
                "n",
                "explode(zip_with(slice(syms, 1, size(syms) - 1),"
                " slice(syms, 2, size(syms) - 1), (a, b) -> struct(a AS l, b AS r))) AS p",
            )
            .groupBy("p.l", "p.r")
            .agg(F.expr("sum(n) AS cnt"))
        )
        top = pairs.orderBy(
            F.desc("cnt"), F.asc("l"), F.asc("r")
        ).limit(1).collect()
        if not top:
            break
        left, right, cnt = top[0].l, top[0].r, int(top[0].cnt)
        merges.append((rank, left, right, cnt))
        # symbols are corpus characters (any of them, ' and \ included):
        # they enter the fold as escaped literals
        vocab = vocab.selectExpr(
            "n",
            "aggregate(syms, CAST(array() AS ARRAY<STRING>), (acc, x) -> CASE"
            f" WHEN size(acc) > 0 AND element_at(acc, -1) = {sql_str(left)}"
            f" AND x = {sql_str(right)}"
            f" THEN concat(slice(acc, 1, size(acc) - 1), array({sql_str(left + right)}))"
            " ELSE concat(acc, array(x)) END) AS syms",
        ).localCheckpoint(eager=False)
    return merges


#: Fixed merge table for the BPE APPLY path (op-ext-bpe-apply): the first
#: 12 merges ``learn_bpe_merges`` produces on the sf0.01 documents corpus
#: (ranks 1-12, pair counts 4568..1796). Hard-coded BY DESIGN — a BPE
#: tokenizer's apply step is parameterized by a shipped merge table
#: (merges.txt inside the tokenizer artifact), independent of the corpus
#: it is applied to; freezing the table is what makes the apply path a
#: pure deterministic Column expression with an exact SQL oracle, while
#: LEARNING stays the driver-loop op (op-ext-bpe-learn, pytest-pinned
#: against a pure-Python reference).
BPE_MERGES_V1: tuple[tuple[str, str], ...] = (
    ("e", "r"), ("e", "▁"), ("n", "▁"), ("er", "▁"), ("o", "w"),
    ("ow", "▁"), ("o", "r"), ("s", "t"), ("h", "▁"), ("a", "t"),
    ("l", "u"), ("i", "n"),
)

#: Only words matching this join the BPE stream — tokens carrying
#: brackets would alias the '(sym)' encoding below, and real BPE
#: pre-tokenizers split off punctuation anyway.
BPE_WORD_RE = "^[a-z0-9]+$"


def bpe_apply_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply the pre-learned BPE merge table ``BPE_MERGES_V1`` and count
    resulting tokens per document — the ENCODE path of the tokenizer
    (the part that runs over all 100 TB; learning ran once, offline).

    Encoding trick that keeps the whole operator a single Column
    expression (zero Python, zero shuffle until the final projection):
    each word becomes a parenthesized symbol string ``(c)(h)(a)(r)(▁)``,
    and one merge rule (l, r) → lr is ONE ``replace(s, '(l)(r)',
    '(lr)')``. Left-to-right non-overlapping replace is exactly the
    greedy fold ``learn_bpe_merges`` applies per round (a merged symbol
    can never re-match as the right element of the same rule, and
    matching resumes after the replacement in both), and the brackets
    make boundary aliasing impossible — ``(xa)(b)`` never contains
    ``(a)(b)``. Chaining the replaces in rank order replays the merge
    rounds; the final symbol count is just the count of '(' left.
    Spark's ``replace`` and DuckDB's ``replace`` share these exact
    semantics, so the SQL oracle is byte-identical logic.

    Output per document with ≥1 qualifying word: ``n_words``,
    ``n_syms_in`` (chars + end-of-word markers = pre-merge symbol
    count), ``n_bpe_tokens`` (post-merge). All bigint — exact.
    """
    toks = F.filter(
        tokens(text_col), lambda w: w.rlike(BPE_WORD_RE)
    )

    def encoded_len(w: Column) -> Column:
        s = F.concat(F.regexp_replace(w, "(.)", "($1)"), F.lit(f"({BPE_EOW})"))
        for left, right in BPE_MERGES_V1:
            s = F.replace(
                s, F.lit(f"({left})({right})"), F.lit(f"({left}{right})")
            )
        return F.length(s) - F.length(F.replace(s, F.lit("("), F.lit("")))

    df = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), toks.alias("_ws")
    ).filter(F.size("_ws") > 0)
    return df.select(
        id_col,
        F.size("_ws").cast("bigint").alias("n_words"),
        F.aggregate(
            "_ws", F.lit(0).cast("bigint"),
            lambda acc, w: acc + F.length(w) + 1,
        ).alias("n_syms_in"),
        F.aggregate(
            F.transform("_ws", encoded_len),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("n_bpe_tokens"),
    )


def bpe_apply_oracle_sql() -> str:
    """DuckDB twin of :func:`bpe_apply_counts` — same parenthesized
    encoding, same rank-ordered replace chain, composed from the SAME
    merge constant so the two can never drift."""
    s = f"regexp_replace(w, '(.)', '(\\1)', 'g') || '({BPE_EOW})'"
    for left, right in BPE_MERGES_V1:
        s = f"replace({s}, '({left})({right})', '({left}{right})')"
    return f"""
    WITH words AS (
      SELECT doc_id, w FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
        FROM documents WHERE text IS NOT NULL
      ) WHERE regexp_matches(w, '^[a-z0-9]+$')
    ),
    enc AS (
      SELECT doc_id, length(w) + 1 AS n_in,
             {s} AS s
      FROM words
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n_in) AS BIGINT) AS n_syms_in,
           CAST(SUM(length(s) - length(replace(s, '(', ''))) AS BIGINT)
             AS n_bpe_tokens
    FROM enc GROUP BY doc_id
    """


# ---------------------------------------------------------------------------
# overlapping-window chunking (RAG / training-sequence prep)
# ---------------------------------------------------------------------------

#: default chunk geometry: 32-token windows, stride 24 (25% overlap) —
#: sized to the testdata's 10-99-token documents; real corpora use the
#: same shape at 512/384.
CHUNK_W = 32
CHUNK_S = 24


def n_chunks(n_toks: Column, w: int = CHUNK_W, s: int = CHUNK_S) -> Column:
    """ceil((n-w)/s)+1 for n>w else 1 — integer-exact in both engines
    (DuckDB twin: ``CASE WHEN n <= w THEN 1 ELSE (n-w+s-1)//s + 1 END``).
    Valid only for 0 < s <= w (enforced here and in chunk_spans): with
    stride past the window the stop-once-covered count emits an empty
    tail window."""
    if not 0 < s <= w:
        raise ValueError(f"stride must satisfy 0 < s <= w, got s={s} w={w}")
    tail = (n_toks - w + (s - 1)).cast("bigint")
    return F.when(n_toks <= w, F.lit(1).cast("bigint")).otherwise(
        (tail - tail % s) / s + 1
    ).cast("bigint")


def chunk_windows(df: DataFrame) -> DataFrame:
    """Overlapping token-window chunks of each document's ``text`` — the
    RAG-indexing / training-sequence shape (windows of w = ``CHUNK_W``
    tokens every s = ``CHUNK_S``, so consecutive chunks share ``w-s``
    tokens; the final
    window is the ragged tail). Row-local: tokenize once, build the
    per-chunk structs with transform(sequence(...)), explode — no
    shuffle at all, and chunk text leaves the row as an md5 digest, so
    the exploded frame carries 3 scalars per chunk, never the text.

    Adds (chunk_idx, n_chunk_toks, chunk_md5) to every NON-NULL-text
    row; NULL text drops (explicitly — with ANSI off Spark's
    size(NULL) is -1, which would otherwise fabricate a md5('') chunk
    the SQL formulation of this operator never emits).
    100 TB: embarrassingly parallel per-document work; output rows ≈
    input tokens / s.
    """
    w, s = CHUNK_W, CHUNK_S
    toks = tokens("text")
    df = (
        df.filter(F.col("text").isNotNull())
        .withColumn("_toks", toks)
        .withColumn("_n", F.size("_toks"))
    )
    per = F.transform(
        F.sequence(F.lit(0), n_chunks(F.col("_n"), w, s) - 1),
        lambda i: F.struct(
            i.cast("bigint").alias("chunk_idx"),
            F.least(F.lit(w), F.col("_n") - i * s)
            .cast("bigint")
            .alias("n_chunk_toks"),
            F.md5(
                F.concat_ws(" ", F.slice(F.col("_toks"), i * s + 1, w))
            ).alias("chunk_md5"),
        ),
    )
    return (
        df.select("*", F.explode(per).alias("_c"))
        .select(
            *[c for c in df.columns if c not in ("_toks", "_n")],
            F.col("_c.chunk_idx").alias("chunk_idx"),
            F.col("_c.n_chunk_toks").alias("n_chunk_toks"),
            F.col("_c.chunk_md5").alias("chunk_md5"),
        )
    )
