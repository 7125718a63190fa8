"""Deduplication operators for training-data pipelines (extension
surface, SURVEY.md §7.5 — no reference counterpart; the reference's only
dedup is pandas drop_duplicates, ref ``ET_combined.py:118-132``).

Scale design — the non-negotiable at 100 TB is that NOTHING here is
O(n²) over documents:

* exact dedup: hash-groupBy — one shuffle on the content hash.
* MinHash-LSH: signatures are row-local (array exprs, no explode, no
  shuffle); candidates come from a bucket self-join on (band, band_hash)
  — cost O(Σ bucket²) which LSH keeps tiny, never all-pairs.
* SimHash: one explode + one wide aggregation — one shuffle.
* n-gram Jaccard: computed only ON candidate pairs, row-local
  array_intersect after the pair join.

Cross-engine determinism: every hash is md5 (lower-hex in Spark, DuckDB,
Postgres alike); min-hash minimizes the HEX STRING lexicographically, so
no engine-specific 64-bit hash is ever involved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.caching import pin
from data_warehousing_assignment_spark.functions import exact as ex
from data_warehousing_assignment_spark.operators.text import tokens, word_shingles


def scale_out(df: DataFrame) -> DataFrame:
    """Repartition up when the scan produced fewer partitions than cores.

    Hash/HOF-heavy row-local stages (minhash, simhash, hyperplane
    projections) are CPU-bound: a single small parquet file would otherwise
    pin the whole stage to one task (minhash at sf0.1: 0.6 s widened vs
    35 s single-task). On a real cluster the input split count usually
    suffices; this only widens, never narrows.

    The width probe is ``df.rdd.getNumPartitions()`` — the ACTUAL scan
    width after Spark's file splitting/packing. It plans partitions on
    the driver but runs no job. The round-3 ``inputFiles()`` count probe
    was wrong on both ends: a source Spark already split wide still
    counts 1 file (spurious full shuffle of the bodies), and non-file
    sources return [] (always repartitioned). Reserve this wrapper for
    genuinely CPU-bound stages — a shuffle-bound op like
    :func:`exact_dedup` loses more to the extra body shuffle than the
    map parallelism returns (benchmarked 0.83 s vs 0.18 s at sf0.1)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        width = df.rdd.getNumPartitions()
    except Exception:  # unplannable source — widen defensively
        width = 0
    if width < target:
        return df.repartition(target)
    return df


def duplicate_rows(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """op-dup-capture building block: the (cols...) combos occurring more
    than once, with their multiplicity (ref ``ET_combined.py:118-132``
    pandas df[df.duplicated()], as one hash aggregation)."""
    cols = cols or df.columns
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact dedup by content hash (of the trimmed, lower-cased,
    whitespace-collapsed text), keeping the lowest id per hash group
    (deterministic survivor rule). One shuffle on the 32-byte hash, never
    on the document body — at 100 TB the shuffle carries ~40 bytes/row.
    """
    c = F.regexp_replace(F.lower(F.trim(F.col(content_col))), r"\s+", " ")
    hashed = df.select(F.col(id_col), F.md5(c).alias("content_hash"))
    return (
        hashed.groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


def minhash_sig_sql(sh: str, k: int = 12) -> str:
    """SQL for the k-permutation MinHash signature of shingle-array
    column ``sh``: for each seed i, the lexicographic-min
    md5('<i>:'||shingle). Row-local (transform + array_min) — zero
    shuffles."""
    mins = ", ".join(
        f"array_min(transform({sh}, s -> md5(concat('{i}:', s))))" for i in range(k)
    )
    return f"array({mins})"


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 12,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, sig) MinHash signatures of word 3-gram shingles, the scale
    path: widen partitions for the CPU-bound hash stage, project
    shingles once (a separate Project node — CollapseProject keeps
    non-cheap exprs used k times unmerged), then fan out to the k
    seeded mins (:func:`minhash_sig_sql`).

    ``shingles``: optional prebuilt :func:`shingle_frame` — signatures
    are then derived from it instead of re-tokenizing ``df`` (the same
    seeded-md5 mins over the same arrays → identical signatures)."""
    if shingles is None:
        shingles = scale_out(df.select(id_col, text_col)).withColumn(
            "_sh", word_shingles(tokens(text_col))
        )
    return shingles.selectExpr(f"`{id_col}`", f"{minhash_sig_sql('_sh', k)} AS sig")


def minhash_band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    alias: str,
    k: int = 12,
    bands: int = 4,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Pinned ``(alias, band, band_hash)`` banded-LSH keys of the
    :func:`minhash_signatures`: band b hashes signature slots
    b·r .. b·r+r−1 (r = k / bands). Two docs sharing ANY (band,
    band_hash) are candidate near-dups.

    band_hash is the 16-byte ``unhex`` packing of the md5 hex digest
    (r14, guide §2.3 shuffle fewer bytes): the key is internal to the
    bucket self-joins — never an output column — and unhex is bijective
    on md5 output, so every join/group matches exactly the same pairs
    while the keyed frames shuffle and compare half the key bytes.

    Persisted before the self-joins: the two join sides carry different
    projections, so exchange reuse can't kick in and each side would
    otherwise recompute every signature. Band keys are ~(bands × 36)
    bytes/doc — at 100 TB of text that's a few hundred GB
    cluster-wide, MEMORY_AND_DISK-safe. The persist is scope-owned
    (caching.pin): run inside ``cache_scope()`` to release it once the
    pairs are materialized."""
    r = k // bands
    keys = ", ".join(
        "unhex(md5(concat_ws('|', "
        + ", ".join(f"sig[{b * r + j}]" for j in range(r))
        + ")))"
        for b in range(bands)
    )
    return pin(
        minhash_signatures(df, id_col, text_col, k, shingles).selectExpr(
            f"`{id_col}` AS {alias}", f"posexplode(array({keys})) AS (band, band_hash)"
        )
    )


def shingle_frame(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Pinned ``(id_col, _sh)`` raw (multiset) word-shingle frame — the
    shared tokenize+shingle pass for pipelines that consume shingles
    more than once (r14: MinHash signatures for candidate generation
    AND the n-gram Jaccard verify both derive from this one frame in
    :func:`near_dup_clusters`, where the shingle build was measured as
    the dominant map-side cost — built twice before, once now).
    Scope-owned persist (caching.pin)."""
    return pin(
        scale_out(df.select(id_col, text_col)).select(
            F.col(id_col), word_shingles(tokens(text_col), n).alias("_sh")
        )
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 12,
    bands: int = 4,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH: explode the band
    keys and self-join on (band, band_hash) with id< id to orient pairs.

    The join is a plain equi-join on the band key → shuffled hash join
    partitioned by bucket; work is Σ|bucket|², never |docs|². Returned
    pairs are distinct across bands.

    The band keys come from :func:`minhash_band_keys` (persisted, see
    there).

    r14 MEASURED NEGATIVE, reverted: the first-agreeing-band dedup that
    replaced simhash_neardup_pairs' candidate DISTINCT does NOT carry
    over here — each side's dedup state is the bands-element md5 array
    (~64 B vs simhash's 16-byte fingerprint), and dragging two of those
    through the ~100 M-row band join at the 100× synthesis spilled the
    probe stage into a >20 min stall where the DISTINCT shape finishes
    in ~5 s. The DISTINCT exchange carries two int64s per row — the
    cheaper side of that trade at every tested SF.

    ``shingles``: optional prebuilt :func:`shingle_frame` (see
    :func:`minhash_signatures`)."""
    keyed = minhash_band_keys(df, id_col, text_col, "doc_a", k, bands, shingles)
    return (
        keyed.join(keyed.withColumnRenamed("doc_a", "doc_b"), on=["band", "band_hash"])
        .where("doc_a < doc_b")
        .select("doc_a", "doc_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.0,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact word 3-gram Jaccard similarity for candidate pairs: join each
    side's (deduplicated) shingle array onto the pair, then row-local
    array_intersect / union sizes — integer counts, one IEEE division.

    Verification stage of the dedup pipeline: cost O(|candidates|), and
    candidates come from LSH, so the full pipeline never goes quadratic."""
    if shingles is not None:
        # prebuilt raw-shingle frame (see shingle_frame): dedup to the
        # SET row-locally — array_distinct over the identical array the
        # inline path would have built, so _sh is value-identical.
        sh = shingles.selectExpr(f"`{id_col}` AS _id", "array_distinct(_sh) AS _sh")
    else:
        sh = pin(  # joined twice (a- and b-side) — don't shingle twice
            scale_out(df.select(id_col, text_col)).select(
                F.col(id_col).alias("_id"),
                F.array_distinct(word_shingles(tokens(text_col))).alias("_sh"),
            )
        )
    inter = "size(array_intersect(sh_a, sh_b))"
    return (
        candidates.join(sh.selectExpr("_id AS doc_a", "_sh AS sh_a"), "doc_a")
        .join(sh.selectExpr("_id AS doc_b", "_sh AS sh_b"), "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            f"CAST({inter} AS DOUBLE) / CAST(size(sh_a) + size(sh_b) - {inter} AS DOUBLE)"
            " AS jaccard",
        )
        .where(f"jaccard >= {threshold!r}D")
    )


# -- SimHash ----------------------------------------------------------------

SIMHASH_BITS = 48  # one word, so the fingerprint stays a positive int64


def _packed_hex_chunks(h: str, n_nibbles: int) -> list[str]:
    """SQL select items parsing the first ``n_nibbles`` hex digits of
    column ``h`` into int64 chunks ``_p{c}`` of ≤12 nibbles (48 bits —
    12 hex digits fit int64 exactly): one string parse per 12 nibbles
    instead of one per BIT. The oracles read every bit through its own
    nibble (``ex.nibble``) instead; tests/test_dedup.py pins the two
    equal."""
    return [
        f"{ex.hex_int(h, c0 + 1, min(12, n_nibbles - c0))} AS _p{c0 // 12}"
        for c0 in range(0, n_nibbles, 12)
    ]


def _md5_bit(j: int, n_nibbles: int) -> str:
    """SQL for md5 bit ``j`` (bit j%4 of nibble j//4) as 0/1, read from
    its :func:`_packed_hex_chunks` chunk: digit p of the chunk starting
    at digit c0 (length L) sits at bit 4·(c0+L−1−p), most significant
    first. Value-identical to ``ex.nibble(h, j//4 + 1) & (1 << j%4)``
    (pinned in tests/test_dedup.py)."""
    pos = j // 4
    c0 = 12 * (pos // 12)
    shift = 4 * (c0 + min(12, n_nibbles - c0) - 1 - pos) + j % 4
    return f"(shiftright(_p{pos // 12}, {shift}) & 1)"


def simhash_words(bits: int) -> list[str]:
    """Word columns of a ``bits``-bit :func:`simhash`: ``simhash`` when
    the fingerprint fits one int64, else ``simhash_0``, ``simhash_1``, …
    (64 bits each, lowest bits first)."""
    n = -(-bits // 64)
    return ["simhash"] if n == 1 else [f"simhash_{w}" for w in range(n)]


def simhash_word_sql(bits: int) -> list[str]:
    """SQL select items packing the vote columns ``_v0..`` into the
    :func:`simhash_words`: bit k of word w is set when vote 64w+k is
    positive, and bit 63 adds −2⁶³ (two's complement — +2⁶³ does not
    exist in int64). Plain CASE/CAST/+, so the DuckDB oracles share it
    and xor/bit_count agree across engines."""
    out = []
    for w, name in enumerate(simhash_words(bits)):
        terms = [
            f"CASE WHEN _v{j} > 0 THEN CAST("
            f"{-(1 << 63) if j % 64 == 63 else 1 << (j % 64)} AS BIGINT) ELSE 0 END"
            for j in range(64 * w, min(64 * w + 64, bits))
        ]
        out.append(" + ".join(terms) + f" AS {name}")
    return out


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS
) -> DataFrame:
    """SimHash fingerprint: per token, md5 supplies `bits` (≤ 128)
    pseudo-random bits; each bit votes ±1; the sign of the per-document
    vote sum forms the fingerprint, packed into the int64
    :func:`simhash_words` (one 48-bit word by default, two signed words
    at 128). Near-identical docs differ in few bits (Hamming).

    Plan shape: one explode(tokens) + one wide groupBy aggregation (bits
    SUM columns, map-side combined) — a single shuffle keyed by doc id;
    then the words assemble row-locally. At 100 TB this is the same cost
    as any per-doc token aggregate. The md5 digits are parsed ONCE per
    token into int64 chunks (a dedicated Project so each chunk parse runs
    once per row); each vote is then a shift+mask. Every per-bit
    expression is a generated SQL string, so building the plan costs a
    few py4j calls per bit instead of a few dozen."""
    n_nib = bits // 4
    tok = scale_out(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("_tok")
    ).withColumn("_h", F.md5("_tok"))
    packed = tok.selectExpr(f"`{id_col}`", *_packed_hex_chunks("_h", n_nib))
    votes = [
        F.expr(f"SUM(CASE WHEN {_md5_bit(j, n_nib)} > 0 THEN 1 ELSE -1 END) AS _v{j}")
        for j in range(bits)
    ]
    return packed.groupBy(id_col).agg(*votes).selectExpr(
        f"`{id_col}`", *simhash_word_sql(bits)
    )


def near_dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Full near-duplicate CLUSTERING pipeline, production shape:

    1. EXACT-dedup collapse — identical (normalized) texts map to one
       representative (min id per content hash). In a web-scale corpus
       exact copies outnumber near-dups by orders of magnitude; doing
       this first shrinks every later stage. LSH bucket self-join cost
       is Σ|bucket|², so collapsing a d-copy document cuts its bucket
       term d² → 1 (benchmarked 10× fewer edges / ~3× faster at the
       10× bench probe, where every doc has 10 exact copies).
    2. MinHash-LSH candidates + n-gram Jaccard verification on the
       REPRESENTATIVES only.
    3. Connected components (operators/graph.py) on the rep graph.
    4. Labels broadcast back through the rep mapping to every row.

    The result is IDENTICAL to running LSH+CC on the raw corpus: exact
    copies share signatures, so the raw graph is the rep graph with
    each node blown up into a clique, and quotienting by the exact
    groups preserves both connectivity and the min-id component label
    (each rep is already the min id of its exact group). Returns
    ``(id_col, cluster_id)``."""
    from data_warehousing_assignment_spark.operators.graph import (
        connected_components,
    )

    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    hashed = df.select(F.col(id_col), F.md5(norm).alias("_h"))
    rep_of_hash = hashed.groupBy("_h").agg(F.min(id_col).alias("_rep"))
    # id → representative; joined twice (rep filter + final label fan-out)
    mapping = pin(hashed.join(rep_of_hash, "_h").select(id_col, "_rep"))

    rep_rows = df.join(
        mapping.filter(F.col(id_col) == F.col("_rep")).select(id_col),
        id_col,
    )
    # ONE tokenize+shingle pass feeds both candidate generation and the
    # Jaccard verify (r14; measured as the dominant map-side cost of
    # this pipeline — it ran twice before). Arrays identical, so both
    # consumers see exactly the values they built inline before.
    shf = shingle_frame(rep_rows, id_col, text_col, n=3)
    cands = minhash_lsh_candidates(
        rep_rows, id_col, text_col, k, bands, shingles=shf
    )
    edges = ngram_jaccard_pairs(
        rep_rows, cands, id_col, text_col, threshold=threshold, shingles=shf
    ).select("doc_a", "doc_b")
    comp = connected_components(
        rep_rows.select(id_col), edges, id_col=id_col,
        src_col="doc_a", dst_col="doc_b",
    )
    return mapping.join(
        comp.withColumnRenamed(id_col, "_rep"), "_rep"
    ).select(id_col, F.col("component").alias("cluster_id"))


def banded_hamming_pairs(
    fp: DataFrame,
    id_col: str,
    words: list[str],
    bits: int,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """All pairs of ``fp`` rows whose ``bits``-bit fingerprints, packed
    into the int64 ``words`` columns (``bits / len(words)`` bits each),
    differ in at most ``max_hamming`` bits — EXACTLY, but without an
    all-pairs join. The one banded-Hamming self-join of the package:
    SimHash at 48 and 128 bits (:func:`simhash_neardup_pairs`) and the
    64-bit aHash media fingerprint.

    Banding argument (pigeonhole): split the fingerprint into ``bands``
    contiguous bands, none straddling a word. Two fingerprints within
    Hamming distance d < bands must agree on at least one whole band (d
    flipped bits can touch at most d bands), so a hash self-join on
    (band_index, band_value) has recall 1.0 for d <= bands-1; the
    residual ``Σ bit_count(x.w ^ y.w) <= d`` filter restores precision.
    Cost is O(Σ band-bucket²) — duplicate-density-bounded like
    MinHash-LSH, never O(n²) over the corpus. Band width sets the
    bucket count: 12-bit bands saturate at 4,096 buckets and go
    O(n²/4096) (measured r11 at the 100× synthesis: 500k docs → ~250M
    candidates, 58 GB of shuffle spill), 32-bit bands keep collisions
    content-driven at any realistic corpus size.

    First-agreeing-band dedup (r14, guide §2.4 remove shuffles
    outright): the band self-join finds a qualifying pair once per
    AGREEING band. The keyed frame carries the words, so each candidate
    row (a) keeps itself only when its band is the pair's FIRST
    agreeing band — exactly one surviving row per qualifying pair, the
    set a DISTINCT would produce — and (b) scores the Hamming distance
    inline. Zero exchanges between the band join and the output.

    Returns ``(doc_a, doc_b, hamming)`` with doc_a < doc_b."""
    if max_hamming >= bands:
        raise ValueError(
            f"exact recall needs max_hamming < bands "
            f"(got {max_hamming} >= {bands})"
        )
    if bits % bands:
        raise ValueError(f"bands must divide bits ({bits} % {bands})")
    width, word_bits = bits // bands, bits // len(words)
    if word_bits % width:
        raise ValueError(f"bands must not straddle a word ({word_bits} % {width})")

    def band(side: str, b: int) -> str:
        w, shift = divmod(b * width, word_bits)
        v = f"shiftright({side}`{words[w]}`, {shift})"
        return v if width == 64 else f"{v} & {(1 << width) - 1}"

    keyed = fp.selectExpr(
        f"`{id_col}`", *[f"`{w}`" for w in words],
        f"posexplode(array({', '.join(band('', b) for b in range(bands))}))"
        " AS (_band, _val)",
    )
    first_band = " ".join(
        f"WHEN {band('x.', b)} = {band('y.', b)} THEN {b}" for b in range(bands - 1)
    )
    ham = " + ".join(f"bit_count(x.`{w}` ^ y.`{w}`)" for w in words)
    return (
        keyed.alias("x")
        .join(
            keyed.alias("y"),
            F.expr(
                f"x._band = y._band AND x._val = y._val"
                f" AND x.`{id_col}` < y.`{id_col}`"
            ),
        )
        .filter(f"x._band = CASE {first_band} ELSE {bands - 1} END")
        .selectExpr(
            f"x.`{id_col}` AS doc_a",
            f"y.`{id_col}` AS doc_b",
            f"CAST({ham} AS BIGINT) AS hamming",
        )
        .filter(f"hamming <= {max_hamming}")
    )


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = SIMHASH_BITS,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate pairs: :func:`banded_hamming_pairs` over
    the pinned :func:`simhash` words (both join sides read the
    fingerprint). At 48 bits the 4 bands are 12 bits wide — the pinned
    small-scale anchor; at 128 bits they are 32 bits wide, the 100 TB
    operating point, and Hamming runs over the full 128 bits, a finer
    (DIFFERENT) statistic. Returns ``(doc_a, doc_b, hamming)``."""
    fp = pin(simhash(df, id_col, text_col, bits))
    return banded_hamming_pairs(
        fp, id_col, simhash_words(bits), bits, bands, max_hamming
    )


def rarity_prefix(
    docs: DataFrame, id_col: str, set_col: str, threshold: float
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The rarity-ordered prefix both exact set joins filter on. Returns
    ``(d, toks, pre)``: ``d`` = ``(_id, _s, _sz)`` full sets with their
    sizes, ``toks`` = ``(_id, _tok)`` one row per set element, ``pre`` =
    ``(_id, _sz, _pos, _tok)`` each set's PREFIX tokens.

    Tokens get a global rarity rank — document frequency ascending, then
    token (the vocab-sized frame, broadcast). The global order only
    needs to be CONSISTENT, so the sets sort by (df, token) directly: no
    dense rank, so no global-window pass over the vocab. Each set's
    prefix is its first |s| − ⌈t·|s|⌉ + 1 tokens in that order (0-based:
    pos < that).

    The 1e-9 epsilon guards IEEE drift: products like 0.55*100 evaluate
    to 55.000000000000007, whose bare ceil (56) would shorten the prefix
    by one token and silently drop pairs sitting exactly AT the
    threshold. Under-ceiling by < 1e-9 can only LENGTHEN a prefix (more
    candidates, never fewer), so completeness is preserved for every
    threshold."""
    d = docs.selectExpr(
        f"`{id_col}` AS _id", f"`{set_col}` AS _s", f"size(`{set_col}`) AS _sz"
    )
    toks = d.selectExpr("_id", "explode(_s) AS _tok")
    vocab = toks.groupBy("_tok").agg(F.expr("count(1) AS _df"))
    sorted_sets = (
        toks.join(F.broadcast(vocab), "_tok")
        .groupBy("_id")
        .agg(F.expr(
            "transform(sort_array(collect_list(struct(_df, _tok))), kv -> kv._tok) AS _sorted"
        ))
    )
    pre = sorted_sets.selectExpr(
        "_id", "size(_sorted) AS _sz", "posexplode(_sorted) AS (_pos, _tok)"
    ).where(f"_pos < _sz - ceil({threshold!r}D * _sz - 1e-9D) + 1")
    return d, toks, pre


def set_similarity_join_prefix(
    docs: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float,
) -> DataFrame:
    """EXACT set-similarity self-join (Jaccard ≥ threshold) with
    PPJoin-style prefix filtering — the exact counterpart to the
    MinHash-LSH approximate path.

    Each set is re-sorted rarest-first and only its :func:`rarity_prefix`
    is exploded into the candidate join: two sets with Jaccard ≥ t must
    share at least one prefix token under any common global order (the
    pigeonhole behind prefix filtering), so candidates are complete.
    The equi-join runs on the prefix token — O(Σ per-token prefix²),
    concentrated on RARE tokens by construction (rarest-first ordering
    makes hot frequent tokens fall outside prefixes) — then the exact
    Jaccard verifies on the full sets. Output: id_a, id_b, jaccard.
    """
    d, _, pre = rarity_prefix(docs, id_col, set_col, threshold)
    cand = (
        pre.selectExpr("_id AS _ida", "_tok")
        .join(pre.selectExpr("_id AS _idb", "_tok"), "_tok")
        .where("_ida < _idb")
        .select("_ida", "_idb")
        .distinct()
    )
    sa = d.selectExpr("_id AS _ida", "_s AS _sa", "_sz AS _sza")
    sb = d.selectExpr("_id AS _idb", "_s AS _sb", "_sz AS _szb")
    inter = "size(array_intersect(_sa, _sb))"
    # The verify join carries BOTH full token arrays per pair — at the
    # 100× synthesis that is ~100 GB through what would otherwise be a
    # 32-wide shuffle (3 GB+/task → Java heap OOM, measured r11 via
    # op-ext-lsh-eval; AQE cannot split uniform-large partitions).
    # Pre-partition each join input ON ITS JOIN KEY to a width that
    # bounds per-task array volume: Catalyst reuses the matching hash
    # partitioning, so the joins run at `nv` without an extra exchange;
    # AQE coalesces the near-empty tasks away at small sf. 64× the
    # shuffle width (not 16×): the r11 sf10 re-run showed 512 tasks
    # still hold ~200 MB of pair+array rows each — × the 32 concurrent
    # task slots that is 6.4 GB of simultaneously-live join rows, over
    # the 8 g local heap; 2048 tasks put ~50 MB in flight per slot, and
    # on a real cluster the same math bounds per-executor pressure.
    nv = min(
        4096,
        64 * int(
            docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        ),
    )
    return (
        cand.repartition(nv, "_ida")
        .join(sa.repartition(nv, "_ida"), "_ida")
        .repartition(nv, "_idb")
        .join(sb.repartition(nv, "_idb"), "_idb")
        .selectExpr(
            "_ida AS id_a",
            "_idb AS id_b",
            f"CAST({inter} AS DOUBLE) / CAST(_sza + _szb - {inter} AS DOUBLE) AS jaccard",
        )
        .where(f"jaccard >= {threshold!r}D")
    )


def containment_join(
    docs: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float,
) -> DataFrame:
    """EXACT directed containment self-join: pairs (a, b), a ≠ b, with
    C(a→b) = |a ∩ b| / |a| ≥ threshold — the subset-duplicate detector
    (a quote or article fully wrapped in another document) that the
    symmetric Jaccard joins structurally miss: containment of a small
    set in a huge one has near-zero Jaccard.

    Asymmetric prefix filter: a qualifying pair must share a token from
    A's :func:`rarity_prefix` (the pigeonhole over the CONTAINED side
    only), but — unlike the Jaccard case — B contributes its FULL token
    set, because containment puts no lower bound on B's overlap
    fraction. Candidate volume is Σ_token prefix_count(tok)·df(tok),
    concentrated on rare tokens by the rarity-first ordering (hot tokens
    fall outside prefixes). Exact verification on the full sets; one
    final IEEE division. Empty sets are excluded (containment
    undefined). Output: id_a (contained), id_b (container), containment.
    """
    d, toks, pre = rarity_prefix(docs, id_col, set_col, threshold)
    cand = (
        pre.selectExpr("_id AS _ida", "_tok")
        .join(toks.selectExpr("_id AS _idb", "_tok"), "_tok")
        .where("_ida != _idb")
        .select("_ida", "_idb")
        .distinct()
    )
    return (
        cand.join(d.selectExpr("_id AS _ida", "_s AS _sa", "_sz AS _sza"), "_ida")
        .join(d.selectExpr("_id AS _idb", "_s AS _sb"), "_idb")
        .where("_sza > 0")
        .selectExpr(
            "_ida AS id_a",
            "_idb AS id_b",
            "CAST(size(array_intersect(_sa, _sb)) AS DOUBLE)"
            " / CAST(_sza AS DOUBLE) AS containment",
        )
        .where(f"containment >= {threshold!r}D")
    )


def minhash_lsh_incremental_candidates(
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Incremental banded-LSH candidates: only the NEW batch computes
    signatures; its band keys probe the existing corpus's band index
    plus themselves. Work is O(Δ) signature hashing + a bucket join
    carrying Δ band keys — never a recompute or re-pair of the settled
    corpus, which is the whole point of incremental dedup at 100 TB
    (the exact-hash twin is exact_dedup_incremental). In production
    ``old_df``'s band keys are READ from the stored index (the same
    (doc, band, band_hash) layout save_ivf_index uses for cells);
    here they're derived so the operator is self-contained.

    Invariant (the registry oracle states it directly): the output is
    exactly the FULL-corpus candidate set restricted to pairs touching
    the new batch — bucket joins on identical keys make incremental ≡
    full∖(old×old) by construction. Returns (doc_a, doc_b, pair_type ∈
    {'cross', 'new-new'}) with doc_a < doc_b. Id overlap between the
    frames (a batch re-ingesting a settled doc) is tolerated: the cross
    branch drops self-collisions, so the contract holds either way."""
    old_keyed = minhash_band_keys(old_df, id_col, text_col, "_old", k, bands)
    new_keyed = minhash_band_keys(new_df, id_col, text_col, "_new", k, bands)
    # A doc id present in BOTH frames (a batch re-ingesting a settled
    # doc) would otherwise collide with itself on every shared band key
    # and emit a degenerate (x, x) row — least==greatest violates the
    # doc_a < doc_b contract below.
    cross = (
        new_keyed.join(old_keyed, on=["band", "band_hash"])
        .where("_new != _old")
        .selectExpr("least(_new, _old) AS doc_a", "greatest(_new, _old) AS doc_b", "0 AS _prio")
    )
    new_new = (
        new_keyed.withColumnRenamed("_new", "doc_a")
        .join(new_keyed.withColumnRenamed("_new", "doc_b"), on=["band", "band_hash"])
        .where("doc_a < doc_b")
        .selectExpr("doc_a", "doc_b", "1 AS _prio")
    )
    # ONE pair-keyed aggregate replaces two per-branch distincts (one
    # shuffle instead of two) and makes the output a set even when the
    # frames' ids overlap: a pair with both endpoints in the batch also
    # surfaces through its corpus copies in the cross branch, and the
    # honest label must win exactly once. The priority is an EXPLICIT
    # integer (new-new=1 > cross=0), not lexicographic max over the
    # label strings — renaming a label can't silently flip the winner
    # (r13 advice 3).
    return (
        cross.unionByName(new_new)
        .groupBy("doc_a", "doc_b")
        .agg(F.expr("CASE WHEN max(_prio) = 1 THEN 'new-new' ELSE 'cross' END AS pair_type"))
    )
