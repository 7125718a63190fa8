"""Dedup operator tests: exact hash dedup, MinHash signatures vs a pure-
Python reference, LSH candidate generation recall on constructed
near-duplicates, and n-gram Jaccard values."""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.operators import dedup as dd

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
    (2, "completely different text about spark engines and shuffles"),
    (3, "The Quick  Brown fox jumps over the lazy dog"),  # exact dup of 0 mod ws/case
]


def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string")


def py_minhash(text: str, k: int = 12, n: int = 3) -> list[str]:
    toks = re.split(r"\s+", text.strip().lower())
    sh = (
        [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        if len(toks) >= n
        else [" ".join(toks)]
    )
    return [
        min(hashlib.md5(f"{i}:{s}".encode()).hexdigest() for s in sh)
        for i in range(k)
    ]


def test_duplicate_rows_multiplicity(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 1), ("b", 2)], "x string, y int"
    )
    out = {(r.x, r.y): r.n_rows for r in dd.duplicate_rows(df).collect()}
    assert out == {("a", 1): 3}


def test_exact_dedup_normalizes_whitespace_and_case(spark):
    out = dd.exact_dedup(docs_df(spark), "text", "doc_id").collect()
    groups = {r.keep_id: r.group_size for r in out}
    # doc 3 collapses into doc 0's group after normalization
    assert groups[0] == 2
    assert groups[1] == 1 and groups[2] == 1
    assert 3 not in groups


def test_minhash_signature_matches_python(spark):
    out = dd.minhash_signatures(docs_df(spark), "doc_id", "text", 12).collect()
    for r in out:
        assert list(r.sig) == py_minhash(DOCS[r.doc_id][1]), r.doc_id


def test_lsh_candidates_catch_near_dups_not_distinct_docs(spark):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dd.minhash_lsh_candidates(
            docs_df(spark), "doc_id", "text", k=12, bands=4
        ).collect()
    }
    assert (0, 3) in pairs  # exact dup (mod case/ws) always collides
    assert (0, 1) in pairs  # near-dup shares most shingles
    assert (0, 2) not in pairs and (1, 2) not in pairs  # unrelated docs


def test_ngram_jaccard_values(spark):
    df = docs_df(spark)
    cands = spark.createDataFrame([(0, 3), (0, 2)], "doc_a int, doc_b int")
    out = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dd.ngram_jaccard_pairs(df, cands, "doc_id", "text").collect()
    }
    assert out[(0, 3)] == 1.0  # identical after lowercase/ws-normalization
    assert out[(0, 2)] == 0.0  # no shared shingles


def test_simhash_near_dups_have_small_hamming_distance(spark):
    fps = {
        r.doc_id: r.simhash
        for r in dd.simhash(docs_df(spark), "doc_id", "text").collect()
    }
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(fps[0], fps[3]) == 0  # identical token multiset
    assert ham(fps[0], fps[1]) < ham(fps[0], fps[2])

def test_packed_hex_chunks_equal_per_nibble_extraction(spark):
    """The packed-chunk md5-bit parse (the SQL strings simhash emits)
    must be value-identical to the per-bit ``exact.nibble`` extraction
    (the oracle-side formulation) for EVERY bit of both fingerprint
    widths — 48 (12 nibbles, one chunk) and 128 (32 nibbles, two 12-digit
    chunks + one 8-digit tail) — in Spark, and the oracle forms run in
    DuckDB must give the same chunks and bits on the same hashes."""
    import duckdb

    from data_warehousing_assignment_spark.functions import exact as ex

    hs = (
        [hashlib.md5(f"tok{i}".encode()).hexdigest() for i in range(64)]
        + ["0" * 32, "f" * 32, "fedcba9876543210" * 2]
    )
    hashes = spark.createDataFrame([(h,) for h in hs], "h string")
    con = duckdb.connect()
    con.execute("CREATE TABLE hashes AS SELECT unnest(?) AS h", [hs])
    for bits in (48, 128):
        n_nib = bits // 4
        chunks = dd._packed_hex_chunks("h", n_nib)
        packed = hashes.selectExpr("h", *chunks)
        checks = []
        for j in range(bits):
            old = F.expr(f"({ex.nibble('h', j // 4 + 1)} & {1 << (j % 4)}) > 0")
            new = F.expr(f"{dd._md5_bit(j, n_nib)} > 0")
            checks.append((old == new).alias(f"b{j}"))
        bad = packed.select(checks).filter(
            ~F.forall(
                F.array(*[F.col(f"b{j}") for j in range(bits)]),
                lambda x: x,
            )
        )
        assert bad.count() == 0, f"packed extraction diverges at bits={bits}"

        # the same chunks and bits, read the oracle's way in DuckDB
        starts = range(0, n_nib, 12)
        engine = {
            r["h"]: (
                tuple(r[f"_p{c0 // 12}"] for c0 in starts),
                tuple(r[f"_b{j}"] for j in range(bits)),
            )
            for r in packed.selectExpr(
                "*", *[f"{dd._md5_bit(j, n_nib)} > 0 AS _b{j}" for j in range(bits)]
            ).collect()
        }
        oracle_items = [
            f"{ex.hex_int_oracle('h', c0 + 1, min(12, n_nib - c0))}" for c0 in starts
        ] + [
            f"({ex.nibble('h', j // 4 + 1)} & {1 << (j % 4)}) > 0" for j in range(bits)
        ]
        n_chunks = len(starts)
        oracle = {
            row[0]: (tuple(row[1:1 + n_chunks]), tuple(row[1 + n_chunks:]))
            for row in con.execute(
                f"SELECT h, {', '.join(oracle_items)} FROM hashes"
            ).fetchall()
        }
        assert oracle == engine, f"oracle parse diverges at bits={bits}"


def test_near_dup_clusters_equals_raw_graph_cc(spark):
    """The exact-collapse fast path must be invisible in the result:
    clustering through representatives equals connected components over
    the raw (per-document) LSH+Jaccard pair graph."""
    from data_warehousing_assignment_spark.operators import graph as gr

    # extra exact copies so the collapse path actually collapses
    rows = DOCS + [
        (4, "the quick brown fox jumps over the lazy dog"),  # copy of 0
        (5, "completely different text about spark engines and shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    fast = {
        (r.doc_id, r.cluster_id)
        for r in dd.near_dup_clusters(df, "doc_id", "text", 12, 4, 0.5).collect()
    }

    cands = dd.minhash_lsh_candidates(df, "doc_id", "text", 12, 4)
    edges = dd.ngram_jaccard_pairs(
        df, cands, "doc_id", "text", threshold=0.5
    ).select("doc_a", "doc_b")
    raw = {
        (r.doc_id, r.component)
        for r in gr.connected_components(
            df.select("doc_id"), edges, id_col="doc_id",
            src_col="doc_a", dst_col="doc_b",
        ).collect()
    }
    assert fast == raw
    # sanity on shape: 0/1/3/4 one near-dup cluster labeled 0; 2/5 labeled 2
    assert fast == {(0, 0), (1, 0), (3, 0), (4, 0), (2, 2), (5, 2)}


def test_simhash_neardup_pairs_equals_all_pairs(spark):
    """Banded bucket join must reproduce the all-pairs Hamming result
    exactly (pigeonhole recall for max_hamming < bands)."""
    rows = [(i, t) for i, (_, t) in enumerate(DOCS)] + [
        (4, "the quick brown fox jumps over the lazy dog today"),
        (5, "spark engines and shuffles make completely different text"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    banded = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dd.simhash_neardup_pairs(
            df, "doc_id", "text", bands=4, max_hamming=3
        ).collect()
    }

    fps = {r.doc_id: r.simhash for r in dd.simhash(df, "doc_id", "text").collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    naive = {
        (a, b, ham(fps[a], fps[b]))
        for a in fps for b in fps
        if a < b and ham(fps[a], fps[b]) <= 3
    }
    assert banded == naive
    assert (0, 3, 0) in banded  # exact dup mod case/ws → distance 0


def _ahash_pairs(docs):
    from data_warehousing_assignment_spark.operators import multimodal as mm

    fp = mm.average_hash(mm.with_media_columns(docs))
    return dd.banded_hamming_pairs(fp, "doc_id", ["h1", "h2"], 64)


@pytest.mark.parametrize(
    "pairs",
    [
        lambda docs: dd.simhash_neardup_pairs(docs, "doc_id", "text"),
        lambda docs: dd.simhash_neardup_pairs(docs, "doc_id", "text", bits=128),
        _ahash_pairs,
    ],
    ids=["simhash48", "simhash128", "ahash"],
)
def test_simhash_neardup_first_band_emits_each_pair_once(spark, pairs):
    """The first-agreeing-band filter replaces the candidate DISTINCT:
    a pair agreeing on SEVERAL bands (exact dups agree on all of them)
    must still come out exactly once, for each fingerprint the banded
    join serves. Set-equality tests cannot see double emission — this
    one counts."""
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    rows = pairs(docs).select("doc_a", "doc_b").collect()
    got = [(r.doc_a, r.doc_b) for r in rows]
    assert len(got) == len(set(got))
    assert got  # corpus has near-dups by construction


def test_simhash_neardup_rejects_lossy_banding(spark):
    df = docs_df(spark)
    with pytest.raises(ValueError):
        dd.simhash_neardup_pairs(df, "doc_id", "text", bands=4, max_hamming=4)
    with pytest.raises(ValueError, match="divide"):
        dd.simhash_neardup_pairs(df, "doc_id", "text", bands=5, max_hamming=3)
    with pytest.raises(ValueError, match="straddle"):
        dd.banded_hamming_pairs(df, "doc_id", ["a", "b"], 64, bands=1, max_hamming=0)


def _naive_jaccard_pairs(sets: dict[int, set], threshold: float):
    ids = sorted(sets)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            jac = inter / (len(sets[a]) + len(sets[b]) - inter)
            if jac >= threshold:
                out.add((a, b, round(jac, 9)))
    return out


def _prefix_join_pairs(spark, sets: dict[int, set], threshold: float):
    df = spark.createDataFrame(
        [(i, sorted(s)) for i, s in sets.items()],
        "doc_id int, s array<string>",
    )
    return {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dd.set_similarity_join_prefix(
            df, "doc_id", "s", threshold
        ).collect()
    }


@pytest.mark.parametrize(
    "threshold,sz", [(0.55, 100), (0.56, 25)]
)
def test_prefix_join_exact_at_threshold_despite_float_drift(
    spark, threshold, sz
):
    """Adversarial completeness: products like 0.55*100 evaluate in IEEE
    to 55.000000000000007, so a bare ceil() shortens the prefix by one
    token. This corpus places the ONLY prefix-shared token of an
    exactly-at-threshold pair at that final prefix position — the pair
    vanishes from the output iff the ceil drifts (ADVICE r6)."""
    import math

    need = math.ceil(threshold * sz - 1e-9)  # exact ceil, e.g. 55
    p = sz - need + 1  # correct prefix length of A
    n_single = p - 1  # singletons sorting before the boundary token
    n_shared = sz - p  # high-df tokens sorting after it
    inter = n_shared + 1
    # |B| chosen so Jaccard(A,B) == threshold exactly (rational identity)
    sz_b = inter * (1 + 1 / threshold) - sz
    assert abs(sz_b - round(sz_b)) < 1e-9, "construction requires integer |B|"
    sz_b = round(sz_b)

    singles = {f"a{i:03d}" for i in range(n_single)}
    shared = {f"s{i:03d}" for i in range(n_shared)}
    a_set = singles | {"x"} | shared
    b_set = {"x"} | shared
    assert len(a_set) == sz and len(b_set) == sz_b
    sets = {0: a_set, 1: b_set, 2: set(shared)}  # 2 = df-filler for shared

    naive = _naive_jaccard_pairs(sets, threshold)
    fast = _prefix_join_pairs(spark, sets, threshold)
    assert (0, 1, round(threshold, 9)) in naive  # the boundary pair exists
    assert fast == naive


def test_prefix_join_matches_naive_across_thresholds(spark):
    """Property sweep: random token sets, awkward thresholds — the prefix
    join must reproduce the naive all-pairs result verbatim."""
    import random

    rng = random.Random(7)
    vocab = [f"t{i:02d}" for i in range(40)]
    sets = {
        i: set(rng.sample(vocab, rng.randint(3, 20))) for i in range(30)
    }
    for threshold in (0.5, 0.55, 0.6, 0.7, 0.8):
        assert _prefix_join_pairs(spark, sets, threshold) == _naive_jaccard_pairs(
            sets, threshold
        ), f"mismatch at t={threshold}"


def test_containment_join_matches_naive(spark):
    """Asymmetric prefix filter completeness: directed containment pairs
    must equal the naive all-pairs predicate — including pure subset
    docs (containment 1.0, low Jaccard) and exact-threshold pairs."""
    sets = {
        0: {"a", "b", "c", "d", "e", "f", "g", "h", "i", "j"},
        1: {"a", "b", "c"},                         # subset of 0 (C=1.0)
        2: {"a", "b", "c", "x"},                    # C(2->0)=0.75
        3: {"q", "r"},                              # disjoint
        4: {"a", "b", "c", "d", "e", "f", "g", "h", "i", "x"},  # C=0.9 exact
    }
    for threshold in (0.9, 0.75, 0.5):
        naive = set()
        for i, si in sets.items():
            for j, sj in sets.items():
                if i != j and si and len(si & sj) / len(si) >= threshold:
                    naive.add((i, j, round(len(si & sj) / len(si), 9)))
        df = spark.createDataFrame(
            [(i, sorted(s)) for i, s in sets.items()],
            "doc_id int, s array<string>",
        )
        got = {
            (r.id_a, r.id_b, round(r.containment, 9))
            for r in dd.containment_join(df, "doc_id", "s", threshold).collect()
        }
        assert got == naive, f"mismatch at t={threshold}"
    assert (4, 0, 0.9) in naive  # the exact-threshold pair was exercised


def test_containment_join_random_vs_naive(spark):
    import random

    rng = random.Random(11)
    vocab = [f"t{i:02d}" for i in range(30)]
    sets = {i: set(rng.sample(vocab, rng.randint(1, 15))) for i in range(25)}
    # plant guaranteed subset relations
    sets[25] = set(list(sets[0])[:3]) if len(sets[0]) >= 3 else {"t00"}
    sets[26] = sets[1] | {"zz"}
    for threshold in (0.6, 0.9):
        naive = set()
        for i, si in sets.items():
            for j, sj in sets.items():
                if i != j and si and len(si & sj) / len(si) >= threshold:
                    naive.add((i, j))
        df = spark.createDataFrame(
            [(i, sorted(s)) for i, s in sets.items()],
            "doc_id int, s array<string>",
        )
        got = {
            (r.id_a, r.id_b)
            for r in dd.containment_join(df, "doc_id", "s", threshold).collect()
        }
        assert got == naive, f"mismatch at t={threshold}"


def test_cluster_op_clusters_under_each_shuffle_width(spark, monkeypatch):
    """Two builds of op-ext-dedup-clusters in one session, at shuffle
    width 32 and then 7, each run the near-dup clustering under their own
    width (no build hands a later one its clusters, so the determinism
    gate compares two real runs) and label every doc the same."""
    from data_warehousing_assignment_spark.registry import all_queries
    from tests.conftest import SF_SMALL

    widths = []
    real = dd.near_dup_clusters

    def spy(*args, **kwargs):
        widths.append(spark.conf.get("spark.sql.shuffle.partitions"))
        return real(*args, **kwargs)

    monkeypatch.setattr(dd, "near_dup_clusters", spy)
    build = all_queries()["op-ext-dedup-clusters"]
    default = spark.conf.get("spark.sql.shuffle.partitions")
    labels = []
    try:
        for width in ("32", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", width)
            labels.append(sorted(map(tuple, build(spark, SF_SMALL).collect())))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default)
    assert widths == ["32", "7"]
    assert labels[0] == labels[1]


def test_every_op_that_clusters_at_build_is_eager():
    """An op whose builder calls near_dup_clusters runs the connected-
    components driver loop in its build, so it is registered eager: the
    bench then rebuilds it for each timed run and times its clustering."""
    import inspect

    from data_warehousing_assignment_spark.registry import all_queries

    clustering = {
        name: q.eager
        for name, q in all_queries().items()
        if "near_dup_clusters" in inspect.unwrap(q).__code__.co_names
    }
    assert len(clustering) >= 4, clustering
    assert all(clustering.values()), clustering


def test_simhash128_wide_pairs_match_bruteforce(spark):
    """Independent pure-Python replay of the 128-bit two-half SimHash
    and the all-pairs Hamming ≤ 3 set — proves the banded join (4×32-bit
    bands) loses nothing and the two's-complement half assembly matches
    md5 nibble votes bit-for-bit."""
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()

    def fp128(text: str) -> tuple[int, int]:
        votes = [0] * 128
        for tok in re.split(r"\s+", text.strip().lower()):
            h = hashlib.md5(tok.encode()).hexdigest()
            for j in range(128):
                nib = int(h[j // 4], 16)
                votes[j] += 1 if (nib & (1 << (j % 4))) else -1
        lo = hi = 0
        for k in range(64):
            if votes[k] > 0:
                lo |= 1 << k
            if votes[64 + k] > 0:
                hi |= 1 << k
        # signed int64 view (bit 63 = −2⁶³), matching the engine halves
        if lo >= 1 << 63:
            lo -= 1 << 64
        if hi >= 1 << 63:
            hi -= 1 << 64
        return lo, hi

    fps = {r.doc_id: fp128(r.text) for r in docs}
    ids = sorted(fps)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin((fps[a][0] ^ fps[b][0]) & ((1 << 64) - 1)).count("1")
            d += bin((fps[a][1] ^ fps[b][1]) & ((1 << 64) - 1)).count("1")
            if d <= 3:
                want[(a, b)] = d
    assert want  # 15 pairs on the pinned sf0.001 corpus — never 0=0
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dd.simhash_neardup_pairs(
            spark.read.parquet(f"{SF_SMALL}/documents.parquet"),
            "doc_id",
            "text",
            bits=128,
            max_hamming=3,
        ).collect()
    }
    assert got == want


def test_incremental_lsh_equals_full_candidates_touching_batch(spark):
    """The incremental-dedup invariant, engine-side: probing the stored
    band index with only the new batch's keys must yield EXACTLY the
    full-corpus candidate set restricted to pairs touching the batch
    (bucket equi-joins on identical keys — equality, not approximation),
    with pair_type partitioning it into cross vs new-new."""
    from data_warehousing_assignment_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_lsh_incremental_candidates,
    )
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    full = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_candidates(docs, "doc_id", "text").collect()
    }
    expected = {
        (a, b) for a, b in full if a % 5 == 0 or b % 5 == 0
    }
    got = minhash_lsh_incremental_candidates(
        docs.filter(F.col("doc_id") % 5 != 0),
        docs.filter(F.col("doc_id") % 5 == 0),
        "doc_id",
        "text",
    ).collect()
    assert {(r.doc_a, r.doc_b) for r in got} == expected
    for r in got:
        is_nn = r.doc_a % 5 == 0 and r.doc_b % 5 == 0
        assert r.pair_type == ("new-new" if is_nn else "cross")
        assert r.doc_a < r.doc_b


def test_incremental_lsh_overlapping_ids_no_self_pairs(spark):
    """A batch that re-ingests docs already in the settled corpus must not
    emit degenerate (x, x) cross pairs (ADVICE r12): self-collisions on
    shared band keys are dropped before least/greatest orients the pair."""
    from data_warehousing_assignment_spark.operators.dedup import (
        minhash_lsh_incremental_candidates,
    )
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    # batch = every 5th doc; corpus = EVERYTHING (batch included)
    got = minhash_lsh_incremental_candidates(
        docs,
        docs.filter(F.col("doc_id") % 5 == 0),
        "doc_id",
        "text",
    ).collect()
    assert got  # overlap region has near-dups at this SF
    # exactly one row per pair (a both-in-batch pair also surfaces via
    # its corpus copies in the cross branch — must not duplicate), the
    # honest label on each, and no degenerate (x, x)
    assert len(got) == len({(r.doc_a, r.doc_b) for r in got})
    for r in got:
        assert r.doc_a < r.doc_b  # in particular: no (x, x)
        is_nn = r.doc_a % 5 == 0 and r.doc_b % 5 == 0
        assert r.pair_type == ("new-new" if is_nn else "cross")


def test_incremental_lsh_three_batch_chain_converges_and_is_idempotent(spark):
    """VERDICT r12 #5: the production shape is a CHAIN — apply batch k
    against the settled corpus, fold it in, apply k+1. Pins (a) the union
    of per-step candidates over a 3-batch chain equals the full-corpus
    candidate set, and (b) re-applying an already-folded batch yields the
    same pair set again (idempotent probe, no new or degenerate pairs)."""
    from data_warehousing_assignment_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_lsh_incremental_candidates,
    )
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]

    full = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_candidates(docs, "doc_id", "text").collect()
    }

    corpus = batches[0]
    chain = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_candidates(
            batches[0], "doc_id", "text"
        ).collect()
    }
    step_pairs = []
    for b in batches[1:]:
        step = {
            (r.doc_a, r.doc_b)
            for r in minhash_lsh_incremental_candidates(
                corpus, b, "doc_id", "text"
            ).collect()
        }
        step_pairs.append(step)
        chain |= step
        corpus = corpus.unionByName(b)

    # (a) convergence: chain accumulation == full-corpus candidates
    assert chain == full

    # (b) idempotency: re-applying batch 1 against the corpus that already
    # contains it returns exactly the full pairs touching batch 1 — the
    # same SET as the first application plus the new-new pairs it emitted
    # then, with nothing degenerate and nothing new.
    replay = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_incremental_candidates(
            corpus, batches[1], "doc_id", "text"
        ).collect()
    }
    touching_b1 = {
        (a, b) for a, b in full if a % 3 == 1 or b % 3 == 1
    }
    assert replay == touching_b1
    assert all(a < b for a, b in replay)


def test_exact_dedup_incremental_three_batch_chain(spark):
    """VERDICT r12 #5, exact-hash twin: chain 3 batches through the
    corpus-hash-index classification (the op-ext-dedup-incremental shape)
    and pin (a) the chained 'unique' survivors equal the batch-major /
    id-minor first occurrence per normalized hash over the whole corpus,
    and (b) re-applying a folded batch classifies every doc dup_of_corpus."""
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id",
        F.md5(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        ).alias("h"),
    )

    def classify(corpus_hashes, batch):
        firsts = batch.groupBy("h").agg(F.min("doc_id").alias("first_id"))
        return (
            batch.join(
                corpus_hashes.withColumn("_in", F.lit(True)), "h", "left"
            )
            .join(firsts, "h")
            .select(
                "doc_id",
                F.when(F.col("_in").isNotNull(), F.lit("dup_of_corpus"))
                .when(F.col("doc_id") > F.col("first_id"), F.lit("dup_in_batch"))
                .otherwise(F.lit("unique"))
                .alias("status"),
            )
        )

    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    corpus_hashes = batches[0].select("h").distinct().limit(0)  # empty start
    unique_ids = set()
    for b in batches:
        rows = classify(corpus_hashes, b).collect()
        unique_ids |= {r.doc_id for r in rows if r.status == "unique"}
        corpus_hashes = corpus_hashes.unionByName(
            b.select("h")
        ).distinct()

    # (a) convergence: pure-Python replay of batch-major, id-minor firsts
    all_rows = sorted(
        ((r.doc_id % 3, r.doc_id, r.h) for r in docs.collect())
    )
    seen, want = set(), set()
    for _, doc_id, h in all_rows:
        if h not in seen:
            seen.add(h)
            want.add(doc_id)
    assert unique_ids == want

    # (b) idempotency: batch 1 re-applied against the full corpus index
    replay = classify(corpus_hashes, batches[1]).collect()
    assert replay and all(r.status == "dup_of_corpus" for r in replay)


# --- r14: shared shingle frame (one tokenize+shingle pass for the
# clustering pipeline) must be value-identical to the inline paths ----------


def test_shared_shingle_frame_matches_inline_candidates_and_jaccard(spark):
    df = docs_df(spark)
    shf = dd.shingle_frame(df, "doc_id", "text", 3)
    # candidate pairs: shared-frame signatures ≡ inline signatures
    inline_c = sorted(
        map(tuple, dd.minhash_lsh_candidates(df, "doc_id", "text").collect())
    )
    shared_c = sorted(
        map(
            tuple,
            dd.minhash_lsh_candidates(
                df, "doc_id", "text", shingles=shf
            ).collect(),
        )
    )
    assert inline_c == shared_c and len(inline_c) > 0
    # jaccard verify: shared-frame sets ≡ inline sets (values too)
    cands = dd.minhash_lsh_candidates(df, "doc_id", "text")
    inline_j = sorted(
        map(
            tuple,
            dd.ngram_jaccard_pairs(df, cands, "doc_id", "text").collect(),
        )
    )
    shared_j = sorted(
        map(
            tuple,
            dd.ngram_jaccard_pairs(
                df, cands, "doc_id", "text", shingles=shf
            ).collect(),
        )
    )
    assert inline_j == shared_j and len(inline_j) > 0
