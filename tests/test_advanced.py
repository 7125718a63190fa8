"""Semantics pins for the registry_advanced operators: skyline vs the
quadratic definition, fixed-point PageRank invariants, snapshot-diff
classification, time-weighted average by hand, Gini closed forms, MAD
vs numpy, kNN voting, and compaction-group reconstruction."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_warehousing_assignment_spark.operators.analytics import skyline_2d
from data_warehousing_assignment_spark.operators.diff import snapshot_diff
from data_warehousing_assignment_spark.operators.graph import (
    pagerank_fixed_point,
)
from data_warehousing_assignment_spark.operators.timeseries import (
    time_weighted_avg,
)

@pytest.fixture(autouse=True)
def _release_registry_pins(spark):
    """Registry queries pin operator-internal frames that are normally
    drained when the NEXT query builds (registry.py release_unscoped),
    and the iterative ops here (pagerank, BPE) leave localCheckpoint
    RDDs that persist until the JVM ContextCleaner GCs them. Drain both
    after each test — otherwise the residue skews test_caching.py's
    cached-RDD baseline accounting nondeterministically."""
    yield
    from data_warehousing_assignment_spark.caching import release_unscoped

    release_unscoped()
    for jrdd in list(
        spark.sparkContext._jsc.getPersistentRDDs().values()
    ):
        jrdd.unpersist(False)


# ---------------------------------------------------------------- skyline


def _naive_skyline(points):
    """Quadratic weak-dominance reference: keep (x, y) iff no other
    point has x' >= x and y' >= y with one strict."""
    dedup = sorted(set(points))
    out = []
    for x, y in dedup:
        dominated = any(
            (a >= x and b >= y and (a > x or b > y)) for a, b in dedup
        )
        if not dominated:
            out.append((x, y, points.count((x, y))))
    return sorted(out)


def test_skyline_matches_quadratic_definition(spark):
    rng = random.Random(7)
    pts = [(rng.randint(0, 12), rng.randint(0, 1000)) for _ in range(300)]
    # force duplicate points and a tied-x frontier slice
    pts += [(12, 1000), (12, 1000), (0, 1000), (12, 0)]
    df = spark.createDataFrame(
        [Row(g="a", x=x, y=y) for x, y in pts]
    )
    got = sorted(
        (r.x, r.y, r.n_points)
        for r in skyline_2d(df, ["g"], "x", "y").collect()
    )
    assert got == _naive_skyline(pts)


def test_skyline_groups_are_independent(spark):
    df = spark.createDataFrame(
        [
            Row(g="a", x=1, y=10),
            Row(g="a", x=2, y=5),
            Row(g="b", x=1, y=1),  # frontier of b even though a beats it
        ]
    )
    got = {
        (r.g, r.x, r.y) for r in skyline_2d(df, ["g"], "x", "y").collect()
    }
    assert got == {("a", 1, 10), ("a", 2, 5), ("b", 1, 1)}


# --------------------------------------------------------------- pagerank


def _simulate_pagerank(edges, iters=3, d=85, scale=10**9):
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    deg = {n: sum(1 for s, _ in edges if s == n) for n in nodes}
    r = {n: scale for n in nodes}
    base = (100 - d) * scale // 100
    for _ in range(iters):
        contrib = {n: 0 for n in nodes}
        for s, t in edges:
            contrib[t] += r[s] // deg[s]
        r = {n: base + (d * contrib[n]) // 100 for n in nodes}
    return r


def test_pagerank_matches_reference_simulation(spark):
    # K1,2 star symmetrized: hub h, leaves a/b — plus a 2-cycle c<->d
    edges = [
        ("h", "a"), ("a", "h"), ("h", "b"), ("b", "h"),
        ("c", "d"), ("d", "c"),
    ]
    df = spark.createDataFrame([Row(src=s, dst=t) for s, t in edges])
    got = {
        r.node: r.rank_i for r in pagerank_fixed_point(df, iters=3).collect()
    }
    assert got == _simulate_pagerank(edges)
    # the hub of the star outranks its leaves
    assert got["h"] > got["a"] == got["b"]


def test_pagerank_is_deterministic_across_runs(spark):
    rng = random.Random(3)
    edges = list(
        {(rng.randint(0, 30), rng.randint(0, 30)) for _ in range(200)}
    )
    edges = [(s, t) for s, t in edges if s != t]
    sym = edges + [(t, s) for s, t in edges]
    df = spark.createDataFrame(
        [Row(src=f"n{s}", dst=f"n{t}") for s, t in sym]
    )
    a = sorted((r.node, r.rank_i) for r in pagerank_fixed_point(df).collect())
    b = sorted((r.node, r.rank_i) for r in pagerank_fixed_point(df).collect())
    assert a == b
    assert a == sorted(
        _simulate_pagerank(
            [(f"n{s}", f"n{t}") for s, t in sym]
        ).items()
    )


# ----------------------------------------------------------- snapshot diff


def test_snapshot_diff_classification(spark):
    old = spark.createDataFrame(
        [
            Row(k=1, v=10, w="x"),
            Row(k=2, v=20, w="y"),
            Row(k=3, v=30, w=None),
            Row(k=4, v=40, w="z"),
        ]
    )
    new = spark.createDataFrame(
        [
            Row(k=1, v=10, w="x"),      # unchanged
            Row(k=2, v=21, w="y"),      # changed (v)
            Row(k=3, v=30, w="now"),    # changed (NULL -> value)
            Row(k=5, v=50, w="new"),    # added
        ]
    )  # k=4 removed
    got = {
        r.k: r.change_type
        for r in snapshot_diff(old, new, ["k"], ["v", "w"]).collect()
    }
    assert got == {2: "changed", 3: "changed", 4: "removed", 5: "added"}

    with_unchanged = snapshot_diff(
        old, new, ["k"], ["v", "w"], include_unchanged=True
    )
    assert with_unchanged.count() == 5
    assert (
        with_unchanged.filter(F.col("change_type") == "unchanged")
        .select("k").first().k == 1
    )


# -------------------------------------------------------------------- TWA


def test_time_weighted_avg_hand_case(spark):
    # value 100 cents holds for 3s, then 300 cents for 1s: TWA = 1.50
    df = spark.createDataFrame(
        [
            Row(u=1, us=0, vc=100, i=0),
            Row(u=1, us=3_000_000, vc=300, i=1),
            Row(u=1, us=4_000_000, vc=999, i=2),  # last obs: weight 0
            Row(u=2, us=0, vc=500, i=3),  # single obs -> dropped
        ]
    )
    rows = time_weighted_avg(df, "u", "us", "vc", "i").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.u, r.n_obs, r.span_s) == (1, 3, 4)
    assert r.twa_value == pytest.approx((100 * 3 + 300 * 1) / 4 / 100.0)


# --------------------------------------------------------------- registry


def _q(name):
    from data_warehousing_assignment_spark.registry import all_queries

    return all_queries()[name]


SF = "/root/testdata/sf0.001"


def test_gini_closed_form_small(spark):
    # Gini of registered op must match a numpy Lorenz computation.
    rows = _q("op-ext-gini")(spark, SF).collect()
    import duckdb

    per_cust = duckdb.sql(
        f"""
        SELECT c.c_nationkey, o.o_custkey,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS x
        FROM '{SF}/orders.parquet' o
        JOIN '{SF}/customer.parquet' c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
        """
    ).fetchall()
    by_nation = {}
    for nk, _, x in per_cust:
        by_nation.setdefault(nk, []).append(x)
    nation_names = dict(
        duckdb.sql(
            f"SELECT n_nationkey, n_name FROM '{SF}/nation.parquet'"
        ).fetchall()
    )
    for r in rows:
        xs = np.sort(
            np.array(
                by_nation[
                    next(
                        k for k, v in nation_names.items() if v == r.nation
                    )
                ],
                dtype=np.float64,
            )
        )
        n = len(xs)
        expected = (
            2 * np.sum(np.arange(1, n + 1) * xs) / (n * xs.sum())
            - (n + 1) / n
        )
        assert r.gini == pytest.approx(float(expected), rel=1e-12)
        assert -0.01 <= r.gini <= 1.0


def test_mad_outliers_vs_numpy(spark):
    rows = _q("op-ext-mad-outliers")(spark, SF).collect()
    import duckdb

    data = duckdb.sql(
        f"""
        SELECT l_returnflag,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        FROM '{SF}/lineitem.parquet'
        """
    ).fetchall()
    by_flag = {}
    for fl, c in data:
        by_flag.setdefault(fl, []).append(c)
    for r in rows:
        xs = np.array(by_flag[r.l_returnflag], dtype=np.float64)
        med = np.median(xs)
        mad = np.median(np.abs(xs - med))
        assert r.mad_dollars == pytest.approx(mad / 100.0)
        expected_outliers = int(np.sum(np.abs(xs - med) > 4.4478 / 4 * 4 * mad))
        assert r.n_outliers == expected_outliers
        assert r.n_rows == len(xs)


def test_knn_classify_votes_and_truth(spark):
    rows = _q("op-ext-knn-classify")(spark, SF).collect()
    assert rows, "query set must not be empty"
    for r in rows:
        assert 1 <= r.n_votes <= 5
        assert r.is_correct == (r.pred_label == r.true_label)


def test_compaction_plan_reconstruction(spark):
    rows = _q("op-ext-compaction-plan")(spark, SF).collect()
    import duckdb

    files = duckdb.sql(
        f"SELECT source, doc_id, n_chars FROM '{SF}/documents.parquet' "
        "ORDER BY source, doc_id"
    ).fetchall()
    expect = {}
    running = {}
    for src, doc, sz in files:
        prior = running.get(src, 0)
        gid = prior // 4000
        key = (src, gid)
        agg = expect.setdefault(key, [0, 0, doc, doc])
        agg[0] += 1
        agg[1] += sz
        agg[3] = doc
        running[src] = prior + sz
    got = {
        (r.source, r.group_id): [
            r.n_files, r.group_chars, r.first_doc, r.last_doc
        ]
        for r in rows
    }
    assert got == expect
    # groups are contiguous id ranges per source: no overlaps
    by_src = {}
    for (src, gid), (_, _, lo, hi) in sorted(got.items()):
        assert lo <= hi
        if src in by_src:
            assert lo > by_src[src]
        by_src[src] = hi


# ------------------------------------------------------------- batch 2 ops


def test_dedup_incremental_statuses(spark):
    rows = _q("op-ext-dedup-incremental")(spark, SF).collect()
    import duckdb
    import hashlib
    import re as _re

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{SF}/documents.parquet'"
    ).fetchall()
    h = {
        d: hashlib.md5(
            _re.sub(r"\s+", " ", t.strip().lower()).encode()
        ).hexdigest()
        for d, t in docs
    }
    corpus = {h[d] for d in h if d % 5 != 0}
    batch = sorted(d for d in h if d % 5 == 0)
    firsts = {}
    expect = {}
    for d in batch:
        if h[d] in corpus:
            expect[d] = "dup_of_corpus"
        elif h[d] in firsts:
            expect[d] = "dup_in_batch"
        else:
            firsts[h[d]] = d
            expect[d] = "unique"
    assert {r.doc_id: r.status for r in rows} == expect


def test_zonemap_skip_flag_consistent(spark):
    rows = _q("op-ext-zonemap")(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.min_cents <= r.max_cents
        assert r.skippable_under_400k == (r.max_cents < 40000000)
        assert r.n_rows > 0


def test_benford_shares_partition_unity(spark):
    rows = _q("op-ext-benford")(spark, SF).collect()
    assert {r.digit for r in rows} <= set(range(1, 10))
    assert sum(r.share for r in rows) == pytest.approx(1.0)
    # Benford expectation column carries the exact literals
    assert sum(r.benford_share for r in rows) == pytest.approx(1.0)
    # monotone decreasing expectation by digit
    by_digit = sorted(rows, key=lambda r: r.digit)
    for a, b in zip(by_digit, by_digit[1:]):
        assert a.benford_share > b.benford_share


def test_abtest_ztest_closed_form(spark):
    r = _q("op-ext-abtest-ztest")(spark, SF).collect()[0]
    import duckdb

    truth = duckdb.sql(
        f"""
        WITH s AS (
          SELECT user_id, MIN(epoch_us(ts)) AS su
          FROM '{SF}/events.parquet'
          WHERE event_type = 'signup' GROUP BY 1
        ),
        p AS (
          SELECT e.user_id FROM '{SF}/events.parquet' e
          JOIN s ON e.user_id = s.user_id
          WHERE e.event_type = 'purchase'
            AND epoch_us(e.ts) > s.su
            AND epoch_us(e.ts) <= s.su + 86400000000
          GROUP BY 1
        )
        SELECT s.user_id % 2 AS v,
               CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS c
        FROM s LEFT JOIN p ON s.user_id = p.user_id
        """
    ).fetchall()
    n_a = sum(1 for v, _ in truth if v == 0)
    n_b = sum(1 for v, _ in truth if v == 1)
    conv_a = sum(c for v, c in truth if v == 0)
    conv_b = sum(c for v, c in truth if v == 1)
    assert (r.n_a, r.n_b, r.conv_a, r.conv_b) == (n_a, n_b, conv_a, conv_b)
    p = (conv_a + conv_b) / (n_a + n_b)
    z = (conv_a / n_a - conv_b / n_b) / (
        (p * (1 - p) * (1 / n_a + 1 / n_b)) ** 0.5
    )
    assert r.z_score == pytest.approx(z, rel=1e-12)
    assert r.rate_a == pytest.approx(conv_a / n_a)


def test_funnel_windowed_bounds(spark):
    rows = _q("op-ext-funnel-windowed")(spark, SF).collect()
    assert rows
    n_conv = 0
    for r in rows:
        assert r.converted_24h == (r.purchase_us is not None)
        if r.purchase_us is not None:
            n_conv += 1
            assert 0 < r.purchase_us - r.signup_us <= 86_400_000_000
            assert r.delay_s == (r.purchase_us - r.signup_us) // 1_000_000
        else:
            assert r.delay_s is None
    assert 0 < n_conv < len(rows)  # window actually binds on this data


# ------------------------------------------------------------- batch 3 ops


def test_lsh_eval_counts_vs_bruteforce(spark):
    r = _q("op-ext-lsh-eval")(spark, SF).collect()[0]
    assert 0 <= r.n_hits <= min(r.n_candidates, r.n_truth)
    if r.n_candidates:
        assert r.precision == pytest.approx(r.n_hits / r.n_candidates)
    if r.n_truth:
        assert r.recall == pytest.approx(r.n_hits / r.n_truth)
    # independent brute-force ground truth (3-word shingles, t=0.5)
    import duckdb
    import re as _re

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{SF}/documents.parquet'"
    ).fetchall()

    def shingles(txt):
        toks = _re.split(r"\s+", txt.strip().lower())
        if len(toks) < 3:
            return {" ".join(toks)}
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }

    sh = {d: shingles(t) for d, t in docs}
    ids = sorted(sh)
    n_truth = sum(
        1
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= 0.5
    )
    assert r.n_truth == n_truth


def test_mixture_schedule_interleave_property(spark):
    rows = _q("op-ext-mixture-schedule")(spark, SF).collect()
    # schedule order: every prefix consumes sources ~proportional to weight
    ordered = sorted(rows, key=lambda r: (r.sched_pos, r.lang, r.rn_in_source))
    n_en_total = sum(1 for r in rows if r.lang == "en")
    prefix = ordered[:24]
    n_en = sum(1 for r in prefix if r.lang == "en")
    # en weight 3 vs 1 for the others: expect ~ 3/(3+k-1) of the prefix
    langs = {r.lang for r in rows}
    expected = 24 * 3 / (3 + (len(langs) - 1))
    assert abs(n_en - expected) <= 6
    assert n_en <= n_en_total
    # rn_in_source is a dense 1..n_lang ranking
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.rn_in_source)
    for lang, rns in by_lang.items():
        assert sorted(rns) == list(range(1, len(rns) + 1))


def test_khop_matches_python_bfs(spark):
    rows = _q("op-ext-khop")(spark, SF).collect()
    import duckdb

    edges = duckdb.sql(
        f"""
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM '{SF}/lineitem.parquet' l
        JOIN '{SF}/orders.parquet' o ON l.l_orderkey = o.o_orderkey
        """
    ).fetchall()
    seeds = {
        s
        for (s,) in duckdb.sql(
            f"SELECT s_suppkey FROM '{SF}/supplier.parquet' "
            "WHERE s_suppkey % 17 = 0"
        ).fetchall()
    }
    h1 = {c for c, s in edges if s in seeds}
    h2 = {s for c, s in edges if c in h1} - seeds
    expect = (
        {(f"S{s}", 0) for s in seeds}
        | {(f"C{c}", 1) for c in h1}
        | {(f"S{s}", 2) for s in h2}
    )
    assert {(r.node, r.hops) for r in rows} == expect


def test_bootstrap_ci_brackets_mean(spark):
    rows = _q("op-ext-bootstrap-ci")(spark, SF).collect()
    import duckdb

    truth = dict(
        duckdb.sql(
            f"""
            SELECT l_returnflag,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                        AS DOUBLE) / COUNT(*) AS m
            FROM '{SF}/lineitem.parquet' GROUP BY 1
            """
        ).fetchall()
    )
    assert len(rows) == 3
    for r in rows:
        assert r.mean_price == pytest.approx(truth[r.l_returnflag])
        assert r.ci_lo < r.ci_hi
        # a 95% bootstrap CI on thousands of rows must bracket the mean
        assert r.ci_lo < r.mean_price < r.ci_hi
        # and be reasonably tight (few % of the mean at n≈2000)
        assert (r.ci_hi - r.ci_lo) / r.mean_price < 0.2


def test_profile_matches_pandas(spark):
    rows = {r.col_name: r for r in _q("op-ext-profile")(spark, SF).collect()}
    import duckdb

    df = duckdb.sql(f"SELECT * FROM '{SF}/documents.parquet'").df()
    assert set(rows) == {"doc_id", "text", "lang", "source", "n_chars"}
    for c, r in rows.items():
        assert r.n_rows == len(df)
        assert r.n_nulls == int(df[c].isna().sum())
        assert r.n_distinct == df[c].nunique()
        assert r.min_val == str(df[c].min())
        assert r.max_val == str(df[c].max())
        assert r.avg_len == pytest.approx(
            df[c].astype(str).str.len().mean()
        )


def test_fk_discovery_flags_true_and_false_keys(spark):
    rows = {
        r.candidate: r
        for r in _q("op-ext-fk-discovery")(spark, SF).collect()
    }
    assert len(rows) == 4
    for name, r in rows.items():
        if name.startswith("orders.o_custkey->supplier"):
            # wrong-key control fails inclusion decisively
            assert r.containment < 0.5
            assert r.n_contained <= min(r.n_child_keys, r.n_parent_keys)
        else:
            assert r.containment == 1.0, name
        assert r.containment == pytest.approx(
            r.n_contained / r.n_child_keys
        )


def reference_bpe(texts, n_merges, eow="▁"):
    """Pure-Python BPE (Sennrich et al. 2016) over whitespace words:
    ``[(rank, left, right, pair_count), ...]``, ties broken on
    (count desc, left, right), merges applied greedily left to right."""
    import collections
    import re as _re

    freq = collections.Counter(
        w for t in texts for w in _re.split(r"\s+", t.strip().lower()) if w
    )
    vocab = {tuple(w) + (eow,): n for w, n in freq.items()}
    merges = []
    for rank in range(1, n_merges + 1):
        pairs = collections.Counter()
        for syms, n in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += n
        if not pairs:
            break
        (l, r), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, l, r, cnt))
        new_vocab = {}
        for syms, n in vocab.items():
            out = []
            for x in syms:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
        vocab = new_vocab
    return merges


def test_bpe_learn_matches_reference_algorithm(spark):
    """The raw merge table (text.learn_bpe_merges) replays a pure-Python
    reference BPE exactly; the registered op (since r13 a 1-row
    structural audit with a DuckDB oracle — r12 verdict #3) must report
    the same table's structure."""
    from data_warehousing_assignment_spark.operators import text as tx

    merges = tx.learn_bpe_merges(
        spark.read.parquet(f"{SF}/documents.parquet"), "text", n_merges=8
    )
    import duckdb

    texts = [
        t
        for (t,) in duckdb.sql(
            f"SELECT text FROM '{SF}/documents.parquet'"
        ).fetchall()
    ]
    expect = reference_bpe(texts, 8)
    got = [(rk, l, r, c) for rk, l, r, c in merges]
    assert got == expect
    # the first merge is the corpus's most frequent symbol pair, and the
    # selected counts are monotone non-increasing (each later pair
    # occurrence consumes a merge site of an earlier argmax) — the
    # invariants the registered structural audit reports
    assert got[0][3] == max(r[3] for r in got)
    counts = [c for _, _, _, c in got]
    assert counts == sorted(counts, reverse=True)

    audit = _q("op-ext-bpe-learn")(spark, SF).collect()
    assert len(audit) == 1
    a = audit[0]
    assert a.n_merges == len(got) == 8
    assert a.ranks_contiguous == 1
    assert a.n_monotone == 7
    assert a.n_composed == 8
    assert (a.first_left, a.first_right, a.first_count) == got[0][1:]


def test_constraints_all_pass_on_clean_data(spark):
    rows = {
        r.constraint_name: r
        for r in _q("op-ext-constraints")(spark, SF).collect()
    }
    assert len(rows) == 5
    import duckdb

    n_orders = duckdb.sql(
        f"SELECT COUNT(*) FROM '{SF}/orders.parquet'"
    ).fetchone()[0]
    for name, r in rows.items():
        assert r.n_violations == 0, name
        if name.startswith("orders."):
            assert r.n_checked == n_orders


def test_ivm_merge_equals_full_recompute(spark):
    rows = _q("op-ext-ivm")(spark, SF).collect()
    import duckdb

    truth = {
        f: (n, c)
        for f, n, c in duckdb.sql(
            f"""
            SELECT l_returnflag, COUNT(*),
                   CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                        * 100 AS BIGINT)) AS BIGINT)
            FROM '{SF}/lineitem.parquet'
            WHERE l_shipdate < DATE '1997-01-01' GROUP BY 1
            """
        ).fetchall()
    }
    assert {r.l_returnflag: (r.n_rows, r.rev_cents) for r in rows} == truth


def test_cuped_theta_is_ols_slope_and_reduces_variance(spark):
    rows = _q("op-ext-cuped")(spark, SF).collect()
    import duckdb

    u = duckdb.sql(
        f"""
        SELECT user_id,
               SUM(CASE WHEN event_type='purchase'
                         AND ts < TIMESTAMP '2024-01-16'
                        THEN CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)
                        ELSE 0 END) AS x,
               SUM(CASE WHEN event_type='purchase'
                         AND ts >= TIMESTAMP '2024-01-16'
                        THEN CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)
                        ELSE 0 END) AS y
        FROM '{SF}/events.parquet' GROUP BY 1
        """
    ).fetchall()
    xs = np.array([float(x) for _, x, _ in u])
    ys = np.array([float(y) for _, _, y in u])
    theta = np.cov(xs, ys, bias=True)[0, 1] / np.var(xs)
    for r in rows:
        assert r.theta == pytest.approx(float(theta), rel=1e-9)
    # CUPED must not increase variance of the adjusted metric
    adj = ys - theta * (xs - xs.mean())
    assert np.var(adj) <= np.var(ys) + 1e-9


def test_zorder_layout_improves_custkey_pruning(spark):
    rows = {r.layout: r for r in _q("op-ext-zorder")(spark, SF).collect()}
    assert set(rows) == {"zorder", "datesort"}
    z, d = rows["zorder"], rows["datesort"]
    assert z.n_rows == d.n_rows  # both layouts hold every row exactly once
    # the point of z-ordering: per-file custkey extent shrinks by a lot,
    # so a custkey point predicate scans a FRACTION of the files
    assert z.avg_ck_span < d.avg_ck_span * 0.5
    assert z.files_hit_ck42 <= max(1, d.files_hit_ck42 // 2)
    # while the date dimension stays reasonably bounded (not pathological)
    assert z.avg_day_span < 2600


def test_hilbert_stage_recurrence_is_bijective_and_unit_adjacent(spark):
    """Run the EXACT shared-SQL stage recurrence (the text both the
    Spark op and the DuckDB oracle execute, scaled to a 32×32 grid)
    over every grid cell and assert the two properties that make a
    Hilbert curve a Hilbert curve: the index is a bijection onto
    [0, n²) and consecutive indices are Manhattan-distance-1 grid
    neighbors (the locality Morton lacks — Morton's seams jump)."""
    from data_warehousing_assignment_spark import registry_advanced as ra

    bits, n = 5, 32
    grid = spark.range(n * n).selectExpr(
        "CAST(id div 32 AS BIGINT) AS x0",
        "CAST(id % 32 AS BIGINT) AS y0",
        "CAST(id div 32 AS BIGINT) AS x",
        "CAST(id % 32 AS BIGINT) AS y",
        "CAST(0 AS BIGINT) AS d",
    )
    # same stage text, flip constant rescaled from 2^16-1 to 2^5-1
    for s in [1 << i for i in range(bits - 1, -1, -1)]:
        exprs = [
            e.replace(str(ra._HILBERT_N - 1), str(n - 1))
            for e in ra._hilbert_stage(s)
        ]
        grid = grid.selectExpr("x0", "y0", *exprs)
    pos = {r.d: (r.x0, r.y0) for r in grid.collect()}
    assert sorted(pos) == list(range(n * n))  # bijective onto [0, n²)
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = pos[d], pos[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, d  # unit steps only


def test_hilbert_layout_at_least_matches_zorder_pruning(spark):
    # sf0.01 on purpose: locality is an asymptotic property — at
    # sf0.001 each file holds ~27 rows and per-file bboxes are
    # sampling noise, not curve geometry (measured: hilbert "loses"
    # there, wins 23% on ck-span at sf0.01 and up).
    rows = {
        r.layout: r
        for r in _q("op-ext-hilbert-order")(
            spark, "/root/testdata/sf0.01"
        ).collect()
    }
    assert set(rows) == {"hilbert", "zorder"}
    h, z = rows["hilbert"], rows["zorder"]
    assert h.n_rows == z.n_rows  # both layouts hold every row exactly once
    # Hilbert's unit-step locality: strictly tighter on the seam-heavy
    # custkey dimension, no worse on the other, same-or-better pruning
    # for a custkey point predicate.
    assert h.avg_ck_span < z.avg_ck_span
    assert h.avg_day_span <= z.avg_day_span * 1.05
    assert h.files_hit_ck42 <= z.files_hit_ck42


# ---------------------------------------------------------- edge inputs


def test_operators_handle_empty_inputs(spark):
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    empty_edges = spark.createDataFrame(
        [], StructType([StructField("src", StringType()),
                        StructField("dst", StringType())])
    )
    assert pagerank_fixed_point(empty_edges).count() == 0

    empty_pts = spark.createDataFrame(
        [], StructType([StructField("g", StringType()),
                        StructField("x", LongType()),
                        StructField("y", LongType())])
    )
    assert skyline_2d(empty_pts, ["g"], "x", "y").count() == 0

    empty_kv = spark.createDataFrame(
        [], StructType([StructField("k", LongType()),
                        StructField("v", LongType())])
    )
    one = spark.createDataFrame([Row(k=1, v=2)])
    d = snapshot_diff(empty_kv, one, ["k"], ["v"]).collect()
    assert [(r.k, r.change_type) for r in d] == [(1, "added")]
    d2 = snapshot_diff(one, empty_kv, ["k"], ["v"]).collect()
    assert [(r.k, r.change_type) for r in d2] == [(1, "removed")]
    assert snapshot_diff(empty_kv, empty_kv, ["k"], ["v"]).count() == 0

    empty_ts = spark.createDataFrame(
        [], StructType([StructField("u", LongType()),
                        StructField("us", LongType()),
                        StructField("vc", LongType()),
                        StructField("i", LongType())])
    )
    assert time_weighted_avg(empty_ts, "u", "us", "vc", "i").count() == 0


def test_bpe_learn_merges_quote_and_backslash_symbols(spark):
    """Symbols are corpus characters, so a chosen pair can hold ' or \\;
    it enters the merge fold as an escaped SQL literal and must still
    replay the reference BPE exactly."""
    from data_warehousing_assignment_spark.operators.text import (
        learn_bpe_merges,
    )

    texts = ["a\\b a\\b don't", "don't a\\b it's", "a\\b don't won't"]
    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    got = learn_bpe_merges(docs, "text", n_merges=8)
    assert got == reference_bpe(texts, 8)
    chosen = "".join(l + r for _, l, r, _ in got)
    assert "'" in chosen and "\\" in chosen, got


def test_bpe_empty_corpus_returns_no_merges(spark):
    from data_warehousing_assignment_spark.operators.text import (
        learn_bpe_merges,
    )
    from pyspark.sql.types import StringType, StructField, StructType

    empty = spark.createDataFrame(
        [], StructType([StructField("text", StringType())])
    )
    assert learn_bpe_merges(empty, "text", n_merges=3) == []


def test_single_word_corpus_merges_to_whole_word(spark):
    from data_warehousing_assignment_spark.operators.text import (
        learn_bpe_merges,
    )

    docs = spark.createDataFrame([Row(text="ab ab ab")])
    merges = learn_bpe_merges(docs, "text", n_merges=3)
    # 'a'+'b' then 'ab'+eow; after that no pair repeats -> but a single
    # remaining pair still counts — just assert the first two exactly
    assert merges[0][1:3] == ("a", "b")
    assert merges[1][1:3] == ("ab", "▁")


def test_hll_merge_identity_and_accuracy(spark):
    rows = _q("op-ext-hll-merge")(spark, SF).collect()
    import duckdb

    exact = dict(
        duckdb.sql(
            f"SELECT event_type, COUNT(DISTINCT user_id) "
            f"FROM '{SF}/events.parquet' GROUP BY 1"
        ).fetchall()
    )
    assert {r.event_type for r in rows} == set(exact)
    for r in rows:
        # r8 surface: the registered query self-verifies both bounds
        assert r.merged_within_rsd and r.onepass_within_rsd, r
        # and the exact side it carries matches ground truth
        assert r.exact_users == exact[r.event_type]
    # mergeability identity: union of daily sketches == one-pass sketch.
    # Valid ONLY at this small SF where sketches stay in sparse (exact)
    # mode — dense HLL unions drift a few counts (observed at sf0.1,
    # r8), which is why the oracle pins the rsd bound, not equality.
    from data_warehousing_assignment_spark.registry import t as _t

    e = _t(spark, SF, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
        "user_id",
    )
    daily = e.groupBy("day", "event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    onepass = e.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")
    )
    m = {r.event_type: r.est for r in merged.collect()}
    o = {r.event_type: r.est for r in onepass.collect()}
    assert m == o


def test_dp_counts_noise_is_exactly_reproducible(spark):
    rows = _q("op-ext-dp-counts")(spark, SF).collect()
    import duckdb
    import hashlib
    import math

    truth = dict(
        duckdb.sql(
            f"SELECT CAST(c_nationkey AS BIGINT), COUNT(*) "
            f"FROM '{SF}/customer.parquet' GROUP BY 1"
        ).fetchall()
    )
    assert {r.nation_key for r in rows} == set(truth)
    for r in rows:
        assert r.true_count == truth[r.nation_key]
        h = hashlib.md5(f"dp:{r.nation_key}".encode()).hexdigest()
        u = (int(h[:4], 16) + 0.5) / 65536.0
        noise = (
            math.log(2.0 * u) if u < 0.5 else -math.log(2.0 * (1.0 - u))
        )
        assert r.noise == pytest.approx(noise, rel=1e-12)
        assert r.released_count == pytest.approx(
            truth[r.nation_key] + noise, rel=1e-12
        )
    # Laplace(1) noise: overwhelmingly within ±8 (P ~ 3e-4 per draw)
    assert all(abs(r.noise) < 8 for r in rows)


def test_dp_counts_discrete_ladder_matches_the_math(spark):
    """The frozen _DLAP_T thresholds must equal round(CDF(k)*65536) of
    the two-sided geometric with p = e^-1, and the released counts must
    replay exactly from hashlib + the ladder (integer end-to-end)."""
    import hashlib
    import math

    from data_warehousing_assignment_spark.registry_advanced import _DLAP_T

    p = math.exp(-1.0)
    c0 = (1 - p) / (1 + p)
    acc, expect = 0.0, []
    for k in range(-16, 17):
        acc += c0 * p ** abs(k)
        t = round(acc * 65536)
        if 1 <= t <= 65535:
            expect.append((k, t))
    assert _DLAP_T == expect

    rows = _q("op-ext-dp-counts-discrete")(spark, SF).collect()
    assert rows
    for r in rows:
        u16 = int(
            hashlib.md5(f"dlap:{r.nation_key}".encode()).hexdigest()[:4], 16
        )
        noise = next((k for k, t in _DLAP_T if u16 < t), 11)
        assert r.noise == noise
        assert r.released_count == r.true_count + noise


def test_retrieval_metrics_match_reference_computation(spark):
    """op-ext-retrieval-metrics vs a from-scratch numpy MRR/NDCG@10 on
    the real corpus: exact integer equality (the fixed-point discounts
    are shared constants, the ranking is the same quantized cosine)."""
    import math

    from data_warehousing_assignment_spark.registry_advanced import (
        _RM_K,
        _RM_P,
        _RM_W,
    )

    # the shared constants really are round(1e9/log2(r+1)) and prefixes
    for r in range(1, _RM_K + 1):
        assert _RM_W[r - 1] == round(1e9 / math.log2(r + 1))
    assert _RM_P[3] == _RM_W[0] + _RM_W[1] + _RM_W[2]

    rows = _q("op-ext-retrieval-metrics")(spark, SF).collect()
    assert rows
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    vecs = {r["vec_id"]: np.array([math.floor(x * 1e6) for x in r["embedding"]],
                                  dtype=np.int64) for r in emb}
    labels = {r["vec_id"]: r["label"] for r in emb}
    want = {}
    for qid in vecs:
        if qid % 100 != 0:
            continue
        qv = vecs[qid]
        scored = []
        for nid, cv in vecs.items():
            if nid == qid:
                continue
            s = float(qv @ cv) / (
                math.sqrt(float(qv @ qv)) * math.sqrt(float(cv @ cv))
            )
            scored.append((-s, nid))
        scored.sort()
        lbl = labels[qid]
        agg = want.setdefault(lbl, [0, 0, 0, 0, 0])  # nq, hit, rr, dcg, idcg
        agg[0] += 1
        first = None
        n_rel = dcg = 0
        for rank, (_, nid) in enumerate(scored[:_RM_K], start=1):
            if labels[nid] == lbl:
                n_rel += 1
                dcg += _RM_W[rank - 1]
                if first is None:
                    first = rank
        if first is not None:
            agg[1] += 1
            agg[2] += 10**9 // first
        agg[3] += dcg
        agg[4] += _RM_P[n_rel]
    for r in rows:
        nq, hit, rr, dcg, idcg = want[r["true_label"]]
        assert (r["n_queries"], r["n_with_hit"], r["sum_rr_x1e9"],
                r["sum_dcg_x1e9"], r["sum_idcg_x1e9"]) == (
            nq, hit, rr, dcg, idcg), r["true_label"]
        assert r["sum_dcg_x1e9"] <= r["sum_idcg_x1e9"]  # NDCG ≤ 1


def test_ivm_join_retraction_algebra(spark):
    """The Z-set join-maintenance rule: (1) incremental ≡ from-scratch
    recompute (the oracle pins this at sf0.01; re-pinned here at
    sf0.001); (2) a retraction exactly cancels — applying an update
    delta that moves a customer OUT and then a second delta moving it
    BACK yields the original view."""
    import duckdb

    rows = {r["seg"]: (r["n_orders"], r["rev_cents"])
            for r in _q("op-ext-ivm-join")(spark, SF).collect()}
    want = {
        r[0]: (r[1], r[2])
        for r in duckdb.sql(f"""
            WITH cn AS (SELECT c_custkey,
                   CASE WHEN c_custkey % 97 = 0 THEN 'MOVED'
                        ELSE c_mktsegment END AS seg
                 FROM '{SF}/customer.parquet')
            SELECT cn.seg, CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS BIGINT)
            FROM '{SF}/orders.parquet' o
            JOIN cn ON o.o_custkey = cn.c_custkey GROUP BY 1
        """).fetchall()
    }
    assert rows == want
    # retraction cancellation on a hand frame: +1 then -1 of the same
    # row nets to zero contribution
    from pyspark.sql import Row

    o = spark.createDataFrame([Row(k=1, pc=100)])
    c_plus = spark.createDataFrame([Row(k=1, seg="A", z=1)])
    c_minus = spark.createDataFrame([Row(k=1, seg="A", z=-1)])
    both = c_plus.unionByName(c_minus)
    net = (
        o.join(both, "k")
        .groupBy("seg")
        .agg(F.sum(F.col("z") * F.col("pc")).alias("rev"),
             F.sum("z").alias("n"))
        .filter(F.col("n") > 0)
    )
    assert net.count() == 0


def test_spatial_nn_matches_bruteforce_within_neighborhood(spark):
    """Replay the bounded-radius contract in Python: for every matched
    customer the reported supplier is the (dist2, suppkey)-min among
    suppliers in the 3x3 cell neighborhood; unmatched customers truly
    have an empty neighborhood."""
    import hashlib

    from data_warehousing_assignment_spark import registry_advanced as ra

    out = {
        r.c_custkey: (r.nn_suppkey, r.dist2)
        for r in _q("op-ext-spatial-nn")(spark, SF).collect()
    }

    def coord(salt, key):
        h = hashlib.md5(f"{salt}:{key}".encode()).hexdigest()
        return int(h[: ra._GEO_BITS_HEX], 16)

    cust = [
        r.c_custkey
        for r in spark.read.parquet(f"{SF}/customer.parquet").collect()
    ]
    supp = [
        r.s_suppkey
        for r in spark.read.parquet(f"{SF}/supplier.parquet").collect()
    ]
    cells = {}
    for s in supp:
        xs, ys = coord("gx", s), coord("gy", s)
        cells.setdefault(
            (xs // ra._GEO_CELL, ys // ra._GEO_CELL), []
        ).append((s, xs, ys))
    n_matched = 0
    for c in cust:
        xc, yc = coord("gx", c), coord("gy", c)
        cx, cy = xc // ra._GEO_CELL, yc // ra._GEO_CELL
        best = None
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                for s, xs, ys in cells.get((cx + dx, cy + dy), []):
                    d2 = (xc - xs) ** 2 + (yc - ys) ** 2
                    if best is None or (d2, s) < best:
                        best = (d2, s)
        if best is None:
            assert c not in out, c
        else:
            n_matched += 1
            assert out[c] == (best[1], best[0]), c
    assert n_matched == len(out) > 0


def test_spatial_range_join_is_complete_and_exact(spark):
    """Brute-force replay: the grid join must return EXACTLY the pairs
    with dist² ≤ R² — completeness follows from R ≤ cell width (every
    in-range partner sits in the 3×3 neighborhood)."""
    import hashlib

    from data_warehousing_assignment_spark import registry_advanced as ra

    got = {
        (r.c_custkey, r.s_suppkey): r.dist2
        for r in _q("op-ext-spatial-range")(spark, SF).collect()
    }

    def coord(salt, key):
        h = hashlib.md5(f"{salt}:{key}".encode()).hexdigest()
        return int(h[: ra._GEO_BITS_HEX], 16)

    cust = [
        r.c_custkey
        for r in spark.read.parquet(f"{SF}/customer.parquet").collect()
    ]
    supp = [
        (s, coord("gx", s), coord("gy", s))
        for s in (
            r.s_suppkey
            for r in spark.read.parquet(
                f"{SF}/supplier.parquet"
            ).collect()
        )
    ]
    expect = {}
    r2 = ra._GEO_R * ra._GEO_R
    for c in cust:
        xc, yc = coord("gx", c), coord("gy", c)
        for s, xs, ys in supp:
            d2 = (xc - xs) ** 2 + (yc - ys) ** 2
            if d2 <= r2:
                expect[(c, s)] = d2
    assert got == expect and expect


def test_spatial_knn_matches_bruteforce_within_neighborhood(spark):
    """Top-3 replay of the bounded-radius contract: ranks, neighbors
    and distances must equal the (dist2, suppkey)-sorted prefix of the
    3x3 neighborhood candidates."""
    import hashlib

    from data_warehousing_assignment_spark import registry_advanced as ra

    got = {}
    for r in _q("op-ext-spatial-knn")(spark, SF).collect():
        got.setdefault(r.c_custkey, []).append(
            (r.rnk, r.s_suppkey, r.dist2)
        )

    def coord(salt, key):
        h = hashlib.md5(f"{salt}:{key}".encode()).hexdigest()
        return int(h[: ra._GEO_BITS_HEX], 16)

    cust = [
        r.c_custkey
        for r in spark.read.parquet(f"{SF}/customer.parquet").collect()
    ]
    cells = {}
    for r in spark.read.parquet(f"{SF}/supplier.parquet").collect():
        s = r.s_suppkey
        xs, ys = coord("gx", s), coord("gy", s)
        cells.setdefault(
            (xs // ra._GEO_CELL, ys // ra._GEO_CELL), []
        ).append((s, xs, ys))
    for c in cust:
        xc, yc = coord("gx", c), coord("gy", c)
        cx, cy = xc // ra._GEO_CELL, yc // ra._GEO_CELL
        cand = []
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                for s, xs, ys in cells.get((cx + dx, cy + dy), []):
                    cand.append(
                        ((xc - xs) ** 2 + (yc - ys) ** 2, s)
                    )
        expect = [
            (i + 1, s, d2)
            for i, (d2, s) in enumerate(sorted(cand)[:3])
        ]
        assert sorted(got.get(c, [])) == expect, c
