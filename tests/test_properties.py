"""Property-based tests (hypothesis): date-parser totality, SCD2
invariants under arbitrary two-batch histories, imputation totality.

Each example builds one small DataFrame and runs one Spark job, so
max_examples is kept low — the properties are about input *shape*
coverage, not volume."""

from __future__ import annotations

import datetime as dt

import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

from pyspark.sql import functions as F

from data_warehousing_assignment_spark.functions import cleaning as cl
from data_warehousing_assignment_spark.functions.dates import date_safe_dispatch
from data_warehousing_assignment_spark.plans.scd2 import (
    assert_scd2_invariants,
    merge_scd2,
)

SPARK_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

date_like = st.one_of(
    st.text(max_size=20),
    st.dates(dt.date(1900, 1, 1), dt.date(2100, 1, 1)).map(str),
    st.dates(dt.date(1900, 1, 1), dt.date(2100, 1, 1)).map(
        lambda d: d.strftime("%d-%m-%Y")
    ),
    st.just(""),
    st.none(),
)


@SPARK_SETTINGS
@given(st.lists(date_like, min_size=1, max_size=30))
def test_date_parsers_are_total(spark, values):
    """Any input → a date, the fallback, or NULL — never an exception."""
    df = spark.createDataFrame([(v,) for v in values], "x string")
    out = df.select(
        F.expr(cl.parse_date_multi("x")).alias("multi"),
        F.expr(cl.parse_date_multi("x", fallback="1957-01-01")).alias("multi_fb"),
        date_safe_dispatch("x").alias("dispatch"),
    ).collect()
    for r in out:
        assert r.multi is None or isinstance(r.multi, dt.date)
        assert r.multi_fb is None or isinstance(r.multi_fb, dt.date)
        assert r.dispatch is None or isinstance(r.dispatch, dt.date)
        # with a fallback, NULL only if the INPUT was NULL (totality)
    nulls_in = sum(1 for v in values if v is None)
    nulls_out = sum(1 for r in out if r.multi_fb is None)
    assert nulls_out <= nulls_in


keys = st.sampled_from(["k1", "k2", "k3", "k4"])
attr = st.one_of(st.none(), st.sampled_from(["a", "b", "c"]))
batch = st.lists(
    st.tuples(keys, attr, attr), min_size=1, max_size=8, unique_by=lambda r: r[0]
)


@SPARK_SETTINGS
@given(batch, batch, batch)
def test_scd2_invariants_hold_for_any_history(spark, b1, b2, b3):
    """After any THREE-batch history with overlapping changes: ≤1 current
    row per key, ordered validity ranges, contiguous chains (each
    expired version closes exactly where its successor opens — the
    reference's cross-day expire-then-insert shape,
    A3_load_dim_emp.sql:42-62), and re-merging the last batch at a later
    date is a no-op."""
    mk = lambda rows: spark.createDataFrame(rows, "k string, x string, y string")
    empty = spark.createDataFrame(
        [],
        "k string, x string, y string, row_hash string, "
        "valid_from date, valid_to date, is_current boolean",
    )
    d = empty
    for i, b in enumerate((b1, b2, b3)):
        # truncate lineage between batches: each merge is 4 unioned join
        # branches over the prior dim, so an unbroken 3-deep chain makes
        # Catalyst re-optimize an exponentially growing plan on every
        # action (the real pipeline persists the dim per batch anyway)
        d = merge_scd2(d, mk(b), "k", ["x", "y"], f"2024-0{i + 1}-01")
        d = d.localCheckpoint(eager=False)
    inv = assert_scd2_invariants(d, "k")
    assert inv == {
        "multi_current_keys": 0,
        "bad_valid_ranges": 0,
        "broken_chains": 0,
    }
    d4 = merge_scd2(d, mk(b3), "k", ["x", "y"], "2024-04-01")
    canon = lambda df: sorted(map(tuple, df.collect()), key=repr)
    assert canon(d4) == canon(d)


measures = st.lists(
    st.tuples(
        st.sampled_from(["g1", "g2"]),
        st.one_of(st.none(), st.floats(0, 100, allow_nan=False).map(lambda x: round(x, 2))),
    ),
    min_size=1,
    max_size=12,
)


@SPARK_SETTINGS
@given(measures)
def test_group_mean_impute_total_and_preserves_present_values(spark, rows):
    """No NULLs out; present values pass through untouched."""
    df = spark.createDataFrame(rows, "g string, m double")
    out = cl.group_mean_impute(df, "m", ["g"]).collect()
    assert all(r.m is not None for r in out)
    present_in = sorted(v for _, v in rows if v is not None)
    # multiset of original non-null values is preserved in the output
    out_vals = sorted(r.m for r in out)
    for v in present_in:
        assert v in out_vals
        out_vals.remove(v)


intervals = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50_000_000),  # start µs
        st.integers(min_value=0, max_value=10_000_000),  # duration µs
    ),
    min_size=0,
    max_size=12,
)


@given(left=intervals, right=intervals)
@SPARK_SETTINGS
def test_interval_overlap_join_matches_naive(spark, left, right):
    """Bucketed interval-overlap join ≡ all-pairs predicate for
    arbitrary interval sets (spans crossing many buckets, zero-length
    points, boundary-exact ends, empty sides)."""
    from data_warehousing_assignment_spark.operators import timeseries as tsr

    lrows = [(i, s, s + d) for i, (s, d) in enumerate(left)]
    rrows = [(i, s, s + d) for i, (s, d) in enumerate(right)]
    ldf = spark.createDataFrame(lrows, "lid int, ls long, le long")
    rdf = spark.createDataFrame(rrows, "rid int, rs long, re long")
    got = sorted(
        (r.lid, r.rid)
        for r in tsr.interval_overlap_join(
            ldf, rdf, "ls", "le", "rs", "re", bucket_us=1_000_000
        ).collect()
    )
    naive = sorted(
        (l[0], r[0])
        for l in lrows
        for r in rrows
        if l[1] <= r[2] and r[1] <= l[2]
    )
    assert got == naive


cdc_batches = st.lists(
    st.lists(
        st.tuples(
            st.sampled_from(["K1", "K2", "K3"]),          # key
            st.integers(min_value=0, max_value=9),        # seq within batch
            st.sampled_from(["a", "b", None]),            # attr value
            st.sampled_from(["U", "U", "D"]),             # op (U-weighted)
        ),
        min_size=0,
        max_size=5,
    ),
    min_size=1,
    max_size=3,
)


@given(batches=cdc_batches)
@SPARK_SETTINGS
def test_cdc_scd2_composition_invariants_and_final_state(spark, batches):
    """CDC compaction -> merge_scd2 + expire_deleted over arbitrary
    multi-batch change streams (updates, deletes, re-inserts, NULL
    attrs, empty batches): ≤1 current row per key and ordered validity
    ranges always hold, and the open state equals a pure-Python replay
    of the stream."""
    from data_warehousing_assignment_spark.operators.analytics import (
        top_k_per_group,
    )
    from data_warehousing_assignment_spark.plans.scd2 import (
        expire_deleted,
        merge_scd2,
    )

    dim = spark.createDataFrame(
        [],
        "k string, v string, row_hash string, valid_from date, "
        "valid_to date, is_current boolean",
    )
    # Python oracle replay (global change_id disambiguates equal seqs,
    # mirroring the unique-change-id tiebreak of a real CDC log)
    state: dict[str, str | None] = {}
    cid = 0
    for bi, rows in enumerate(batches):
        stamped = []
        for (k, seq, v, op) in rows:
            stamped.append((k, seq, cid, v, op))
            cid += 1
        latest: dict[str, tuple] = {}
        for (k, seq, c, v, op) in stamped:
            cur = latest.get(k)
            if cur is None or (seq, c) > (cur[0], cur[1]):
                latest[k] = (seq, c, v, op)
        for k, (_, _, v, op) in latest.items():
            if op == "D":
                state.pop(k, None)
            else:
                state[k] = v

        cdc = spark.createDataFrame(
            stamped, "k string, seq long, cid long, v string, op string"
        )
        compact = top_k_per_group(
            cdc, ["k"], [F.desc("seq"), F.desc("cid")], k=1
        )
        as_of = f"2024-01-{bi + 1:02d}"
        dim = merge_scd2(
            dim, compact.filter(F.col("op") == "U").select("k", "v"),
            "k", ["v"], as_of,
        )
        dim = expire_deleted(
            dim, compact.filter(F.col("op") == "D").select("k"), "k", as_of
        ).localCheckpoint(eager=False)  # per-batch dim materialization
        inv = assert_scd2_invariants(dim, "k")
        assert inv["multi_current_keys"] == 0
        assert inv["bad_valid_ranges"] == 0

    got = {r.k: r.v for r in dim.collect() if r.is_current}
    assert got == state


# ---------------------------------------------------------------- skyline

sky_points = st.lists(
    st.tuples(st.integers(0, 8), st.integers(0, 20)),
    min_size=0,
    max_size=40,
)


@SPARK_SETTINGS
@given(pts=sky_points)
def test_skyline_matches_quadratic_dominance(spark, pts):
    from pyspark.sql import Row

    from data_warehousing_assignment_spark.operators.analytics import (
        skyline_2d,
    )

    if not pts:
        return
    df = spark.createDataFrame([Row(g="g", x=x, y=y) for x, y in pts])
    got = sorted(
        (r.x, r.y, r.n_points)
        for r in skyline_2d(df, ["g"], "x", "y").collect()
    )
    dedup = sorted(set(pts))
    want = sorted(
        (x, y, pts.count((x, y)))
        for x, y in dedup
        if not any(
            a >= x and b >= y and (a > x or b > y) for a, b in dedup
        )
    )
    assert got == want


# ------------------------------------------------------------ snapshot diff

kv_rows = st.dictionaries(
    st.integers(0, 15),
    st.one_of(st.none(), st.integers(-3, 3)),
    max_size=12,
)


@SPARK_SETTINGS
@given(old=kv_rows, new=kv_rows)
def test_snapshot_diff_partitions_key_space(spark, old, new):
    """Every key in either snapshot lands in exactly one class, classes
    are mutually consistent with plain set algebra, and unchanged keys
    (null-safe equal values) are exactly the ones suppressed."""
    from pyspark.sql import Row
    from pyspark.sql.types import (
        IntegerType, StructField, StructType,
    )

    schema = StructType(
        [StructField("k", IntegerType()), StructField("v", IntegerType())]
    )
    o = spark.createDataFrame(
        [Row(k=k, v=v) for k, v in old.items()], schema
    )
    n = spark.createDataFrame(
        [Row(k=k, v=v) for k, v in new.items()], schema
    )
    from data_warehousing_assignment_spark.operators.diff import snapshot_diff

    got = {
        r.k: r.change_type
        for r in snapshot_diff(o, n, ["k"], ["v"]).collect()
    }
    want = {}
    for k in set(old) | set(new):
        if k not in old:
            want[k] = "added"
        elif k not in new:
            want[k] = "removed"
        elif old[k] != new[k]:
            want[k] = "changed"
    assert got == want


# ---------------------------------------------------------------------------
# round-7 closing-wave properties
# ---------------------------------------------------------------------------


@SPARK_SETTINGS
@given(
    st.lists(
        st.tuples(
            st.integers(1, 3),          # group
            st.integers(1, 12),         # line number (may collide → unique'd)
            st.integers(1, 10_000_00),  # weight cents
        ),
        min_size=1,
        max_size=24,
    ),
    st.integers(1, 50_000_00),  # header total cents
)
def test_bridge_allocation_always_reconciles(spark, rows, total):
    """Largest-remainder allocation: for ANY weights and header total,
    per-group allocations sum EXACTLY to the total and every allocation
    is within 1 cent of exact pro-rata."""
    from data_warehousing_assignment_spark.plans.kimball import bridge_allocate

    uniq = {}
    for g, ln, w in rows:
        uniq[(g, ln)] = w
    data = [(g, ln, w, total) for (g, ln), w in uniq.items()]
    df = spark.createDataFrame(
        data, ["grp", "line", "weight_cents", "total_cents"]
    )
    out = bridge_allocate(
        df, "grp", "line", "weight_cents", "total_cents"
    ).collect()
    by_grp: dict = {}
    for r in out:
        by_grp.setdefault(r["grp"], []).append(r["alloc_cents"])
    for g, allocs in by_grp.items():
        assert sum(allocs) == total, (g, allocs, total)
    # pro-rata proximity
    wsum: dict = {}
    for g, ln, w, _ in data:
        wsum[g] = wsum.get(g, 0) + w
    alloc_map = {(r["grp"], r["line"]): r["alloc_cents"] for r in out}
    for g, ln, w, _ in data:
        exact = total * w / wsum[g]
        assert abs(alloc_map[(g, ln)] - exact) < 1.0 + 1e-9


@SPARK_SETTINGS
@given(
    st.dictionaries(st.integers(1, 12), st.integers(0, 99), max_size=8),
    st.dictionaries(
        st.integers(1, 16),
        st.tuples(st.sampled_from(["U", "I", "D"]), st.integers(0, 99)),
        max_size=8,
    ),
)
def test_merge_into_matches_dict_semantics(spark, target, source):
    """MERGE INTO equals the dict-based reference semantics for ANY
    target state and key-unique source batch."""
    from data_warehousing_assignment_spark.plans.kimball import merge_into

    if not target and not source:
        return
    tgt_rows = [(k, v) for k, v in target.items()]
    src_rows = [(k, v, op) for k, (op, v) in source.items()]
    expected = dict(target)
    for k, (op, v) in source.items():
        if op == "D":
            expected.pop(k, None)
        else:
            expected[k] = v
    tgt = spark.createDataFrame(
        tgt_rows, "k int, v int"
    ) if tgt_rows else spark.createDataFrame([], "k int, v int")
    src = spark.createDataFrame(
        src_rows, "k int, v int, op string"
    ) if src_rows else spark.createDataFrame([], "k int, v int, op string")
    got = {
        r["k"]: r["v"] for r in merge_into(tgt, src, "k", ["v"]).collect()
    }
    assert got == expected


@SPARK_SETTINGS
@given(
    st.lists(st.integers(-1000, 1000), min_size=1, max_size=40),
)
def test_cusum_prefix_min_identity(spark, xs):
    """The windowed closed form S_i = P_i − min(0, min_{j≤i} P_j)
    equals the literal recurrence S_i = max(0, S_{i-1} + x_i) for ANY
    integer deviation series."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(xs)], "i int, d long"
    )
    wrun = (
        Window.orderBy("i").rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow)
    )
    out = (
        df.withColumn("pre", F.sum("d").over(wrun))
        .withColumn(
            "cusum",
            F.col("pre")
            - F.least(F.min("pre").over(wrun), F.lit(0).cast("long")),
        )
        .orderBy("i")
        .collect()
    )
    s = 0
    for r, x in zip(out, xs):
        s = max(0, s + x)
        assert r["cusum"] == s


# ---------------------------------------------------- distributed prefix

prefix_values = st.lists(
    st.tuples(
        st.integers(min_value=-(10**9), max_value=10**9),  # value
        st.integers(min_value=1, max_value=50),            # count
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[0],
)


@SPARK_SETTINGS
@given(prefix_values, st.integers(min_value=1, max_value=7))
def test_distributed_prefix_matches_sorted_replay(spark, pts, n_buckets):
    """For ANY distinct-value frame and ANY bucket count the two-level
    prefix sum must equal the literal sorted running sum — bucket
    boundaries (the only float step) may move rows between levels but
    never change the prefix."""
    from data_warehousing_assignment_spark.operators.analytics import (
        distributed_prefix,
    )

    df = spark.createDataFrame(pts, "v long, ct long")
    got = {
        r.v: r.cum_ct
        for r in distributed_prefix(df, "v", ["ct"], n_buckets).collect()
    }
    run = 0
    for v, ct in sorted(pts):
        run += ct
        assert got[v] == run, (v, n_buckets)


@SPARK_SETTINGS
@given(prefix_values, st.integers(min_value=2, max_value=3))
def test_distributed_prefix_grouped_matches_per_group_replay(
    spark, pts, n_groups
):
    from data_warehousing_assignment_spark.operators.analytics import (
        distributed_prefix,
    )

    rows = [(v % n_groups, v, ct) for v, ct in pts]
    df = spark.createDataFrame(rows, "g long, v long, ct long")
    got = {
        (r.g, r.v): r.cum_ct
        for r in distributed_prefix(
            df, "v", ["ct"], n_buckets=3, groups=["g"]
        ).collect()
    }
    for g in set(r[0] for r in rows):
        run = 0
        for gg, v, ct in sorted(r for r in rows if r[0] == g):
            run += ct
            assert got[(g, v)] == run, (g, v)


@SPARK_SETTINGS
@given(prefix_values, st.integers(min_value=1, max_value=7))
def test_distributed_prefix_null_value_prefixes_first(spark, pts, n_buckets):
    """A NULL v must be KEPT and prefix BEFORE every non-null value
    (declared NULLS FIRST order, r9 advice) — not silently dropped by a
    NULL width_bucket assignment."""
    from data_warehousing_assignment_spark.operators.analytics import (
        distributed_prefix,
    )

    rows = [(None, 7)] + [(int(v), int(ct)) for v, ct in pts]
    df = spark.createDataFrame(rows, "v long, ct long")
    out = distributed_prefix(df, "v", ["ct"], n_buckets).collect()
    assert len(out) == len(rows)  # the NULL row survives
    got = {r.v: r.cum_ct for r in out}
    assert got[None] == 7  # NULLS FIRST: nothing precedes it
    run = 7
    for v, ct in sorted(pts):
        run += ct
        assert got[v] == run, (v, n_buckets)
