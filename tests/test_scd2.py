"""SCD Type 2 merge invariants (ref ``A3_load_dim_emp.sql:27-62``; dbt
``snapshots/scd2_dim_employee.sql``): ≤1 current row per key, valid
ranges ordered, re-running the same batch is a no-op (idempotent), and
changed rows expire-then-insert."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from data_warehousing_assignment_spark.plans.scd2 import (
    assert_scd2_invariants,
    merge_scd2,
    scd2_row_hash,
)
from tests.conftest import count_jobs

KEY, ATTRS = "emp_id", ["name", "dept"]


def mk_dim(spark, rows):
    return spark.createDataFrame(
        rows,
        "emp_id string, name string, dept string, row_hash string, "
        "valid_from date, valid_to date, is_current boolean",
    )


def mk_inc(spark, rows):
    return spark.createDataFrame(rows, "emp_id string, name string, dept string")


def seed_dim(spark, as_of="2024-01-01"):
    inc = mk_inc(spark, [("E1", "Ann", "IT"), ("E2", "Bob", "HR")])
    empty = mk_dim(spark, [])
    return merge_scd2(empty, inc, KEY, ATTRS, as_of)


def test_initial_load_all_current(spark):
    dim = seed_dim(spark)
    rows = dim.collect()
    assert len(rows) == 2
    assert all(r.is_current and r.valid_to is None for r in rows)
    assert all(r.valid_from == dt.date(2024, 1, 1) for r in rows)
    inv = assert_scd2_invariants(dim, KEY)
    assert inv == {"multi_current_keys": 0, "bad_valid_ranges": 0, "broken_chains": 0}


def test_invariants_count_each_violation(spark):
    """One key with three current rows (a contiguous chain), one key whose
    only row closes before it opens, one key whose history has a gap and
    one healthy key: each counter is exactly 1, the multi-current
    counter counts keys, not rows, and all three come from one action."""
    d = dt.date
    dim = mk_dim(spark, [
        ("A", "a", "x", "h", d(2024, 1, 1), d(2024, 2, 1), True),
        ("A", "a", "y", "h", d(2024, 2, 1), d(2024, 3, 1), True),
        ("A", "a", "z", "h", d(2024, 3, 1), None, True),
        ("B", "b", "x", "h", d(2024, 3, 1), d(2024, 2, 1), False),
        ("C", "c", "x", "h", d(2024, 1, 1), d(2024, 1, 15), False),
        ("C", "c", "y", "h", d(2024, 2, 1), None, True),
        ("D", "d", "x", "h", d(2024, 1, 1), None, True),
    ])
    inv, jobs = count_jobs(spark, lambda: assert_scd2_invariants(dim, KEY))
    assert inv == {"multi_current_keys": 1, "bad_valid_ranges": 1, "broken_chains": 1}
    # one action: the window's and the aggregate's shuffle stages and the
    # result, where three count() actions ran 8 jobs
    assert jobs <= 3, f"{jobs} jobs"


def test_changed_row_expires_and_inserts(spark):
    dim = seed_dim(spark)
    inc2 = mk_inc(spark, [("E1", "Ann", "FINANCE"), ("E2", "Bob", "HR")])
    dim2 = merge_scd2(dim, inc2, KEY, ATTRS, "2024-02-01")
    e1 = {(r.dept, r.is_current): r for r in dim2.filter(F.col(KEY) == "E1").collect()}
    assert ("IT", False) in e1 and ("FINANCE", True) in e1
    assert e1[("IT", False)].valid_to == dt.date(2024, 2, 1)
    assert e1[("FINANCE", True)].valid_from == dt.date(2024, 2, 1)
    # unchanged key untouched
    e2 = dim2.filter(F.col(KEY) == "E2").collect()
    assert len(e2) == 1 and e2[0].is_current
    inv = assert_scd2_invariants(dim2, KEY)
    assert inv == {"multi_current_keys": 0, "bad_valid_ranges": 0, "broken_chains": 0}


def test_rerun_same_batch_is_idempotent(spark):
    dim = seed_dim(spark)
    inc = mk_inc(spark, [("E1", "Ann", "IT"), ("E2", "Bob", "HR")])
    dim2 = merge_scd2(dim, inc, KEY, ATTRS, "2024-03-01")
    a = sorted(map(tuple, dim.collect()))
    b = sorted(map(tuple, dim2.collect()))
    assert a == b


def test_null_attribute_change_detected(spark):
    # (NULL, 'x') vs ('x', NULL) must hash differently (null-safe hash)
    dim = merge_scd2(
        mk_dim(spark, []),
        mk_inc(spark, [("E1", None, "IT")]),
        KEY,
        ATTRS,
        "2024-01-01",
    )
    dim2 = merge_scd2(
        dim, mk_inc(spark, [("E1", "IT", None)]), KEY, ATTRS, "2024-02-01"
    )
    cur = dim2.filter(F.col("is_current")).collect()
    assert len(cur) == 1 and cur[0].name == "IT" and cur[0].dept is None
    assert dim2.count() == 2  # old row expired, not collapsed


def test_row_hash_concat_ws_null_distinction(spark):
    df = spark.createDataFrame(
        [("a", None), (None, "a")], "x string, y string"
    ).select(F.expr(scd2_row_hash(["x", "y"])).alias("h"))
    h1, h2 = [r.h for r in df.collect()]
    assert h1 != h2


def test_merge_matches_three_join_formulation(spark):
    """The r14 single-full-outer-join merge must emit exactly the row
    set of the original three-join formulation (changed-keys inner,
    new-keys anti, semi/anti consumers — kept inline here as the
    semantic spec) on a batch that exercises every branch: changed,
    unchanged, brand-new, absent-from-batch, and null attributes."""
    dim = mk_dim(spark, [
        ("E1", "Ann", "IT", None, dt.date(2024, 1, 1), None, True),
        ("E2", "Bob", "HR", None, dt.date(2024, 1, 1), None, True),
        ("E3", "Cyd", "ML", None, dt.date(2024, 1, 1), None, True),
        ("E4", None, "OPS", None, dt.date(2024, 1, 1), None, True),
        # one closed history row that must pass through untouched
        ("E1", "Ann", "OLD", None, dt.date(2023, 1, 1),
         dt.date(2024, 1, 1), False),
    ]).withColumn(
        "row_hash",
        F.when(F.col("is_current"), F.expr(scd2_row_hash(ATTRS)))
        .otherwise(F.col("row_hash")),
    )
    inc = mk_inc(spark, [
        ("E1", "Ann", "FIN"),   # changed
        ("E2", "Bob", "HR"),    # unchanged
        ("E4", None, "OPS"),    # unchanged with null attr
        ("E5", "Eve", "SEC"),   # brand new
        # E3 absent from the batch → stays open untouched
    ])
    as_of = "2024-06-01"
    got = merge_scd2(dim, inc, KEY, ATTRS, as_of)

    # --- the pre-r14 three-join formulation, verbatim ---
    inc_h = inc.select(KEY, *ATTRS).withColumn("row_hash", F.expr(scd2_row_hash(ATTRS)))
    cur_open = dim.filter(F.col("is_current"))
    history = dim.filter(~F.col("is_current"))
    changed_keys = (
        cur_open.alias("c")
        .join(inc_h.alias("i"), on=KEY)
        .filter(~F.col("c.row_hash").eqNullSafe(F.col("i.row_hash")))
        .select(KEY)
    )
    new_keys = inc_h.join(cur_open, on=KEY, how="left_anti").select(KEY)
    expired = (
        cur_open.join(changed_keys, on=KEY, how="left_semi")
        .withColumn("valid_to", F.to_date(F.lit(as_of)))
        .withColumn("is_current", F.lit(False))
    )
    unchanged = cur_open.join(changed_keys, on=KEY, how="left_anti")
    inserts = (
        inc_h.join(changed_keys.unionByName(new_keys), on=KEY, how="left_semi")
        .withColumn("valid_from", F.to_date(F.lit(as_of)))
        .withColumn("valid_to", F.lit(None).cast("date"))
        .withColumn("is_current", F.lit(True))
    )
    cols = got.columns
    ref = (
        history.select(cols)
        .unionByName(unchanged.select(cols))
        .unionByName(expired.select(cols))
        .unionByName(inserts.select(cols))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


# --- multi-batch CDC -> SCD2 composition (the Debezium->warehouse chain) ---


def _apply_cdc_batch(spark, dim, batch_rows, as_of):
    """One micro-batch: CDC-compact (latest change per key wins, change_id
    tiebreak) -> split upserts/tombstones -> merge_scd2 + expire_deleted."""
    from data_warehousing_assignment_spark.operators.analytics import (
        top_k_per_group,
    )
    from data_warehousing_assignment_spark.plans.scd2 import expire_deleted

    cdc = spark.createDataFrame(
        batch_rows, "emp_id string, seq long, change_id long, name string, "
        "dept string, op string"
    )
    latest = top_k_per_group(
        cdc, ["emp_id"], [F.desc("seq"), F.desc("change_id")], k=1
    )
    ups = latest.filter(F.col("op") == "U").select("emp_id", "name", "dept")
    dels = latest.filter(F.col("op") == "D").select("emp_id")
    dim = merge_scd2(dim, ups, KEY, ATTRS, as_of)
    # a real pipeline overwrites the dim table per batch; checkpointing
    # models that materialization boundary (and keeps lineage bounded)
    return expire_deleted(dim, dels, KEY, as_of).localCheckpoint(eager=False)


def _replay(batches):
    """Pure-Python oracle: final open state of the change stream."""
    state = {}
    for rows in batches:
        latest = {}
        for (k, seq, cid, name, dept, op) in rows:
            cur = latest.get(k)
            if cur is None or (seq, cid) > (cur[0], cur[1]):
                latest[k] = (seq, cid, name, dept, op)
        for k, (_, _, name, dept, op) in latest.items():
            if op == "D":
                state.pop(k, None)
            else:
                state[k] = (name, dept)
    return state


def test_cdc_to_scd2_three_batches_with_tombstones(spark):
    """Deterministic 3-batch chain exercising: in-batch compaction,
    update, delete, re-insert after delete, and delete of a never-seen
    key. Invariants hold throughout; final open state == Python replay;
    never-deleted keys keep contiguous version chains."""
    from data_warehousing_assignment_spark.plans.scd2 import expire_deleted  # noqa: F401

    batches = [
        # b1: E1 twice in-batch (compaction keeps seq 2), E2, E3
        [("E1", 1, 1, "Ann", "IT", "U"), ("E1", 2, 2, "Ann", "OPS", "U"),
         ("E2", 1, 3, "Bob", "HR", "U"), ("E3", 1, 4, "Cyd", "ML", "U")],
        # b2: E1 dept change, E2 tombstone, E9 delete-of-unknown-key
        [("E1", 3, 5, "Ann", "FIN", "U"), ("E2", 3, 6, None, None, "D"),
         ("E9", 3, 7, None, None, "D")],
        # b3: E2 re-insert after its deletion, E3 unchanged re-send
        [("E2", 5, 8, "Bob", "SEC", "U"), ("E3", 5, 9, "Cyd", "ML", "U")],
    ]
    dates = ["2024-01-01", "2024-02-01", "2024-03-01"]
    dim = mk_dim(spark, [])
    for rows, as_of in zip(batches, dates):
        dim = _apply_cdc_batch(spark, dim, rows, as_of)
        inv = assert_scd2_invariants(
            # chain contiguity is only promised for never-deleted keys:
            # a tombstone's validity gap is real (see expire_deleted)
            dim.filter(~F.col(KEY).isin("E2", "E9")), KEY
        )
        assert inv == {
            "multi_current_keys": 0, "bad_valid_ranges": 0, "broken_chains": 0
        }, f"invariants broken after batch dated {as_of}"
        # current-uniqueness + range sanity hold for tombstoned keys too
        inv_all = assert_scd2_invariants(dim, KEY)
        assert inv_all["multi_current_keys"] == 0
        assert inv_all["bad_valid_ranges"] == 0

    rows = dim.collect()
    open_state = {
        r.emp_id: (r.name, r.dept) for r in rows if r.is_current
    }
    assert open_state == _replay(batches)
    # E1's full version chain: OPS (b1) -> FIN (b2), contiguous
    e1 = sorted(
        ((r.valid_from, r.valid_to, r.dept) for r in rows if r.emp_id == "E1")
    )
    assert [d for _, _, d in e1] == ["OPS", "FIN"]
    assert e1[0][1] == e1[1][0]  # expire date == next valid_from
    # E2: closed first version (deleted), then a fresh open version
    e2 = sorted(
        ((r.valid_from, r.valid_to, r.is_current) for r in rows
         if r.emp_id == "E2")
    )
    assert len(e2) == 2 and not e2[0][2] and e2[1][2]
    assert e2[0][1] is not None  # tombstone closed it
    # the unknown-key delete (E9) must not create any row
    assert not [r for r in rows if r.emp_id == "E9"]
