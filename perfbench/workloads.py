"""The benchmark's workloads: what one op is, how a pass runs, and how
the outputs of the last pass are checked.

An *op* is one call into the engine timed from the build call through the
last row at the sink: a registry query built with ``queries()[name](spark,
data_dir)`` and collected to Arrow, or, for the ETL, one load of a day's
batch (``read_csv`` x3, ``plans.warehouse.run_etl`` and one
``write_table`` per warehouse output). A *pass* runs every op of the
workload once, in order.
"""

from __future__ import annotations

import os
import time
import traceback
from functools import reduce

from perfbench import gen
from perfbench.trace import NullTracer

#: registry queries of the two read workloads
ANALYTICS_OPS = [
    "op-pipe-kpi-gross-monthly",
    "op-join-inner-star",
    "op-ext-tpch-q1",
    "op-ext-tpch-q9",
]
CORPUS_OPS = [
    "op-ext-simhash",
    "op-ext-ann-lsh",
    "op-ext-dedup-exact",
]

#: warehouse outputs written per load day, grouped the way the per-layer
#: write timers report them
ETL_OUTPUTS = {
    "dim_employee": "scd2",
    "fact_employee": "facts",
    "fact_expenses": "facts",
    "fact_downtime": "facts",
    "dim_department": "dims",
    "dim_expense_type": "dims",
    "dim_process": "dims",
    "dim_location": "dims",
    "dim_time": "dims",
    "dq": "dq_audit",
    "audit": "dq_audit",
}
FACTS = [t for t, g in ETL_OUTPUTS.items() if g == "facts"]


def parquet_rows(path: str) -> int:
    """Rows of the parquet files under ``path``, read without Spark."""
    import pyarrow.parquet as pq

    return pq.read_table(path).num_rows


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, leaving out Spark's markers."""
    size = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(base, n))
            files += 1
    return size, files


class ArrowResult:
    """A collected result with the ``.write.mode(m).parquet(path)`` surface
    that ``check_local.compare_huge`` writes its Spark side through, so the
    oracle compare reads the rows the sink received instead of running the
    query again."""

    def __init__(self, table) -> None:
        self.table = table
        self.write = self

    def mode(self, _mode: str) -> ArrowResult:
        return self

    def parquet(self, path: str) -> None:
        import pyarrow.parquet as pq

        os.makedirs(path, exist_ok=True)
        pq.write_table(self.table, os.path.join(path, "part-0.parquet"))


class RegistryWorkload:
    """Registry queries over one dataset made by ``make(root, seed, sf)``."""

    #: ops run again and again in a long-lived session, so the first pass
    #: warms the JVM up and is not timed with the rest
    warmup = 1
    #: the warm-up and three timed passes at least, so the fastest timed
    #: pass is likely to miss a slow spell of a shared host
    min_passes = 4

    def __init__(self, name: str, ops: list[str], make, sf: float) -> None:
        self.name, self.ops, self.make, self.sf = name, ops, make, sf

    def generate(self, data_root: str, seed: int, scale: float) -> dict:
        data_dir, meta = self.make(data_root, seed, self.sf * scale)
        return {"dir": data_dir, "meta": meta, "bytes": dir_bytes(data_dir)[0]}

    def pass_ops(self, inputs: dict, index: int) -> list[str]:
        return list(self.ops)

    def pass_input(self, inputs: dict, index: int) -> tuple[int, int]:
        """(rows, bytes) of the dataset the pass reads."""
        return sum(inputs["meta"]["rows"].values()), inputs["bytes"]

    def run_op(self, env, inputs: dict, op: str, out_root: str, tr) -> None:
        with tr.span("build", leaf=True):
            df = env.queries[op](env.spark, inputs["dir"])
        if tr.enabled:
            with tr.span("plan", leaf=True) as rec:
                df._jdf.queryExecution().executedPlan()
                rec["df"] = df
        with tr.span("sink", leaf=True):
            env.results[op] = df.toArrow()

    def check(self, env, inputs: dict, out_root: str, loaded: int, log) -> tuple[int, dict]:
        """Compare each op's last output with its DuckDB oracle on this
        run's data. Returns (mismatches, exact counts)."""
        import duckdb

        from tools import check_local

        con = duckdb.connect()
        for f in sorted(os.listdir(inputs["dir"])):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{inputs['dir']}/{f}'"
                )
        bad = 0
        for op in self.ops:
            t0 = time.perf_counter()
            try:
                ok, msg = check_local.compare_huge(
                    con, ArrowResult(env.results[op]), env.oracles[op]
                )
            except Exception:
                ok, msg = False, traceback.format_exc()
            log(f"check {self.name}/{op}: {'ok' if ok else 'FAIL'} in {time.perf_counter() - t0:.2f} s")
            if not ok:
                bad += 1
                log(f"check FAIL {self.name}/{op}: {msg}")
        con.close()
        return bad, {}


class EtlWorkload:
    """A daily feed of dirty CSV batches, loaded in one pass of two ops:
    the initial load of day 0 into an empty warehouse, then day 1 on top
    of the state day 0 wrote. Each load's state is written with
    ``write_table`` and read back as the next load's prior. A daily ETL
    runs in a fresh process, so the pass is timed cold, with no warm-up;
    a run makes it once however long ``--seconds`` is (a load takes ~100
    Spark jobs, and a second pass would not fit a run's share of the
    measurement round)."""

    name = "warehouse-etl"
    #: (op, day whose batch it loads, op whose written state is the prior)
    LOADS = [("day0", 0, None), ("day1", 1, "day0")]
    warmup = 0
    min_passes = 1

    def __init__(self, employees: int, expenses: int, downtime: int) -> None:
        self.sizes = (employees, expenses, downtime)
        self.loads = {op: (day, prior) for op, day, prior in self.LOADS}

    def generate(self, data_root: str, seed: int, scale: float) -> dict:
        e, x, o = (max(20, int(n * scale)) for n in self.sizes)
        days = max(day for _, day, _ in self.LOADS) + 1
        data_dir, meta = gen.etl_batches(data_root, seed, days, e, x, o)
        return {"dir": data_dir, "meta": meta}

    def pass_ops(self, inputs: dict, index: int) -> list[str]:
        return [op for op, _, _ in self.LOADS] if index < self.min_passes else []

    def pass_input(self, inputs: dict, index: int) -> tuple[int, int]:
        """(rows, bytes) of the raw CSV batches the pass loads."""
        days = [inputs["meta"]["days"][d] for _, d, _ in self.LOADS]
        return sum(d["raw_rows"] for d in days), sum(d["raw_bytes"] for d in days)

    def load(self, env, inputs: dict, out_root: str, d: int, prior_op: str | None, tr) -> dict:
        """Read day ``d``'s raw batches and the state ``prior_op`` wrote
        (none for the initial load); return the new lazy warehouse state
        from ``run_etl``."""
        from data_warehousing_assignment_spark.plans.warehouse import run_etl
        from data_warehousing_assignment_spark.sources.readers import read_csv

        raw_dir = os.path.join(inputs["dir"], f"day{d}")
        with tr.span("read", leaf=True):
            raw = [
                read_csv(env.spark, os.path.join(raw_dir, f"{f}.csv"))
                for f in ("hr", "finance", "ops")
            ]
            prior = None
            if prior_op is not None:
                prior = {
                    t: env.spark.read.parquet(os.path.join(out_root, prior_op, t))
                    for t in ETL_OUTPUTS if t not in ("dq", "audit")
                }
        with tr.span("build", leaf=True):
            return run_etl(env.spark, *raw, inputs["meta"]["days"][d]["load_date"], prior)

    def run_op(self, env, inputs: dict, op: str, out_root: str, tr) -> None:
        """Load the op's day and write every output under ``out_root/<op>``."""
        from data_warehousing_assignment_spark.sources.writers import write_table

        state = self.load(env, inputs, out_root, *self.loads[op], tr)
        for table, group in ETL_OUTPUTS.items():
            if tr.enabled:
                with tr.span("plan", leaf=True, table=table) as rec:
                    state[table]._jdf.queryExecution().executedPlan()
                    rec["df"] = state[table]
            with tr.span("write", leaf=True, table=table, group=group):
                write_table(state[table], os.path.join(out_root, op, table))

    def check(self, env, inputs: dict, out_root: str, loaded: int, log) -> tuple[int, dict]:
        """Every load's DQ rows against the planted counts, the SCD2
        invariants of the last state and its expired rows per load date
        against the planted changes, and a re-load of the last batch on
        the state it wrote, which must insert 0 fact rows. Counts the
        written outputs with pyarrow. Returns (mismatches, exact counts of
        day 1, the first incremental load)."""
        import pyarrow.parquet as pq
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from data_warehousing_assignment_spark.plans.scd2 import assert_scd2_invariants

        out = lambda op, t: os.path.join(out_root, op, t)  # noqa: E731
        days = inputs["meta"]["days"]
        bad = 0
        try:
            last = self.LOADS[-1][0]
            violations = assert_scd2_invariants(
                env.spark.read.parquet(out(last, "dim_employee")), "employee_id"
            )
            if any(violations.values()):
                bad += 1
                log(f"check FAIL warehouse-etl: SCD2 invariants {violations}")
            expired: dict[str, int] = {}
            for v in pq.read_table(out(last, "dim_employee"), columns=["valid_to"])[0].to_pylist():
                if v is not None:
                    expired[str(v)] = expired.get(str(v), 0) + 1
            facts = {}
            for op, d, _ in self.LOADS:
                dq = parquet_rows(out(op, "dq"))
                changed = expired.get(days[d]["load_date"], 0)
                facts[op] = sum(parquet_rows(out(op, t)) for t in FACTS)
                if dq != days[d]["dq_rows"] or changed != days[d]["scd2_changed"]:
                    bad += 1
                    log(
                        f"check FAIL warehouse-etl {op}: dq {dq} vs planted "
                        f"{days[d]['dq_rows']}, scd2 changes {changed} vs planted "
                        f"{days[d]['scd2_changed']}"
                    )
            again = self.load(env, inputs, out_root, self.loads[last][0], last, NullTracer())
            reinserted = reduce(
                DataFrame.unionByName,
                [again[t].select(F.lit(1).alias("n")) for t in FACTS],
            ).count() - facts[last]
            if reinserted != 0:
                bad += 1
                log(f"check FAIL warehouse-etl: re-load inserted {reinserted} fact rows")
            counts = {
                "scd2_changed_rows": expired.get(days[1]["load_date"], 0),
                "fact_rows_inserted": facts["day1"] - facts["day0"],
                "dq_rows": parquet_rows(out("day1", "dq")),
            }
        except Exception:
            bad += 1
            counts = {}
            log(f"check FAIL warehouse-etl: {traceback.format_exc()}")
        return bad, counts


#: name -> workload at full size (the smoke tests pass a smaller scale)
WORKLOADS = {
    "warehouse-etl": EtlWorkload(employees=1_000, expenses=2_000, downtime=1_000),
    "analytics": RegistryWorkload("analytics", ANALYTICS_OPS, gen.analytics_tables, sf=0.05),
    "corpus-curation": RegistryWorkload("corpus-curation", CORPUS_OPS, gen.corpus_tables, sf=0.01),
}
