"""Seeded input generators for the benchmark workloads.

Three generators, each deterministic in its seed and cached on disk per
(seed, size) under the benchmark's work directory, so generation never
lands inside ``setup_s`` or a timed pass:

* :func:`etl_batches` -- dirty HR / finance / operations CSV batches for
  several consecutive load days, with the dirt patterns of FIXTURES.md
  planted at known rates and the planted counts recorded in the cache
  metadata (the ETL check compares the DQ log against them);
* :func:`analytics_tables` -- the TPC-H-ish star schema plus ``events``
  with the value domains of the engine's parquet test tables;
* :func:`corpus_tables` -- ``documents`` and ``embeddings`` with a planted
  near-duplicate rate.

Only numpy, pyarrow and the standard library are used: the inputs exist
before the engine starts.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def cached(root: str, name: str, build) -> tuple[str, dict]:
    """Return ``(dir, meta)`` for ``root/name``, calling ``build(tmp_dir)``
    (which returns the metadata dict) only when no complete copy exists.
    The copy is built in a temporary directory and renamed into place, so
    an interrupted build never leaves a half-written cache entry."""
    out = os.path.join(root, name)
    marker = os.path.join(out, "_META.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            return out, json.load(fh)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    with open(os.path.join(tmp, "_META.json"), "w") as fh:
        json.dump(meta, fh, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, meta


def _write_parquet(path: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, path)
    return table.num_rows


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    span = (hi - lo).days
    return np.datetime64(lo) + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _ts_us(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


# --------------------------------------------------------------------------
# analytics: TPC-H-ish star schema + events
# --------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "green"]
_PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def analytics_tables(root: str, seed: int, sf: float) -> tuple[str, dict]:
    """Star schema at scale factor ``sf`` (sf 0.1 = 150 k orders, 600 k
    lineitems, 100 k events, the size of the engine's sf0.1 test tables),
    one parquet file per table."""

    def build(dst: str) -> dict:
        rng = np.random.default_rng([seed, 1])
        n_c = max(100, int(150_000 * sf))
        n_s = max(10, int(10_000 * sf))
        n_p = max(100, int(200_000 * sf))
        n_o = max(1000, int(1_500_000 * sf))
        n_l = 4 * n_o
        n_e = max(1000, int(1_000_000 * sf))
        n_u = max(50, int(15_000 * sf))
        rows = {}
        rows["region"] = _write_parquet(f"{dst}/region.parquet", {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        })
        rows["nation"] = _write_parquet(f"{dst}/nation.parquet", {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
        rows["customer"] = _write_parquet(f"{dst}/customer.parquet", {
            "c_custkey": np.arange(n_c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_c)],
        })
        rows["supplier"] = _write_parquet(f"{dst}/supplier.parquet", {
            "s_suppkey": np.arange(n_s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
        })
        adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), n_p)]
        noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), n_p)]
        rows["part"] = _write_parquet(f"{dst}/part.parquet", {
            "p_partkey": np.arange(n_p, dtype=np.int64),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_p).astype(str)),
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_p)],
            "p_size": rng.integers(1, 51, n_p).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(n_p) % 1000) / 10.0,
        })
        rows["orders"] = _write_parquet(f"{dst}/orders.parquet", {
            "o_orderkey": np.arange(n_o, dtype=np.int64),
            "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_o),
            "o_orderdate": _ts_us(_days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_o)),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_o)],
        })
        rows["lineitem"] = _write_parquet(f"{dst}/lineitem.parquet", {
            "l_orderkey": rng.integers(0, n_o, n_l).astype(np.int64),
            "l_partkey": rng.integers(0, n_p, n_l).astype(np.int64),
            "l_suppkey": rng.integers(0, n_s, n_l).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_l),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
            "l_shipdate": _ts_us(_days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_l)),
        })
        secs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_e))
        rows["events"] = _write_parquet(f"{dst}/events.parquet", {
            "event_id": np.arange(n_e, dtype=np.int64),
            "ts": pa.array(
                np.datetime64("2024-01-01T00:00:00", "us") + secs.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": rng.integers(0, n_u, n_e).astype(np.int64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_e)],
            "value": np.round(rng.exponential(60.0, n_e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
        })
        return {"seed": seed, "sf": sf, "rows": rows}

    return cached(root, f"analytics-sf{sf:g}-seed{seed}", build)


# --------------------------------------------------------------------------
# corpus: documents + embeddings with planted near-duplicates
# --------------------------------------------------------------------------

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def corpus_tables(
    root: str, seed: int, sf: float, dup_rate: float = 0.05, dim: int = 64
) -> tuple[str, dict]:
    """``documents`` (50 k at sf 1) and ``embeddings`` (20 k at sf 1).
    A ``dup_rate`` share of documents copies an earlier original (not
    itself a copy) with one word replaced and ' dup' appended; the same
    share of vectors copies an earlier vector plus small noise."""

    def build(dst: str) -> dict:
        rng = np.random.default_rng([seed, 2])
        n_d = max(100, int(50_000 * sf))
        n_v = max(100, int(20_000 * sf))
        vocab = np.array(_VOCAB)
        texts: list[str] = []
        originals: list[int] = []
        dup_docs = 0
        for i in range(n_d):
            if originals and rng.random() < dup_rate:
                words = texts[originals[int(rng.integers(0, len(originals)))]].split(" ")
                words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
                texts.append(" ".join(words) + " dup")
                dup_docs += 1
            else:
                originals.append(i)
                texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 90))]))
        _write_parquet(f"{dst}/documents.parquet", {
            "doc_id": np.arange(n_d, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, n_d, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_d)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })
        labels = rng.integers(0, 10, n_v)
        centers = rng.normal(0.0, 1.0, (10, dim))
        vecs = centers[labels] + rng.normal(0.0, 1.2, (n_v, dim))
        dup_vecs = np.flatnonzero(rng.random(n_v) < dup_rate)
        dup_vecs = dup_vecs[dup_vecs > 0]
        src = (rng.random(len(dup_vecs)) * dup_vecs).astype(np.int64)
        vecs[dup_vecs] = vecs[src] + rng.normal(0.0, 0.01, (len(dup_vecs), dim))
        labels[dup_vecs] = labels[src]
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
        _write_parquet(f"{dst}/embeddings.parquet", {
            "vec_id": np.arange(n_v, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n_v * dim + 1, dim), pa.int32()), flat
            ),
            "label": labels.astype(np.int32),
        })
        return {
            "seed": seed, "sf": sf, "dup_rate": dup_rate,
            "rows": {"documents": n_d, "embeddings": n_v},
            "planted": {"near_dup_documents": dup_docs, "near_dup_vectors": int(len(dup_vecs))},
        }

    return cached(root, f"corpus-sf{sf:g}-seed{seed}", build)


# --------------------------------------------------------------------------
# warehouse ETL: dirty daily batches
# --------------------------------------------------------------------------

HR_HEADER = ["EmployeeID", "Name", "Department", "Gender", "DateOfJoining",
             "ManagerID", "Salary", "Status"]
FIN_HEADER = ["EmployeeID", "ExpenseType", "ExpenseAmount", "ExpenseDate", "ApprovedBy"]
OPS_HEADER = ["Department", "ProcessName", "DowntimeHours", "ProcessDate", "Location"]

_DEPTS = ["IT", "HR", "Finance", "Operations", "Marketing"]
_FIRST = ["Alice", "Bob", "Chen", "Dana", "Eve", "Farid", "Gita", "Hugo", "Ines", "Jon"]
_LAST = ["Smith", "Khan", "Li", "Garcia", "Okafor", "Novak", "Silva", "Berg"]
_EXP_TYPES = ["Travel", "Meals", "Supplies", "Training", "Equipment"]
_OPS_DEPTS = ["Finance", "HR", "IT", "Legal", "Marketing", "Operations"]
_PROCESSES = ["Backup", "Audit", "Payroll", "Deploy", "Inventory"]
_LOCATIONS = ["HQ", "Warehouse", "Remote Site A", "Remote Site B", "Remot Site A"]

#: Per-employee dirt, fixed for the employee's whole life so cleaned
#: attributes change only where a change is planted. The DQ-logged kinds
#: are the ones ``plans.warehouse.clean_hr`` reports.
_HR_DIRT = {
    "clean": 0.40, "case_dept": 0.08, "dayfirst": 0.08, "float_mgr": 0.08,
    "gender_variant": 0.08, "status_case": 0.06, "blank_dept": 0.03,
    "no_id": 0.02, "bad_gender": 0.04, "bad_date": 0.04, "neg_salary": 0.05,
    "no_mgr": 0.04,
}
_HR_DQ_KINDS = ("bad_gender", "bad_date", "neg_salary", "no_mgr")
#: Kinds whose rendering hides a department or manager change.
_NO_CHANGE_KINDS = ("no_id", "blank_dept", "no_mgr")


def _render_hr(e: dict) -> list[str]:
    k = e["dirt"]
    dept = e["dept"]
    if k == "case_dept":
        dept = dept.lower() if e["n"] % 2 else dept.capitalize()
    elif k == "blank_dept":
        dept = ""
    gender = e["gender"]
    if k == "gender_variant":
        gender = {"M": ["m", "MALE", " male "], "F": ["f", "FEMALE", "Female"]}[gender][e["n"] % 3]
    elif k == "bad_gender":
        gender = ["x", "unknown", "?"][e["n"] % 3]
    d = e["doj"]
    doj = d.strftime("%d-%m-%Y") if k == "dayfirst" else d.isoformat()
    if k == "bad_date":
        doj = ["not-a-date", "2019/13/45", "N/A"][e["n"] % 3]
    mgr = e["mgr"]
    if k == "float_mgr":
        mgr = f"{mgr}.0"
    elif k == "no_mgr":
        mgr = ""
    salary = f"{e['salary'] / 100:.2f}" if e["n"] % 2 else str(e["salary"] // 100)
    if k == "neg_salary":
        salary = "-" + salary
    status = e["status"]
    if k == "status_case":
        status = status.upper() if e["n"] % 2 else status.lower()
    emp_id = "" if k == "no_id" else e["id"]
    return [emp_id, e["name"], dept, gender, doj, mgr, salary, status]


def _new_employee(rng, n: int) -> dict:
    kinds = list(_HR_DIRT)
    return {
        "n": n,
        "id": str(100_000 + n),
        "name": f"{_FIRST[rng.integers(0, len(_FIRST))]} {_LAST[rng.integers(0, len(_LAST))]} {n}",
        "dept": _DEPTS[rng.integers(0, len(_DEPTS))],
        "gender": "MF"[rng.integers(0, 2)],
        "doj": dt.date(2010, 1, 1) + dt.timedelta(days=int(rng.integers(0, 5000))),
        "mgr": str(2000 + int(rng.integers(1, 50))),
        "salary": int(rng.integers(3_000_000, 15_000_000)),
        "status": ["Active", "Resigned"][int(rng.random() < 0.1)],
        "dirt": kinds[rng.choice(len(kinds), p=list(_HR_DIRT.values()))],
    }


def _write_csv(path: str, header: list[str], rows: list[list[str]]) -> None:
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        w.writerows(rows)


def etl_batches(
    root: str,
    seed: int,
    days: int,
    employees: int,
    expenses: int,
    downtime: int,
    change_rate: float = 0.05,
    hire_rate: float = 0.02,
    dup_rate: float = 0.02,
) -> tuple[str, dict]:
    """``days`` daily batches ``day{d}/{hr,finance,ops}.csv``. Each HR batch
    is a full employee snapshot; finance and ops batches are fresh
    transactions. Planted per day: exact duplicate rows, orphan expense
    FKs, the ``Travell`` typo, dd-mm-yyyy and unparseable dates,
    float-string ids, negative salaries and amounts, blank approvers and
    missing downtime, plus ``change_rate`` SCD2 attribute changes and
    ``hire_rate`` new hires. ``meta["days"][d]`` records the DQ rows and
    SCD2 changes the load of that day must report."""

    def build(dst: str) -> dict:
        rng = np.random.default_rng([seed, 3])
        staff = [_new_employee(rng, n) for n in range(employees)]
        per_day = []
        for d in range(days):
            changed = 0
            if d > 0:
                eligible = [e for e in staff if e["dirt"] not in _NO_CHANGE_KINDS]
                picks = rng.choice(len(eligible), int(len(eligible) * change_rate), replace=False)
                for i in picks:
                    e = eligible[int(i)]
                    if rng.random() < 0.5:
                        e["dept"] = _DEPTS[(_DEPTS.index(e["dept"]) + 1 + int(rng.integers(0, 4))) % 5]
                    else:
                        e["mgr"] = str(2050 + len(staff) + int(i))
                    changed += 1
                for _ in range(max(1, int(employees * hire_rate))):
                    staff.append(_new_employee(rng, len(staff)))
            day_dir = os.path.join(dst, f"day{d}")
            os.makedirs(day_dir)

            # HR: full snapshot + exact duplicates of clean rows
            hr_rows = [_render_hr(e) for e in staff]
            clean_rows = [r for e, r in zip(staff, hr_rows) if e["dirt"] == "clean"]
            n_dup = max(1, int(len(staff) * dup_rate))
            dup_idx = rng.choice(len(clean_rows), n_dup, replace=False)
            hr_rows += [clean_rows[int(i)] for i in dup_idx]
            hr_rows = [hr_rows[int(i)] for i in rng.permutation(len(hr_rows))]
            hr_dq = sum(e["dirt"] in _HR_DQ_KINDS for e in staff) + n_dup
            _write_csv(f"{day_dir}/hr.csv", HR_HEADER, hr_rows)

            # Finance: one dirt kind per row; amounts are unique per day so
            # every orphan row survives dedup as its own DQ row.
            ids = [e["id"] for e in staff if e["dirt"] != "no_id"]
            cents = 1_000 + rng.permutation(expenses) * 7 + int(rng.integers(0, 7))
            fin_rows, fin_clean, fin_dq = [], [], 0
            for i in range(expenses):
                u = rng.random()
                emp = ids[int(rng.integers(0, len(ids)))]
                etype = _EXP_TYPES[int(rng.integers(0, 5))]
                amount = f"{cents[i] / 100:.2f}"
                date = dt.date(2023, 1, 1) + dt.timedelta(days=int(rng.integers(0, 420)))
                sdate = date.isoformat()
                appr = str(2000 + int(rng.integers(1, 50)))
                if u < 0.03:
                    emp = str(900_000 + int(rng.integers(0, 90_000)))  # orphan FK
                    fin_dq += 1
                elif u < 0.07:
                    amount = "-" + amount  # refund
                    fin_dq += 1
                elif u < 0.10:
                    appr = ""
                    fin_dq += 1
                elif u < 0.14:
                    appr += ".0"
                elif u < 0.18:
                    etype = "Travell" if etype == "Travel" else etype.lower()
                elif u < 0.20:
                    etype = ""
                elif u < 0.24:
                    sdate = date.strftime("%d-%m-%Y")
                row = [emp, etype, amount, sdate, appr]
                fin_rows.append(row)
                if u >= 0.10:
                    fin_clean.append(row)
            n_fdup = max(1, int(expenses * dup_rate))
            fin_rows += [fin_clean[int(i)] for i in rng.choice(len(fin_clean), n_fdup, replace=False)]
            _write_csv(f"{day_dir}/finance.csv", FIN_HEADER, fin_rows)

            # Operations
            ops_rows, ops_clean, ops_dq = [], [], 0
            for i in range(downtime):
                u = rng.random()
                dept = _OPS_DEPTS[int(rng.integers(0, 6))]
                proc = _PROCESSES[int(rng.integers(0, 5))]
                hours = f"{rng.integers(1, 2400) / 100:.2f}"
                pdate = (dt.date(2023, 1, 1) + dt.timedelta(days=int(rng.integers(0, 420)))).isoformat()
                loc = _LOCATIONS[int(rng.integers(0, 5))]
                if u < 0.06:
                    hours = ""  # imputed from the group mean
                    ops_dq += 1
                elif u < 0.09:
                    pdate = ["bad-date", ""][i % 2]  # 1957-01-01 fallback
                    ops_dq += 1
                elif u < 0.12:
                    dept = ""
                elif u < 0.14:
                    proc = ""
                row = [dept, proc, hours, pdate, loc]
                ops_rows.append(row)
                if u >= 0.09:
                    ops_clean.append(row)
            n_odup = max(1, int(downtime * dup_rate))
            ops_rows += [ops_clean[int(i)] for i in rng.choice(len(ops_clean), n_odup, replace=False)]
            _write_csv(f"{day_dir}/ops.csv", OPS_HEADER, ops_rows)

            per_day.append({
                "load_date": (dt.date(2024, 3, 1) + dt.timedelta(days=d)).isoformat(),
                "raw_rows": len(hr_rows) + len(fin_rows) + len(ops_rows),
                "raw_bytes": sum(
                    os.path.getsize(f"{day_dir}/{f}.csv") for f in ("hr", "finance", "ops")
                ),
                "dq_rows": hr_dq + fin_dq + ops_dq,
                "scd2_changed": changed,
            })
        return {
            "seed": seed, "employees": employees, "expenses": expenses,
            "downtime": downtime, "days": per_day,
        }

    name = f"etl-d{days}-e{employees}-x{expenses}-o{downtime}-seed{seed}"
    return cached(root, name, build)
