"""Streaming CEP (complex event processing) via ``applyInPandasWithState``:
the incremental twin of op-ext-seq-match's ``v[cs]*p`` conversion
pattern (registry_relational.py) — view, then only clicks/signups, then
purchase.

The pattern compiles to a 2-state DFA, which is what makes it
streamable with O(1) state per key: leftmost non-overlapping matching
of ``v[cs]*p`` needs only (armed?, n_conversions) — after a completed
or broken match the scanner can never re-enter a dead prefix, so no
suffix buffer is required. Equivalence to the regex formulation is
pinned in tests/test_cep.py (DFA ≡ regexp count on every user) and the
stream replay converges to the batch final state.

Ordering contract: the DFA consumes each user's events in event-time
order. Within a micro-batch the handler sorts; ACROSS batches it
assumes in-order delivery (the test feeds time-split files; a
production deployment puts a watermark-buffered sort — or the
dedup/sessionize pattern's window — in front, exactly like every
sequence-sensitive streaming operator). The contract is CHECKED, not
just assumed (r8 review): state carries the last-processed ts_us, and
any event arriving below it is counted in the ``n_late`` output
column — out-of-order delivery that could corrupt n_conversions is
observable per key instead of silent. A non-zero n_late says "put the
watermark sort in front"; the batch twin is always n_late = 0 (one
fully-sorted batch).

Scale notes: state is 5 small integers per user — no event buffer, no
string accumulation — so 10⁹ users is ~tens of GB of state store,
and the per-batch work is one (user)-keyed shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

STATE_SCHEMA = StructType(
    [
        StructField("armed", LongType()),         # DFA state: 0 idle, 1 armed
        StructField("n_events", LongType()),
        StructField("n_conversions", LongType()),
        StructField("last_ts_us", LongType()),    # high-watermark consumed
        StructField("n_late", LongType()),        # events below it (OOO)
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("n_conversions", LongType()),
        StructField("n_late", LongType()),
    ]
)


def advance_dfa(armed: int, n_conv: int, initials) -> tuple[int, int]:
    """Run the v[cs]*p matcher over a sequence of event initials.

    Leftmost non-overlapping semantics: 'v' arms (or re-arms) the
    matcher, 'c'/'s' keep an armed match alive, 'p' completes it
    (count++, disarm), anything else ('e', or 'p' while idle) disarms.
    """
    for ch in initials:
        if ch == "v":
            armed = 1
        elif armed:
            if ch == "p":
                n_conv += 1
                armed = 0
            elif ch not in ("c", "s"):
                armed = 0
    return armed, n_conv


#: state of a user with no events yet: (armed, n_events, n_conversions,
#: last_ts_us, n_late)
_INITIAL = (0, 0, 0, None, 0)


def _step(state: tuple, pdf: pd.DataFrame) -> tuple[tuple, tuple[int, int, int]]:
    """One batch ``pdf`` of a user's events applied to its ``state``:
    the new state and the row ``(n_events, n_conversions, n_late)``."""
    armed, n_events, n_conv, last_ts, n_late = state
    if len(pdf):
        pdf = pdf.sort_values(["ts_us", "event_id"])
        # Ordering-contract check: an event below the previous batch's
        # high-watermark arrived out of order — the DFA has already
        # consumed later events, so this event's effect on
        # n_conversions is suspect. Count it (observable corruption)
        # but still feed it: dropping would be a different silent lie.
        if last_ts is not None:
            n_late += int((pdf["ts_us"] < last_ts).sum())
        batch_max = pdf["ts_us"].max()
        if not pd.isna(batch_max):
            last_ts = (
                int(batch_max)
                if last_ts is None
                else max(int(last_ts), int(batch_max))
            )
        n_events += len(pdf)
        armed, n_conv = advance_dfa(armed, n_conv, _initials(pdf))
    state = (
        int(armed),
        int(n_events),
        int(n_conv),
        None if last_ts is None else int(last_ts),
        int(n_late),
    )
    return state, (n_events, n_conv, n_late)


def _frame(key: tuple[Any, ...], row: tuple[int, int, int]) -> pd.DataFrame:
    n_events, n_conv, n_late = row
    return pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n_events],
            "n_conversions": [n_conv],
            "n_late": [n_late],
        }
    )


def _update(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    prior = state.get if state.exists else _INITIAL
    new, row = _step(prior, pd.concat(list(batches)))
    state.update(new)
    yield _frame(key, row)


def _initials(pdf: pd.DataFrame) -> list[str]:
    """First letter of each event type; NULL/empty types are SKIPPED,
    matching the regex twin exactly (Spark's array_join and DuckDB's
    string_agg both drop NULL initials) — raising would kill the
    streaming query on one dirty row (r8 review)."""
    return [t[0] for t in pdf["event_type"] if isinstance(t, str) and t]


def _single_batch(key: tuple[Any, ...], pdf: pd.DataFrame) -> pd.DataFrame:
    """Static twin of _update: one group = one fully-sorted batch from
    the initial state, so nothing can be late."""
    return _frame(key, _step(_INITIAL, pdf)[1])


def conversion_cep(events: DataFrame) -> DataFrame:
    """Per-user conversion counting as a stateful CEP operator. Input
    needs (user_id, event_type, ts_us, event_id). Streams update the
    DFA state per micro-batch; a static frame takes the
    ``applyInPandas`` twin (one batch, fresh state) — identical
    output contract."""
    cols = events.select("user_id", "event_type", "ts_us", "event_id")
    grouped = cols.groupBy("user_id")
    if not events.isStreaming:
        return grouped.applyInPandas(_single_batch, OUTPUT_SCHEMA)
    return grouped.applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
