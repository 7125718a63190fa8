"""Custom stateful streaming operator via ``applyInPandasWithState``
(extension surface, SURVEY.md §7.5 — the reference has no streaming).

Operator: per-user running totals with burst detection — keeps (count,
value sum, max single micro-batch count) as group state across
micro-batches and emits one row per (user, batch) update. The same
semantics run in batch mode through :func:`user_totals_batch` and the
two are asserted equal on the final state (tests/test_stateful.py) —
the Structured Streaming correctness contract.

Scale notes: state is keyed by user_id and lives in the state store —
per-key size here is 3 numbers, so state growth is O(distinct users),
and a production deployment would add state TTL
(``GroupStateTimeout.ProcessingTimeTimeout``) to bound it. The grouping
shuffle is the same one the batch aggregate pays.

Successor API: Spark 4's ``transformWithStateInPandas`` (typed state
variables, timers, TTL) is the upgrade path for this operator, but its
Python worker requires ``google.protobuf``, absent in this
environment — probed each round via
:func:`transform_with_state_available` (re-checked r8: still absent;
tests/test_stateful.py carries a skip-gated smoke test that activates
the moment the dependency appears). The ``applyInPandasWithState``
formulation below is API-stable in 4.x and semantically equivalent for
this operator's needs.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from data_warehousing_assignment_spark.functions.exact import MONEY_DECIMAL

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("max_batch", LongType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("max_batch", LongType()),
    ]
)


#: state of a user with no events yet: (n_events, total_value, max_batch)
_INITIAL = (0, 0.0, 0)


def _step(state: tuple[int, float, int], pdf: pd.DataFrame) -> tuple[int, float, int]:
    """One batch ``pdf`` of a user's events applied to its ``state``; the
    new state is also the row the batch emits."""
    n, total, max_batch = state
    # exact 2-dp money semantics: sum in integer cents
    total += float(pdf["value"].mul(100).round().sum()) / 100.0
    return n + len(pdf), total, max(max_batch, len(pdf))


def _frame(key: tuple[Any, ...], state: tuple[int, float, int]) -> pd.DataFrame:
    n, total, max_batch = state
    return pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total],
            "max_batch": [max_batch],
        }
    )


def _update(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    prior = state.get if state.exists else _INITIAL
    new = _step(prior, pd.concat(list(batches)))
    state.update(new)
    yield _frame(key, new)


def _single_batch(key: tuple[Any, ...], pdf: pd.DataFrame) -> pd.DataFrame:
    """Static twin of _update: one group = one batch from the initial state."""
    return _frame(key, _step(_INITIAL, pdf))


def user_totals_stateful(events: DataFrame) -> DataFrame:
    """Running per-user totals as a custom stateful operator. On a stream
    each micro-batch updates the group state and emits the new running
    totals. ``applyInPandasWithState`` is streaming-only, so a static
    frame takes the ``applyInPandas`` twin (one batch, fresh state) —
    identical output contract, which is what the parity test pins."""
    grouped = events.select("user_id", "value").groupBy("user_id")
    if not events.isStreaming:
        return grouped.applyInPandas(_single_batch, OUTPUT_SCHEMA)
    return grouped.applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def user_totals_batch(events: DataFrame) -> DataFrame:
    """Batch-mode ground truth for the stateful operator's final state
    (decimal-exact sum, like the state's integer-cents accumulation)."""
    return (
        events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(MONEY_DECIMAL))
            .cast("double")
            .alias("total_value"),
        )
    )


def transform_with_state_available() -> bool:
    """Feasibility probe for the transformWithStateInPandas successor
    API: its worker protocol is protobuf-serialized, so the Python
    side hard-requires google.protobuf. Returns False (with no import
    side effects) in environments where the API cannot run."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        return False
    return hasattr(
        __import__("pyspark.sql", fromlist=["GroupedData"]).GroupedData,
        "transformWithStateInPandas",
    )
