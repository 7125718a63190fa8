"""Exact cross-engine primitives, each one SQL text.

Every registered query is checked bit for bit against a DuckDB oracle, so
a value that both engines compute must come from one spelling. Two such
decisions live here and nowhere else; the engine wraps a fragment in
``F.expr`` and the oracle pastes the same text into its SQL:

* **Money.** A 2-dp money/measure double is cast to ``MONEY_DECIMAL``
  before it is summed. Decimal sums are exact in both engines, so they do
  not depend on row order; the result is cast back to DOUBLE (or to
  integer cents) at the end.
* **md5-hex integers.** Content-addressed randomness (sketch slots,
  splits, bootstrap weights, synthetic coordinates) reads hex digits of
  an md5 as an integer. The engine decodes them with one ``conv()``
  (:func:`hex_int`); the oracles add up the digits one by one through
  ``instr`` on the hex alphabet (:func:`hex_int_oracle`), so the oracle
  stays an independent check of the engine's parse. Both forms run in
  both engines (Spark has no ``strpos``; ``instr`` is in both).

Keys are cast ``AS STRING``: DuckDB reads it as VARCHAR, while Spark
rejects ``VARCHAR`` without a length. A salt is glued on with ``||``,
which is NULL for a NULL key in both engines (DuckDB's ``concat`` would
skip the NULL instead).
"""

from __future__ import annotations

#: the exact decimal every money/measure value is summed in. Precision
#: 18 leaves ~16 integer digits of headroom, so sums never overflow even
#: at sf100 (Spark widens a sum of DECIMAL(18,2) to DECIMAL(28,2)).
MONEY_DECIMAL = "DECIMAL(18,2)"

_HEX = "0123456789abcdef"


def money(col: str) -> str:
    """``col`` as an exact ``MONEY_DECIMAL`` (inputs are 2-dp clean,
    TESTDATA.md tables)."""
    return f"CAST({col} AS {MONEY_DECIMAL})"


def cents(col: str) -> str:
    """Exact integer cents of a 2-dp money value (row-local)."""
    return f"CAST({money(col)} * 100 AS BIGINT)"


def dsum(col: str) -> str:
    """Order-independent exact sum of a 2-dp value, as DOUBLE."""
    return f"CAST(SUM({money(col)}) AS DOUBLE)"


def davg(col: str) -> str:
    """Deterministic average: the exact sum as DOUBLE, one IEEE divide
    by the row count (never an engine-native AVG over doubles)."""
    return f"({dsum(col)} / COUNT(*))"


def sum_cents(col: str) -> str:
    """Exact integer-cents sum of a 2-dp value (pairs with
    ``registry.ROUND2_MEAN_EXPR``)."""
    return f"CAST(SUM({money(col)}) * 100 AS BIGINT)"


def salted_md5(salt: str, key: str) -> str:
    """md5 hex of the literal ``salt`` followed by ``key`` as a string."""
    return f"md5('{salt}' || CAST({key} AS STRING))"


def hex_int(h: str, start: int | str, n: int) -> str:
    """Engine decode: the ``n`` hex digits of ``h`` from 1-based position
    ``start`` as a BIGINT (``n`` ≤ 15 stays inside int64)."""
    return f"CAST(conv(substring({h}, {start}, {n}), 16, 10) AS BIGINT)"


def nibble(h: str, i: int | str) -> str:
    """Value 0-15 of the hex digit of ``h`` at 1-based position ``i``."""
    return f"(instr('{_HEX}', substring({h}, {i}, 1)) - 1)"


def hex_int_oracle(h: str, start: int | str, n: int) -> str:
    """Oracle twin of :func:`hex_int`: the same integer as a sum of
    :func:`nibble` values, most significant digit first."""
    terms = []
    for k in range(n):
        at = start + k if isinstance(start, int) else f"{start} + {k}"
        terms.append(f"{nibble(h, at)} * {16 ** (n - 1 - k)}")
    return "(" + " + ".join(terms) + ")"
