"""Skew mitigation: salted join (extension surface; SURVEY.md §4).

AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on in
session.py) handles most skew at runtime by splitting oversized shuffle
partitions. Salting is the manual fallback for the cases AQE can't fix —
a single hot key whose rows must still land in multiple tasks, or
non-shuffle-join plans. Semantics are identical to the plain join, which
is exactly what the oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "_salt"


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salts: int = 8,
) -> DataFrame:
    """Inner-join a skew-prone ``big`` side to ``small`` with key salting: the
    big side gets a deterministic salt in [0, n_salts) (hash of the whole
    row — spreads even a single hot key across n_salts reducers), the
    small side is replicated n_salts times, and the join key becomes
    (key, salt). Cost: small side × n_salts (fine — it's small);
    benefit: the hot key's rows split across n_salts tasks instead of
    one straggler.

    xxhash64 keeps the salt deterministic run-to-run (no rand()), so
    results are reproducible and the operator is retry-safe under task
    re-execution."""
    big_salted = big.withColumn(
        SALT_COL, F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts))
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    small_salted = small.withColumn(SALT_COL, salts)
    return big_salted.join(
        small_salted, on=[*on, SALT_COL], how="inner"
    ).drop(SALT_COL)
