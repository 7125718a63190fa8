"""The cross-engine exact primitives are spelled in one module each.

The money decimal and the md5-hex integer decode must read the same in
the engine and in every DuckDB oracle; a copy spelled by hand elsewhere
can drift from its twin without any oracle noticing (both sides of one
query may drift together). The same holds for the stages every vector
oracle shares: a hand copy of the quantize, the dimension index, the
exact cosine or the top-k cut changes what one oracle checks without
anything reporting it.

This guard is a text scan (no Spark session): each spelling below has one
home module, and any other package ``.py`` file that spells it fails
the scan. Use ``exact.MONEY_DECIMAL``, ``exact.money`` / ``cents`` /
``dsum`` / ``davg`` / ``sum_cents`` and ``exact.hex_int`` /
``hex_int_oracle`` / ``nibble`` for the first three, and
``similarity.oracle_vectors`` / ``oracle_cosine`` / ``oracle_top`` for
the vector-oracle stages.
"""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "data_warehousing_assignment_spark"
EXACT = PACKAGE / "functions" / "exact.py"
SIMILARITY = PACKAGE / "operators" / "similarity.py"

#: what is spelled, how to find it, and the one module that may spell it
SPELLINGS = {
    "money decimal": (re.compile(r"decimal\(\s*18\s*,\s*2\s*\)", re.I), EXACT),
    "hex alphabet": (re.compile(r"0123456789abcdef", re.I), EXACT),
    "conv call": (re.compile(r"\bconv\("), EXACT),
    "oracle quantize": (re.compile(r"FLOOR\(CAST\(x AS DOUBLE\) \*"), SIMILARITY),
    "dimension index": (re.compile(r"unnest\(range\(1, 65\)\)", re.I), SIMILARITY),
    "exact cosine": (re.compile(r"CAST\(d\.dot AS DOUBLE\)", re.I), SIMILARITY),
    "top-k cut": (
        re.compile(r"ORDER BY (\w+\.)?score DESC, (\w+\.)?neighbor_id", re.I),
        SIMILARITY,
    ),
}


def _home_text(home: Path) -> str:
    """The home's source, and for the vector stages the oracle text its
    builders render (the dimension is spelled through ``PLANE_DIM``)."""
    text = home.read_text()
    if home == SIMILARITY:
        from data_warehousing_assignment_spark.operators import similarity as sim

        text += sim.oracle_vectors() + sim.oracle_cosine("s", "p")
        text += sim.oracle_top("s", 5)
    return text


def test_exact_primitives_are_spelled_only_in_their_module():
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for n, line in enumerate(path.read_text().splitlines(), 1):
            for what, (pat, home) in SPELLINGS.items():
                if path != home and pat.search(line):
                    found.append(f"{path.relative_to(ROOT)}:{n}: {what}")
    assert not found, "\n".join(found)
    for what, (pat, home) in SPELLINGS.items():
        assert pat.search(_home_text(home)), f"{home.name} no longer spells {what}"
