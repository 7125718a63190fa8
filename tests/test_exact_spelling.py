"""The cross-engine exact primitives are spelled in one module.

The money decimal and the md5-hex integer decode must read the same in
the engine and in every DuckDB oracle; a copy spelled by hand elsewhere
can drift from its twin without any oracle noticing (both sides of one
query may drift together). This guard is a pure text scan (no Spark): a
package ``.py`` file other than ``functions/exact.py`` that spells the
money decimal (``decimal(18,2)``, any case), the hex alphabet or a
``conv(`` call fails it. Use ``exact.MONEY_DECIMAL``, ``exact.money`` /
``cents`` / ``dsum`` / ``davg`` / ``sum_cents``, and ``exact.hex_int`` /
``hex_int_oracle`` / ``nibble`` instead.
"""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "data_warehousing_assignment_spark"
HOME = PACKAGE / "functions" / "exact.py"

SPELLINGS = {
    "money decimal": re.compile(r"decimal\(\s*18\s*,\s*2\s*\)", re.I),
    "hex alphabet": re.compile(r"0123456789abcdef", re.I),
    "conv call": re.compile(r"\bconv\("),
}


def test_exact_primitives_are_spelled_only_in_their_module():
    home = HOME.read_text()
    assert all(pat.search(home) for pat in SPELLINGS.values())
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == HOME:
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            for what, pat in SPELLINGS.items():
                if pat.search(line):
                    found.append(f"{path.relative_to(ROOT)}:{n}: {what}")
    assert not found, "\n".join(found)
