"""Generate OPERATORS.md: one row per registered query — oracle status,
implementing module, first docstring line. Run after registry changes:

    python tools/gen_operators_md.py
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    from data_warehousing_assignment_spark import registry

    qs = registry.all_queries()
    oracles = registry.all_oracles()

    lines = [
        "# OPERATORS — registered driver-contract queries",
        "",
        "Auto-generated by `tools/gen_operators_md.py` — do not edit by hand.",
        "Every row is one `queries()` entry; `oracle` = exact DuckDB",
        "value-hash check at sf0.01, `rows-only` = count/schema check with",
        "semantics pinned in pytest instead (approximate or non-SQL ops).",
        "",
        f"Total: **{len(qs)}** queries, **{len(oracles)}** oracle-backed.",
        "",
        "| query | check | summary |",
        "|---|---|---|",
    ]
    for name in sorted(qs):
        fn = qs[name]
        doc = (fn.__doc__ or "").strip().splitlines()
        summary = doc[0].rstrip() if doc else ""
        check = "oracle" if name in oracles else "rows-only"
        lines.append(f"| `{name}` | {check} | {summary} |")
    out = "\n".join(lines) + "\n"
    with open(os.path.join(ROOT, "OPERATORS.md"), "w") as f:
        f.write(out)
    print(f"wrote OPERATORS.md: {len(qs)} queries")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
