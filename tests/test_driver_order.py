"""The driver contract's query order: ``registry`` hands out registration
order and reads no driver artifact; ``__spark_entry__`` applies the
driver-window order, reading the ``CORRECTNESS_r*.json`` artifacts only
when ``queries()``/``oracle_sql()`` is first called."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = r"""
import json, os, sys

opened = []
sys.addaudithook(
    lambda event, args: opened.append(str(args[0]))
    if event == "open" and "CORRECTNESS_r" in str(args[0]) else None
)
import __spark_entry__ as entry
from data_warehousing_assignment_spark import registry

registry.import_all_registries()
at_import = list(opened)
ordered = list(entry.oracle_sql())
print(json.dumps({
    "at_import": at_import,
    "after_call": len(opened),
    "registration": list(registry.all_oracles()) == list(registry.ORACLES),
    "same_names": sorted(ordered) == sorted(registry.ORACLES),
}))
"""


def test_import_reads_no_correctness_artifact():
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=ROOT, capture_output=True, text=True,
        check=True,
    ).stdout
    rec = json.loads(out.strip().splitlines()[-1])
    assert rec["at_import"] == []
    assert rec["registration"] and rec["same_names"]
    has_artifacts = any(f.startswith("CORRECTNESS_r") for f in os.listdir(ROOT))
    assert (rec["after_call"] > 0) == has_artifacts
