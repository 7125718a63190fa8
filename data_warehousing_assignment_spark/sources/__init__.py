"""Scans + sinks (op-scan-*, op-sink-*, op-view-create from SURVEY.md §2.1)."""

from data_warehousing_assignment_spark.sources.readers import (
    TESTDATA_TABLES,
    read_csv,
)
from data_warehousing_assignment_spark.sources.writers import (
    create_view,
    write_table,
)

__all__ = [
    "TESTDATA_TABLES",
    "read_csv",
    "create_view",
    "write_table",
]
