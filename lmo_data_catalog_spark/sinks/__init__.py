"""Sink adapters (SURVEY §2.1 S6-S10).

Excel fidelity is quarantined here so the engine stays pure-DataFrame
(SURVEY §7 risk 3): the data plane never styles, scales, or reorders
for presentation.
"""

from .workbook import (  # noqa: F401
    SplitWorkbook,
    compact_parquet,
    write_catalog,
    write_clustered_parquet,
    write_csv_gzip,
    write_partitioned_parquet,
    write_workbook,
    write_zordered_parquet,
)
