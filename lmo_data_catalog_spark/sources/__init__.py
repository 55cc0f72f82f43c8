"""Sources: ingestion-edge readers (SURVEY §2.1 S1-S5)."""

from .ingest import (  # noqa: F401
    read_csv_skip,
    read_excel_ingest,
    resolve_input,
)
