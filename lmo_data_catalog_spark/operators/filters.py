"""Filter helpers with R-compatible NULL semantics (SURVEY §2.2).

R's ``!x %in% set`` keeps NULL rows (NA is a non-member); Spark's
``~col.isin(set)`` yields NULL → row dropped. These helpers make the
R behavior explicit so pipelines ported from the reference don't
silently lose NULL-keyed rows (01_source_me.R:125).

All are pure Column expressions — pushdown-friendly, codegen'd.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def isin(col: Column | str, values: Sequence) -> Column:
    """F2 — NULL → False (not NULL), matching R ``%in%``."""
    return F.coalesce(_c(col).isin(list(values)), F.lit(False))


def not_isin(col: Column | str, values: Sequence) -> Column:
    """F3 — ``!x %in% set``: NULL rows are KEPT (01_source_me.R:125)."""
    return ~isin(col, values)


def not_rlike(col: Column | str, pattern: str) -> Column:
    """F4 — ``!grepl(pat, x)`` with NULL kept (01_source_me.R:74)."""
    return ~F.coalesce(_c(col).rlike(pattern), F.lit(False))
