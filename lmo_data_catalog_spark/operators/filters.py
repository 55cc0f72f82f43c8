"""Filter helpers with R-compatible NULL semantics (SURVEY §2.2).

R's ``!x %in% set`` keeps NULL rows (NA is a non-member); Spark's
``~col.isin(set)`` yields NULL → row dropped. These helpers make the
R behavior explicit so pipelines ported from the reference don't
silently lose NULL-keyed rows (01_source_me.R:125).

All are pure Column expressions — pushdown-friendly, codegen'd. The
``*_sql`` forms are the same predicates as SQL text over string
values, for plans built from SQL text (one py4j round trip per
expression, see :mod:`..pyboundary`); ``col`` is then SQL too, e.g.
``pyboundary.sql_name("Geographic Area")``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..pyboundary import sql_string


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


def isin_sql(col: str, values: Sequence[str]) -> str:
    """:func:`isin` as SQL text. SQL has no empty ``IN ()``; an empty
    set is ``false``, as :func:`isin` evaluates it."""
    if not values:
        return "false"
    return f"coalesce({col} IN ({', '.join(map(sql_string, values))}), false)"


def not_isin_sql(col: str, values: Sequence[str]) -> str:
    """:func:`not_isin` as SQL text: NULL rows are kept."""
    return f"NOT {isin_sql(col, values)}"


def not_rlike_sql(col: str, pattern: str) -> str:
    """:func:`not_rlike` as SQL text: NULL rows are kept."""
    return f"NOT coalesce({col} RLIKE {sql_string(pattern)}, false)"
