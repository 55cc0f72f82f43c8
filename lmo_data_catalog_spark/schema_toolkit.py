"""Metadata-plane schema operations (SURVEY §1.3).

The reference discovers and rewrites schemas by convention:
``janitor::clean_names`` (01_source_me.R:102), title-casing headers
(:112), prefix selection ``starts_with("2")`` (:101), regex selection
on colnames (:170). In Spark these are driver-side string ops resolved
*before* the plan is built — zero Catalyst involvement, zero cost.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def clean_name(name: str) -> str:
    """snake_case one column name (janitor::clean_names semantics).

    Lowercase, non-alphanumerics collapse to ``_``, leading digits get a
    ``x`` prefix (janitor behavior), trailing/leading ``_`` stripped.
    """
    s = re.sub(r"[^0-9a-zA-Z]+", "_", name.strip()).strip("_").lower()
    if s and s[0].isdigit():
        s = "x" + s
    return s or "unnamed"


def clean_names(df: DataFrame) -> DataFrame:
    """Apply :func:`clean_name` to every column, deduping collisions."""
    seen: dict[str, int] = {}
    out = []
    for c in df.columns:
        base = clean_name(c)
        n = seen.get(base, 0)
        seen[base] = n + 1
        out.append(base if n == 0 else f"{base}_{n+1}")
    return df.toDF(*out)


def title_case(s: str) -> str:
    """ICU-style titlecase (stringr::str_to_title): uppercase the first
    char of each alnum word, lowercase the rest; digit-led words stay
    lowercase ("1st 5-year CAGR" → "1st 5-Year Cagr"), unlike
    ``str.title()`` which yields "1St"."""

    def word(m: re.Match) -> str:
        w = m.group(0)
        return w.lower() if w[0].isdigit() else w[0].upper() + w[1:].lower()

    return re.sub(r"[0-9A-Za-z]+", word, s)


def select_by_regex(df: DataFrame, pattern: str) -> list[str]:
    """Column names matching a regex (SM:170 ``str_detect(colnames, ...)``)."""
    rx = re.compile(pattern)
    return [c for c in df.columns if rx.search(c)]


def relocate(df: DataFrame, col: str, *, after: str | None = None) -> DataFrame:
    """``relocate(x, .after=y)`` (SM:76); ``after=None`` → move to end."""
    cols = [c for c in df.columns if c != col]
    if after is None:
        cols.append(col)
    else:
        cols.insert(cols.index(after) + 1, col)
    return df.select(*cols)
