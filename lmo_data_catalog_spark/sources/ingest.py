"""Ingestion-edge readers (SURVEY §2.1 S1-S5).

The reference reads raw vendor files with banner rows and NA
sentinels: ``vroom(..., skip=3)`` (01_source_me.R:87,90),
``read_excel(..., skip=3, na="x")`` (:93-97), glob resolution
(:94-96), ``janitor::remove_empty()`` (:88,91).

Both landing formats run one JVM-only pass per input: CSV lines come
from ``spark.read.text`` + ``from_csv``, xlsx cell texts from the
stdlib :func:`read_xlsx_rows` as one JSON literal. Either way the
all-string columns are typed by ONE rule in ONE aggregate
(:func:`_land`): the narrowest of int → bigint → double that every
non-null value passes under Spark's ``try_cast``, else string. Versus
the CSV ``inferSchema`` this replaced: boolean, date and timestamp
columns land as string; decimal columns (integers beyond bigint,
``"5."``) as double; space-padded ints (``" 7"``) as int, not double;
``"inf"`` as double, not string. No LMO input has such a column.

The int and bigint rungs cast only values that a character-class
guard (:data:`_INTEGRAL`) admits. Spark 4's ``try_cast`` is the ANSI
cast with the error caught: each value that fails to parse throws and
catches a ``SparkNumberFormatException`` inside the JVM, and a landed
decimal or text column fails on every cell. On 4 cores, the typing
aggregate of a 3,000-row, 16-column ``job_openings`` (~96k failing
casts) took 2.04 s unguarded and 0.48 s guarded (medians of 7 warm
runs; a bare ``count`` per column takes 0.31 s), and the traced
``lmo_publish`` ``sources.load_s`` fell from 2.35 to 1.05 s. The guard
only skips values that ``try_cast`` would reject, so ``try_cast``
stays the arbiter and the typing is unchanged
(``tests/test_ingest_guard.py`` checks this over a fuzz set). The
double rung stays unguarded: its failures are few and cheap by
comparison, and Spark's double syntax (``inf``, ``NaN``, ``1d``,
``1e5``) has no obvious exact guard.

Scale notes: these are *landing-zone* readers, sized for raw vendor
drops. The engine's contract is: ingest once → typed Parquet →
everything downstream reads Parquet through :class:`..catalog.Catalog`.
"""

from __future__ import annotations

import csv
import glob as _glob
import json
import os
from collections import Counter
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: the column types a landed column may take, narrowest first
_LADDER = ("int", "bigint", "double")
#: ``monotonically_increasing_id`` keeps the partition index above bit
#: 33, so exactly the rows of split 0 have ids below this
_SPLIT0_END = 1 << 33
#: the CSV reader's blank-line test (``line.trim.nonEmpty``)
_NON_BLANK = r"[^\x00-\x20]"
#: admits every string that ``try_cast`` turns into an int or a bigint:
#: Spark trims bytes ≤ 0x20 and DEL (0x7f), then reads a sign and ASCII
#: digits
_INTEGRAL = r"^[\x00-\x20\x7f+0-9-]+$"


def resolve_input(directory: str, pattern: str) -> str:
    """S3 — locate an input file by glob pattern (01_source_me.R:94-96).

    Exactly-one match is enforced: silent multi-match is how stale
    vendor drops sneak into an annual pipeline.
    """
    hits = sorted(_glob.glob(os.path.join(directory, pattern)))
    if len(hits) != 1:
        raise FileNotFoundError(
            f"expected exactly one match for {pattern!r} in {directory!r}, "
            f"got {len(hits)}: {hits}"
        )
    return hits[0]


def read_csv_skip(
    spark: SparkSession,
    path: str,
    *,
    skip_rows: int = 0,
    schema: StructType | str | None = None,
    na_values: Sequence[str] = (),
    mode: str = "PERMISSIVE",
    remove_empty: bool = False,
) -> DataFrame:
    """S1 — CSV scan with leading banner rows skipped (01_source_me.R:87).

    Each file of ``path`` (a glob is resolved on the driver, so the
    skip applies per file) is read as text, numbered by
    ``monotonically_increasing_id``. Its header is the first non-blank
    line at id ≥ ``skip_rows`` (one ``first()``); lines up to it are
    dropped. Only split 0 numbers from 0, so a header outside split 0
    raises rather than drop the wrong lines. The rest is parsed by
    ``from_csv``: against ``schema`` if given, else as strings named
    from the first file's header the way Spark's CSV reader names them
    (``_c<i>`` for empty names, index-suffixed duplicates) and typed
    by :func:`_land`. ``remove_empty`` (S5) drops all-null columns and
    rows in that same pass. ``mode`` is ``PERMISSIVE`` (missing cells
    become NULL) or ``FAILFAST`` (a truncated vendor file raises at
    ingest, not as NULLs three joins later); ``from_csv`` has no other.
    """
    if mode not in ("PERMISSIVE", "FAILFAST"):
        raise ValueError(f"mode must be PERMISSIVE or FAILFAST, not {mode!r}")
    if schema is not None and remove_empty:
        raise ValueError("remove_empty applies to the typed landing, not a schema")
    # from_csv takes one nullValue token; the reference needs one ("x", SM:97)
    na_values = list(na_values)
    if len(na_values) > 1:
        raise ValueError(f"exactly one NA sentinel is supported, got {na_values!r}")
    options = {"mode": mode, "nullValue": na_values[0] if na_values else ""}
    header, bodies = None, []
    for f in sorted(_glob.glob(path)) or [path]:
        lines = (
            spark.read.text(f)
            .select(F.monotonically_increasing_id().alias("id"), "value")
            .filter(F.col("value").rlike(_NON_BLANK))
        )
        first = lines.filter(F.col("id") >= skip_rows).first()
        if first is None or first.id >= _SPLIT0_END:
            raise ValueError(f"{f!r}: no header in split 0 after {skip_rows} rows")
        header = header or first.value
        bodies.append(lines.filter(F.col("id") > first.id).select("value"))
    body = reduce(DataFrame.union, bodies)

    def parse(ddl):
        return body.select(F.from_csv("value", ddl, options).alias("r"))

    if schema is not None:
        ddl = schema.json() if isinstance(schema, StructType) else schema
        return parse(ddl).select("r.*")
    names = _header_names(next(csv.reader([header], escapechar="\\")), na_values)
    rows = parse(", ".join(f"_{i} string" for i in range(len(names))))
    return _land(rows, names, remove_empty=remove_empty)


def _header_names(tokens: Sequence[str | None], na_values: Sequence[str]) -> list[str]:
    """Column names from a header row, as Spark's CSV reader makes
    them: an empty, missing or NA-sentinel name becomes ``_c<i>``, and
    each case-insensitive duplicate gets its index appended."""
    blank = {None, "", *na_values}
    dup = Counter(t.lower() for t in tokens if t not in blank)
    return [
        f"_c{i}" if t in blank else f"{t}{i}" if dup[t.lower()] > 1 else t
        for i, t in enumerate(tokens)
    ]


def _ladder_counts(n: int) -> list[str]:
    """The SQL texts of :func:`_land`'s typing aggregate over the string
    columns ``_0 … _<n-1>``: per column its non-null count, then the
    count of values passing ``try_cast`` to each rung of :data:`_LADDER`.
    An int or bigint count casts only the values :data:`_INTEGRAL`
    admits, so text and decimal cells never reach those casts."""

    def count(i: int, t: str) -> str:
        if t in ("int", "bigint"):
            guard = f"_{i} RLIKE r'{_INTEGRAL}'"
            return f"count(CASE WHEN {guard} THEN try_cast(_{i} AS {t}) END)"
        return f"count(try_cast(_{i} AS {t}))"

    return [count(i, t) for i in range(n) for t in ("string", *_LADDER)]


def _land(rows: DataFrame, names: list[str], *, remove_empty: bool) -> DataFrame:
    """Type the string fields ``_0 … _<n-1>`` of the struct column ``r``
    of ``rows`` by the one rule and name them ``names``. One aggregate
    (:func:`_ladder_counts`, one py4j call) counts per column the
    non-nulls and the values passing each rung of :data:`_LADDER`; an
    all-null column is string, or dropped with the all-null rows under
    ``remove_empty``. The int and bigint counts are guarded (see the
    module docstring).

    The row filter reads ``r`` once. A test per column would be pushed
    below the parse with one ``from_csv`` per column, and each cache
    fill would parse every line once per column."""
    step = 1 + len(_LADDER)
    stats = rows.select("r.*").selectExpr(*_ladder_counts(len(names))).first()
    out = []
    for i, name in enumerate(names):
        n, *passed = stats[i * step : (i + 1) * step]
        if remove_empty and n == 0:
            continue
        kind = next((t for t, m in zip(_LADDER, passed) if n and m == n), "string")
        out.append(F.col(f"r._{i}").try_cast(kind).alias(name))
    if remove_empty:
        # explicit, so no session setting can make an all-null row non-empty
        rows = rows.filter(F.to_json("r", {"ignoreNullFields": "true"}) != "{}")
    return rows.select(*out)


_SSML = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_RELNS = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_ODREL = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"


def _col_index(cell_ref: str) -> int | None:
    """``"BC12"`` → 54 (0-based column); None if the ref has no letters."""
    idx = 0
    for ch in cell_ref:
        if ch.isalpha():
            idx = idx * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return idx - 1 if idx else None


def read_xlsx_rows(path: str, *, sheet: int = 0) -> list[list[str | None]]:
    """Minimal stdlib .xlsx reader: cell texts of one sheet, row-major.

    xlsx is a zip of XML parts; this parses exactly the subset the
    landing-zone contract needs — sheet resolution via workbook.xml +
    its rels (sheet ORDER, not part filename, which zip tools may
    permute), shared strings (``t="s"``), inline strings
    (``t="inlineStr"``), and raw ``<v>`` texts for numbers. Sparse
    rows keep positional fidelity: a cell's ``r="D7"`` ref places it
    at column 3 with None-padding, matching what a CSV export of the
    sheet would show as empty fields. Rows are numbered by their
    ``r="N"`` the same way: Excel leaves blank rows out of the sheet
    XML, and each one comes back as an empty list, so row ``i`` of the
    result is sheet row ``i + 1``. No styles, no dates-as-serials
    decoding, no formula evaluation (the cached ``<v>`` is taken) —
    vendor landing files are value-only workbooks.
    """
    import zipfile
    from xml.etree import ElementTree as ET

    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())
        shared: list[str] = []
        if "xl/sharedStrings.xml" in names:
            for si in ET.fromstring(z.read("xl/sharedStrings.xml")).iter(
                f"{_SSML}si"
            ):
                shared.append(
                    "".join(t.text or "" for t in si.iter(f"{_SSML}t"))
                )
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        targets = {
            r.get("Id"): r.get("Target")
            for r in rels.iter(f"{_RELNS}Relationship")
        }
        sheets = list(wb.iter(f"{_SSML}sheet"))
        if not 0 <= sheet < len(sheets):
            raise IndexError(f"workbook has {len(sheets)} sheets, not {sheet + 1}")
        target = targets[sheets[sheet].get(f"{_ODREL}id")]
        part = target if target.startswith("xl/") else "xl/" + target.lstrip("/")
        rows: list[list[str | None]] = []
        for row in ET.fromstring(z.read(part)).iter(f"{_SSML}row"):
            # a row left out of the XML is an empty row
            rows.extend([] for _ in range(int(row.get("r", 0)) - 1 - len(rows)))
            vals: list[str | None] = []
            for c in row.findall(f"{_SSML}c"):
                ci = _col_index(c.get("r", ""))
                if ci is None:
                    ci = len(vals)
                while len(vals) < ci:
                    vals.append(None)
                if c.get("t") == "inlineStr":
                    v: str | None = "".join(
                        t.text or "" for t in c.iter(f"{_SSML}t")
                    )
                else:
                    ve = c.find(f"{_SSML}v")
                    v = None if ve is None else ve.text
                    if c.get("t") == "s" and v is not None:
                        v = shared[int(v)]
                vals.append(v)
            rows.append(vals)
        return rows


def read_excel_ingest(
    spark: SparkSession,
    path: str,
    *,
    skip_rows: int = 0,
    na_values: Sequence[str] = ("x",),
) -> DataFrame:
    """S2 — Excel landing read (01_source_me.R:93-97), the reference's
    ``read_excel(skip=3, na="x")``: drop ``skip_rows`` leading sheet
    rows, take the first non-empty row after them as the header (as
    ``readxl`` does, and as :func:`read_csv_skip` takes the first
    non-blank line), NULL the NA-sentinel cells, and type
    the columns by :func:`_land` as the CSV path does. The cell texts
    (catalog-sized) enter the plan as one JSON literal, so no Python
    RDD backs the frame. A ``.csv`` path routes to :func:`read_csv_skip`.
    """
    if path.endswith(".csv"):
        return read_csv_skip(
            spark, path, skip_rows=skip_rows, na_values=na_values
        )
    raw = read_xlsx_rows(path)[skip_rows:]
    at = next((i for i, r in enumerate(raw) if any(r)), None)
    if at is None:
        raise ValueError(f"{path!r}: no header after skipping {skip_rows} rows")
    names = _header_names(raw[at], na_values)
    width = len(names)
    na = set(na_values)
    body = [
        [None if v in na else v for v in (r + [None] * width)[:width]]
        for r in raw[at + 1 :]
    ]
    cells = F.explode(F.from_json(F.lit(json.dumps(body)), "array<array<string>>"))
    rows = spark.range(1).select(cells.alias("a")).select(
        F.struct(*[F.col("a")[i].alias(f"_{i}") for i in range(width)]).alias("r")
    )
    return _land(rows, names, remove_empty=False)
