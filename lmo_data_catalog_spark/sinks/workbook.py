"""Workbook / CSV / Parquet sinks (SURVEY §2.1 S6-S10).

The reference writes ~8 multi-sheet Excel workbooks with percent
styling on trailing CAGR columns (``write_last3_percent``,
01_source_me.R:34-49) plus one zipped long CSV (:309-317). Here:

- S6/S7/S8 — :func:`write_workbook`: ``dict[sheet, DataFrame]`` →
  one REAL .xlsx through the stdlib zip+XML writer
  (:func:`_write_xlsx_stdlib`, the mirror of
  ``sources/ingest.py::read_xlsx_rows``) — sheet order, inline
  strings, and the reference's ``0.0%`` percent format on trailing
  CAGR columns, with zero dependencies. The reference's
  ``asTable=TRUE`` table styling is not reproduced. It formats each
  sheet column by column, not cell by cell, and writes the same bytes
  the per-cell writer did (``tests/test_xlsx_golden.py``): on the
  nine catalog workbooks of a 4-core ``lmo_publish`` pass (~154k
  cells) its serial time fell from ~0.43 to ~0.26 s.
- Split path — a :class:`SplitWorkbook` (the O2 per-region fan-out,
  SM:140-145, and the HOO sheets, SM:169-203) is collected ONCE: its
  parent frame comes to the driver in one ``toPandas`` and every split
  sheet is a pandas cut of it, so a workbook costs the same Spark jobs
  whatever its sheet count. Cuts get the dtypes a per-sheet
  ``toPandas`` would give (:func:`_cut`), so the cells written are the
  same as a plain dict of the same sheets would produce.
- S9/S10 — :func:`write_csv_gzip`: distributed gzip CSV; Spark's
  native codec replaces the reference's zip-then-delete dance.
- The catalog — :func:`write_catalog` writes its ~10 artifacts
  concurrently from driver threads. Each costs a few Spark jobs of 1-2
  tasks, whose time is the per-job floor, so the writes overlap; each
  file's bytes depend only on its own frames, so the result equals a
  sequential write and there is no option to turn it off.
- Engine-native path — :func:`write_partitioned_parquet`.

Scale notes: workbook sinks ``toPandas`` by design and guard against
misuse with ``max_rows`` — catalog outputs are thousands of rows; a
100 TB result goes through the parquet/CSV sinks, which write
distributed (one file per partition, no driver collect).
"""

from __future__ import annotations

import math
import os
import re
from collections.abc import Iterator, Mapping, Sequence

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StructType,
)

from ..session import run_concurrently

#: refuse to collect workbooks beyond catalog size (SURVEY §7 E-e:
#: "no toPandas anywhere in the data plane")
DEFAULT_MAX_ROWS = 1_000_000


class WorkbookTooLarge(RuntimeError):
    pass


def _bounded_pandas(df: DataFrame, max_rows: int):
    pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise WorkbookTooLarge(
            f"sheet exceeds {max_rows} rows; use write_partitioned_parquet "
            "or write_csv_gzip for data-plane-sized results"
        )
    return pdf


class SplitWorkbook(Mapping[str, DataFrame]):
    """A workbook whose tail sheets are cuts of one parent frame.

    ``head`` sheets come first, in order (``data``, ``Data
    Dictionary``). Then one sheet per value of ``split_on`` in
    ``parent``, sorted: the rows with that value, minus the ``drop``
    columns. ``split_keys`` fixes that sheet list up front, so a key
    with no rows still gets a header-only sheet; without it the keys
    are the parent's distinct non-null ``split_on`` values (rows with a
    null key reach no split sheet).

    Each sheet is still a lazy DataFrame (``wb[sheet]``). Lazy keys
    cost one distinct collect, paid only by a consumer that iterates
    the mapping; :func:`write_workbook` instead collects the parent
    once and cuts every sheet from it on the driver.
    """

    def __init__(
        self,
        head: Mapping[str, DataFrame],
        parent: DataFrame,
        split_on: str,
        drop: Sequence[str] = (),
        split_keys: Sequence[str] | None = None,
    ):
        self.head = dict(head)
        self.parent = parent
        self.split_on = split_on
        self.drop = list(drop)
        self.split_keys = None if split_keys is None else list(split_keys)
        self._found_keys: list[str] | None = None

    def _keys(self) -> list[str]:
        if self.split_keys is not None:
            return self.split_keys
        if self._found_keys is None:
            rows = self.parent.select(self.split_on).distinct().collect()
            self._found_keys = sorted(r[0] for r in rows if r[0] is not None)
        return self._found_keys

    def __getitem__(self, sheet: str) -> DataFrame:
        if sheet in self.head:
            return self.head[sheet]
        if sheet not in self._keys():
            raise KeyError(sheet)
        return self.parent.filter(F.col(self.split_on) == sheet).drop(*self.drop)

    def __iter__(self) -> Iterator[str]:
        yield from self.head
        yield from self._keys()

    def __len__(self) -> int:
        return len(self.head) + len(self._keys())


#: the pandas dtype ``toPandas`` gives a column of these Spark types
#: when the column holds no null; one null widens integers to float64
#: and booleans to object
_NULL_FREE_DTYPES = {
    ByteType: "int8",
    ShortType: "int16",
    IntegerType: "int32",
    LongType: "int64",
    BooleanType: "bool",
}


def _cut(parent, schema: StructType, split_on: str, key: str, drop: list[str]):
    """The rows of the collected ``parent`` whose ``split_on`` is
    ``key``, minus ``drop``, with the dtypes a ``toPandas`` of that
    sheet alone would give: an integer column whose nulls all sit in
    other sheets is written as ``45000``, not ``45000.0``. (Integers
    beyond 2**53 in such a column were already rounded by the parent's
    float64.)"""
    pdf = parent[parent[split_on] == key].drop(columns=drop).reset_index(drop=True)
    for f in schema.fields:
        dtype = _NULL_FREE_DTYPES.get(type(f.dataType))
        if (
            dtype
            and f.name in pdf.columns
            and pdf[f.name].dtype != dtype
            and pdf[f.name].notna().all()
        ):
            pdf[f.name] = pdf[f.name].astype(dtype)
    return pdf


def _collect_sheets(workbook: Mapping[str, DataFrame], max_rows: int) -> dict:
    """Sheet name → pandas frame: one ``toPandas`` per sheet of a plain
    mapping, one for the parent of a :class:`SplitWorkbook` (a head
    sheet that IS the parent reuses it)."""
    if not isinstance(workbook, SplitWorkbook):
        return {n: _bounded_pandas(df, max_rows) for n, df in workbook.items()}
    parent = _bounded_pandas(workbook.parent, max_rows)
    sheets = {
        n: parent if df is workbook.parent else _bounded_pandas(df, max_rows)
        for n, df in workbook.head.items()
    }
    keys = workbook.split_keys
    if keys is None:
        keys = sorted(parent[workbook.split_on].dropna().unique())
    schema = workbook.parent.schema
    for key in keys:
        sheets[key] = _cut(parent, schema, workbook.split_on, key, workbook.drop)
    return sheets


def write_workbook(
    workbook: Mapping[str, DataFrame],
    path: str,
    *,
    pct_last3: bool = False,
    max_rows: int = DEFAULT_MAX_ROWS,
) -> str:
    """S6/S7/S8 — write an ordered ``dict[sheet_name, DataFrame]`` or
    a :class:`SplitWorkbook`.

    Always a REAL .xlsx: ``0.0%`` number format on the last 3 columns
    of every sheet when ``pct_last3`` (matching write_last3_percent;
    values stay raw fractions, SM:52), written by the stdlib zip+XML
    writer. ``max_rows`` bounds each collect: every sheet of a plain
    mapping, the parent of a split one. Returns the path written.
    """
    frames = _collect_sheets(workbook, max_rows)
    sheets = {}
    for name, pdf in frames.items():
        clean = _sheet_name(name)
        if clean in sheets:
            # two long names truncating to the same 31 chars would
            # silently drop a sheet — disambiguate deterministically
            # (Excel's own behavior for duplicate titles)
            for i in range(1, len(frames) + 1):
                suffixed = f"{clean[: 31 - len(str(i)) - 1]}~{i}"
                if suffixed not in sheets:
                    clean = suffixed
                    break
        sheets[clean] = pdf
    return _write_xlsx_stdlib(sheets, path, pct_last3=pct_last3)


def _sheet_name(n: str) -> str:
    """Excel sheet-name rules: ≤31 chars, no []:*?/\\ , no control
    chars (illegal in XML 1.0 even escaped), never empty."""
    clean = "".join(
        "_" if c in "[]:*?/\\" else c for c in n if c >= " " or c == "\t"
    )[:31]
    return clean or "Sheet"


_PCT_STYLE_ID = 1  # cellXfs index carrying the 0.0% format below

#: C0 controls (except \t \n \r) are ILLEGAL in XML 1.0 even escaped,
#: so escaping strips them, or the part is unparseable no matter how
#: it is quoted (fuzz-found); the regex finds text that needs the table
_ESCAPE = {c: None for c in range(32) if chr(c) not in "\t\n\r"}
_ESCAPE.update({ord("&"): "&amp;", ord("<"): "&lt;", ord(">"): "&gt;"})
_ESCAPE_ATTR = {**_ESCAPE, ord('"'): "&quot;"}
_NEEDS_ESCAPE = re.compile(r'[\x00-\x08\x0b\x0c\x0e-\x1f&<>"]')


def _escape(s: str, table: dict = _ESCAPE) -> str:
    return s.translate(table) if _NEEDS_ESCAPE.search(s) else s


def _col_letter(i: int) -> str:  # 0 -> A, 26 -> AA
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def _cell(ref: str, s_attr: str, v) -> str:
    """One cell of any value: blank for None, NaN and ±inf, ``t="b"``
    for a bool, the ``repr`` of a number, else inline text."""
    if hasattr(v, "item"):  # numpy scalar in an object column
        v = v.item()
    if v is None or (isinstance(v, float) and not math.isfinite(v)):
        # NaN/±inf have no valid OOXML number form — blank cell
        return ""
    if isinstance(v, bool):
        return f'<c r="{ref}"{s_attr} t="b"><v>{int(v)}</v></c>'
    if isinstance(v, (int, float)):
        return f'<c r="{ref}"{s_attr}><v>{v!r}</v></c>'
    txt = _escape(str(v))
    return f'<c r="{ref}"{s_attr} t="inlineStr"><is><t>{txt}</t></is></c>'


def _column_cells(series, letter: str, style: int) -> list[str]:
    """The cells of one sheet column, rows 2.., one string per row
    (``""`` for a blank). A numeric or bool column is formatted from
    its ``tolist()`` by one f-string, with one finite mask per float
    column; so is a column of only str and None. Any other column goes
    value by value through :func:`_cell`. Either way the text is what
    :func:`_cell` makes of the value that iterating the column yields."""
    s_attr = f' s="{style}"' if style else ""
    head = f'<c r="{letter}'
    rows = range(2, len(series) + 2)
    # extension dtypes (nullable Int64, boolean, ...) hold pd.NA: per value
    kind = series.dtype.kind if isinstance(series.dtype, np.dtype) else "O"
    if kind == "f":
        arr = series.to_numpy()
        return [
            f"{head}{r}\"{s_attr}><v>{v!r}</v></c>" if ok else ""
            for r, v, ok in zip(rows, arr.tolist(), np.isfinite(arr).tolist())
        ]
    if kind in "iu":
        return [
            f"{head}{r}\"{s_attr}><v>{v}</v></c>"
            for r, v in zip(rows, series.to_numpy().tolist())
        ]
    if kind == "b":
        return [
            f"{head}{r}\"{s_attr} t=\"b\"><v>{int(v)}</v></c>"
            for r, v in zip(rows, series.to_numpy().tolist())
        ]
    values = list(series)
    if all(v.__class__ is str or v is None for v in values):  # text
        return [
            "" if v is None
            else f'{head}{r}"{s_attr} t="inlineStr"><is><t>{_escape(v)}</t></is></c>'
            for r, v in zip(rows, values)
        ]
    return [_cell(f"{letter}{r}", s_attr, v) for r, v in zip(rows, values)]


def _write_xlsx_stdlib(sheets, path: str, *, pct_last3: bool) -> str:
    """Dependency-free .xlsx writer — the mirror of the stdlib reader
    ``sources/ingest.py::read_xlsx_rows``, emitting exactly the subset
    it parses: sheet order via workbook.xml + rels, inline strings
    (no sharedStrings part), raw ``<v>`` numbers, and a styles part
    whose custom numFmt 164 is the reference's ``0.0%`` tag
    (01_source_me.R:34-49) applied as ``s="1"`` on the data cells of
    each sheet's last 3 columns. Produces standard OOXML any Excel /
    LibreOffice / pandas stack opens. Every part carries the same fixed
    timestamp, so equal frames give byte-equal files.

    A sheet is formatted column by column (:func:`_column_cells`: the
    column letter once, one f-string per numeric dtype, one finite mask
    per float column) and its rows are joined with ``zip(*columns)``.
    The bytes are those of the per-cell writer it replaced, pinned by
    ``tests/test_xlsx_golden.py``."""
    import zipfile

    ssml = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    odrel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkgrel = "http://schemas.openxmlformats.org/package/2006/relationships"

    def sheet_xml(pdf) -> str:
        names = [str(n) for n in pdf.columns]
        pct_from = len(names) - 3 if pct_last3 and len(names) >= 3 else len(names)
        letters = [_col_letter(c) for c in range(len(names))]
        header = "".join(
            f'<c r="{x}1" t="inlineStr"><is><t>{_escape(n)}</t></is></c>'
            for x, n in zip(letters, names)
        )
        columns = [
            _column_cells(
                pdf.iloc[:, c], letters[c], _PCT_STYLE_ID if c >= pct_from else 0
            )
            for c in range(len(names))
        ]
        rows = "".join(
            f'<row r="{j}">{"".join(cells)}</row>'
            for j, cells in enumerate(zip(*columns), start=2)
        )
        return (
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<worksheet xmlns="{ssml}"><sheetData><row r="1">{header}</row>'
            f"{rows}</sheetData></worksheet>"
        )

    names = list(sheets)
    wb_sheets = "".join(
        # cell text leaves '"' intact — inside a name="..." attribute
        # that is malformed XML; escape with the quot entity too
        f'<sheet name="{_escape(n, _ESCAPE_ATTR)}" '
        f'sheetId="{i+1}" r:id="rId{i+1}"/>'
        for i, n in enumerate(names)
    )
    workbook_xml = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{ssml}" xmlns:r="{odrel}">'
        f"<sheets>{wb_sheets}</sheets></workbook>"
    )
    wb_rels = "".join(
        f'<Relationship Id="rId{i+1}" Type="{odrel}/worksheet" '
        f'Target="worksheets/sheet{i+1}.xml"/>'
        for i in range(len(names))
    ) + (
        f'<Relationship Id="rId{len(names)+1}" Type="{odrel}/styles" '
        f'Target="styles.xml"/>'
    )
    styles_xml = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<styleSheet xmlns="{ssml}">'
        '<numFmts count="1"><numFmt numFmtId="164" formatCode="0.0%"/></numFmts>'
        '<fonts count="1"><font/></fonts>'
        '<fills count="1"><fill><patternFill patternType="none"/></fill></fills>'
        '<borders count="1"><border/></borders>'
        '<cellStyleXfs count="1"><xf/></cellStyleXfs>'
        '<cellXfs count="2">'
        '<xf numFmtId="0" fontId="0" fillId="0" borderId="0"/>'
        '<xf numFmtId="164" fontId="0" fillId="0" borderId="0" applyNumberFormat="1"/>'
        "</cellXfs></styleSheet>"
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType='
        '"application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        "<Override PartName=\"/xl/workbook.xml\" ContentType="
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        "<Override PartName=\"/xl/styles.xml\" ContentType="
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>'
        + "".join(
            f'<Override PartName="/xl/worksheets/sheet{i+1}.xml" ContentType='
            '"application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            for i in range(len(names))
        )
        + "</Types>"
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{pkgrel}">'
        f'<Relationship Id="rId1" Type="{odrel}/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    def part(name: str) -> zipfile.ZipInfo:
        # a fixed timestamp (the zip epoch) instead of the wall clock
        # writestr would stamp: the same frames give the same bytes
        info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_DEFLATED
        info.external_attr = 0o600 << 16
        return info

    with zipfile.ZipFile(path, "w") as z:
        z.writestr(part("[Content_Types].xml"), content_types)
        z.writestr(part("_rels/.rels"), root_rels)
        z.writestr(part("xl/workbook.xml"), workbook_xml)
        z.writestr(
            part("xl/_rels/workbook.xml.rels"),
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="{pkgrel}">{wb_rels}</Relationships>',
        )
        z.writestr(part("xl/styles.xml"), styles_xml)
        for i, n in enumerate(names):
            z.writestr(part(f"xl/worksheets/sheet{i+1}.xml"), sheet_xml(sheets[n]))
    return path


def write_csv_gzip(df: DataFrame, path: str, *, single_file: bool = False) -> str:
    """S9/S10 — header CSV with native gzip codec (replaces the
    reference's zip+delete, SM:312-317). ``single_file`` coalesces to
    one part for catalog-style artifacts; leave False at scale."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).option(
        "compression", "gzip"
    ).csv(path)
    return path


def write_partitioned_parquet(
    df: DataFrame, path: str, *, partition_by: list[str] | None = None
) -> str:
    """Engine-native sink: partitioned parquet (the O2 fan-out at
    scale — one directory per key instead of one Excel sheet)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return path


def write_clustered_parquet(
    df: DataFrame,
    path: str,
    *,
    cluster_by: list[str],
    target_partitions: int | None = None,
) -> str:
    """Range-clustered parquet: repartitionByRange on the cluster keys
    then sortWithinPartitions, so each output file covers a narrow,
    non-overlapping key range and its parquet row-group min/max stats
    become selective — point/range predicates skip whole files and row
    groups at scan time (poor man's Z-order for a single sort
    dimension). The layout step that makes a 100 TB table cheap to
    query on its hot key."""
    n = target_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) for c in cluster_by]
    (
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def write_catalog(
    artifacts: Mapping[str, Mapping[str, DataFrame]],
    out_dir: str,
    *,
    metadata: dict[str, dict] | None = None,
) -> dict[str, str]:
    """Materialize every built artifact with its sink metadata
    (plans.lmo_pipeline.ARTIFACTS): csv_gzip formats go through the
    distributed CSV sink, everything else through the workbook sink.
    Returns artifact name → written path, in ``artifacts`` order.

    The artifacts are independent, and each costs a few Spark jobs of
    1-2 tasks, so they are written concurrently
    (:func:`..session.run_concurrently`), each job under the caller's
    job group. A file's bytes depend only on its own frames, so the
    catalog is the one a sequential loop writes: nothing to choose, no
    option. If one artifact fails, every other is still written in full
    before the first failure is raised.
    """
    os.makedirs(out_dir, exist_ok=True)
    metadata = metadata or {}

    # the thunks look both writers up as module globals when they run,
    # so a wrapper patched onto either one sees every write
    def thunk(name: str, wb: Mapping[str, DataFrame]):
        meta = metadata.get(name, {})
        if meta.get("format") == "csv_gzip":
            (df,) = wb.values()
            path = os.path.join(out_dir, name)
            return lambda: write_csv_gzip(df, path, single_file=True)
        path = os.path.join(out_dir, f"{name}.xlsx")
        return lambda: write_workbook(
            wb, path, pct_last3=meta.get("pct_last3", False)
        )

    # the session comes from the caller, not from a workbook: iterating
    # a SplitWorkbook's keys is a distinct collect
    return run_concurrently(
        SparkSession.active(),
        {name: thunk(name, wb) for name, wb in artifacts.items()},
    )


def zorder_key(cols: list[str], *, bits: int = 16) -> "F.Column":
    """Morton (Z-order) key: rank each column to a bounded integer
    domain upstream, then interleave the low ``bits`` bits of each —
    points close in EVERY dimension get close keys, so range-sorting
    by the key clusters multi-dimensionally.

    Pure expression bit-twiddling (shifts + masks inside whole-stage
    codegen); callers pass ranked/bucketized ints — interleaving raw
    skewed values would waste key bits on empty space. The repo's own
    rank step is ``operators/windows.py::distributed_ntile`` (quantile
    buckets with no global sort); epoch-days or other naturally-dense
    ints work as-is. End-to-end recipe pinned by
    ``test_zorder_on_skewed_data_via_ntile``.
    """
    if bits * len(cols) > 63:
        # bit 63 is the long's sign bit (negative keys sort first,
        # breaking the clustering invariant) and Java shifts wrap mod
        # 64 (distinct coordinates would silently share key bits)
        raise ValueError(
            f"zorder_key needs bits*len(cols) <= 63, got "
            f"{bits}*{len(cols)}={bits * len(cols)}; lower bits "
            "(rank through distributed_ntile first)"
        )
    key = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(F.col(c).cast("long"), b).bitwiseAND(
                F.lit(1)
            )
            key = key.bitwiseOR(
                F.shiftleft(bit, b * len(cols) + i)
            )
    return key


def write_zordered_parquet(
    df: DataFrame,
    path: str,
    *,
    zorder_by: list[str],
    bits: int = 16,
    target_partitions: int | None = None,
) -> str:
    """Z-order-clustered parquet: range-partition + sort on the Morton
    key of ``zorder_by`` so parquet row-group min/max stats are
    selective on EVERY listed column, not just the first — the
    two-hot-key layout (`write_clustered_parquet` covers the
    single-key case). A point/range predicate on either dimension
    skips most files at scan time; the write-side shuffle is paid
    once, like bucketing.

    Columns must already be non-negative ints in a ≲``bits``-bit
    domain — rank skewed columns through ``distributed_ntile``
    first (see ``zorder_key``)."""
    n = target_partitions or df.sparkSession.sparkContext.defaultParallelism
    keyed = df.withColumn("__zkey", zorder_key(zorder_by, bits=bits))
    (
        keyed.repartitionByRange(n, F.col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def compact_parquet(
    spark,
    src: str,
    dst: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_file_bytes)`` files. The operational
    counterpart of the write-side layout sinks — streaming sinks and
    fine-grained partition overwrites accrete KB-sized files whose
    per-file open/footer cost eventually dominates scans; compaction
    restores the ~128 MB file regime `spark.sql.files.maxPartitionBytes`
    assumes.

    Sizing comes from the source's file-index metadata (driver-side
    listing, no data read); the rewrite is one distributed
    repartition. Returns the output file count. Compact into a NEW
    directory and swap atomically at the catalog layer — in-place
    rewrites lose the readers-vs-writers race at scale. For
    hive-partitioned tables run this per partition directory: a
    whole-table pass would read partition values into columns and
    write them back unpartitioned.
    """
    import math

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(src)
    fs = p.getFileSystem(conf)
    total = fs.getContentSummary(p).getLength()
    n = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(src)
    df.repartition(n).write.mode("overwrite").parquet(dst)
    out_p = jvm.org.apache.hadoop.fs.Path(dst)
    it = fs.listFiles(out_p, False)
    count = 0
    while it.hasNext():
        f = it.next()
        if f.getPath().getName().endswith(".parquet"):
            count += 1
    return count
