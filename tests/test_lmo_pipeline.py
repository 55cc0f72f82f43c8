"""End-to-end reproduction of the reference pipeline (SURVEY §3, §5.3).

Generates LMO-shaped raw fixtures (banner rows, "x" NA sentinel,
empty row/col), ingests them, builds all 10 catalog artifacts as lazy
workbooks, and checks structural + algebraic invariants against the
reference semantics (01_source_me.R).
"""

from __future__ import annotations

import math
import re
import zipfile
from dataclasses import replace

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from lmo_data_catalog_spark.plans import fixtures
from lmo_data_catalog_spark.plans.lmo_pipeline import (
    ARTIFACTS,
    LMOConfig,
    build_all,
    high_opportunity_occupations,
    jo_by_skill_cluster,
    load_inputs,
    regional_jo_by_occ,
)
from lmo_data_catalog_spark.sinks import write_catalog, write_workbook
from lmo_data_catalog_spark.sinks.workbook import SplitWorkbook
from lmo_data_catalog_spark.sources.ingest import read_xlsx_rows

CFG = LMOConfig(fyod=2024)


@pytest.fixture(scope="module")
def raw_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("lmo_raw")
    fixtures.generate(str(d), fyod=CFG.fyod, seed=7)
    return str(d)


@pytest.fixture(scope="module")
def inputs(spark, raw_dir):
    inp = load_inputs(spark, raw_dir)
    inp.employment.cache()
    inp.job_openings.cache()
    return inp


@pytest.fixture(scope="module")
def artifacts(inputs):
    return build_all(inputs, CFG)


def test_ingest_handles_banner_sentinel_and_empties(inputs):
    # banner skipped → real header; empty col dropped; empty row dropped
    emp = inputs.employment
    assert emp.columns[:5] == [
        "NOC", "Description", "Industry", "Variable", "Geographic Area"
    ]
    assert "" not in [c.strip() for c in emp.columns]  # empty col gone
    n_expected = len(fixtures.NOCS) * len(fixtures.INDUSTRIES) * len(fixtures.AREAS)
    assert emp.count() == n_expected  # all-empty row gone
    # "x" NA sentinel → NULL in occ_char income
    income = "2021 Census Median Employment Income (Employed)"
    assert inputs.occ_char.filter(F.col(income).isNull()).count() > 0


def test_all_ten_artifacts_build_and_materialize(artifacts):
    assert len(artifacts) == len(ARTIFACTS) == 10
    for name, wb in artifacts.items():
        for sheet, df in wb.items():
            assert df.columns, f"{name}/{sheet} has no columns"
        first = next(iter(wb.values()))
        assert first.limit(1).count() > 0, f"{name}: first sheet empty"


def test_tbbl1_bc_only_and_cagr_algebra(artifacts):
    wb = artifacts["Employment by Industry and Occupation for BC"]
    df = wb["data"]
    rows = df.collect()
    assert rows, "tbbl1 empty"
    areas = {r["Geographic Area"] for r in rows}
    assert areas == {"British Columbia"}
    # (1+c10)^10 == (1+c5a)^5 * (1+c5b)^5 (SM:56-58 algebra)
    for r in rows[:50]:
        c5a, c5b, c10 = r["1st 5-Year Cagr"], r["2nd 5-Year Cagr"], r["10-Year Cagr"]
        if None in (c5a, c5b, c10):
            continue
        lhs = (1 + c10) ** 10
        rhs = (1 + c5a) ** 5 * (1 + c5b) ** 5
        assert math.isclose(lhs, rhs, rel_tol=1e-9)
        # CAGR anchored on raw year columns
        v0, v5, v10 = r["2024"], r["2029"], r["2034"]
        assert math.isclose((v5 / v0) ** 0.2 - 1, c5a, rel_tol=1e-9)
        assert math.isclose((v10 / v0) ** 0.1 - 1, c10, rel_tol=1e-9)


def test_tbbl2_fanout_drops_pseudo_regions(artifacts):
    wb = artifacts["Employment by Industry for BC and Regions"]
    sheets = set(wb) - {"data"}
    assert sheets == {"British Columbia", *fixtures.REGIONS}
    for pseudo in fixtures.PSEUDO_REGIONS:
        assert pseudo not in wb
    # region sheets drop NOC/Description/Variable (SM:142)
    cariboo = wb["Cariboo"]
    assert "NOC" not in cariboo.columns and "Variable" not in cariboo.columns
    # data sheet: NOC pinned to #T (SM:124)
    assert {r["NOC"] for r in wb["data"].select("NOC").distinct().collect()} == {"#T"}


def test_tbbl3_sums_match_year_columns(artifacts):
    wb = artifacts["Job Openings by Industry and Occupation for BC"]
    rows = wb["data"].collect()
    assert rows
    for r in rows[:50]:
        first5 = sum(r[str(y)] for y in range(2025, 2030))
        second5 = sum(r[str(y)] for y in range(2030, 2035))
        assert math.isclose(r["1st 5-Year Sum"], first5, rel_tol=1e-9)
        assert math.isclose(r["2nd 5-Year Sum"], second5, rel_tol=1e-9)
        assert math.isclose(r["10-Year Sum"], first5 + second5, rel_tol=1e-9)


def test_hoo_workbook_structure_and_left_join(artifacts, inputs):
    wb = artifacts["High Opportunity Occupations BC and Regions"]
    sheet_names = list(wb)
    assert sheet_names[0] == "Data Dictionary"
    assert set(sheet_names[1:]) == {"HOO BC", *(f"HOO {r}" for r in fixtures.REGIONS)}
    bc = wb["HOO BC"].collect()
    # left join preserves every HOO row (SURVEY §5.4)
    flag = f"Occ Group: HOO BC {CFG.fyod}E"
    n_hoo = inputs.occ_char.filter(~F.col(flag).rlike("Non")).count()
    assert len(bc) == n_hoo
    for r in bc:
        assert r["TEER"] == r["NOC"][2]  # 3rd char of #NNNNN (SM:76)
        assert r[CFG.jo_label] is not None  # every NOC has openings in fixture


def test_tbbl9_long_export_shape(artifacts, inputs):
    df = artifacts["JO by Type, Ind and Occ for BC and Regions (long)"]["data"]
    n_wide = inputs.job_openings.filter(
        ~F.col("Geographic Area").isin(list(fixtures.PSEUDO_REGIONS))
    ).count()
    assert df.count() == n_wide * 11
    assert df.schema["year"].dataType.simpleString() == "string"  # SM:306 keeps chr


def test_tbbl10_flagship_join(inputs):
    df = jo_by_skill_cluster(inputs, CFG)
    rows = df.collect()
    # clusters fixture covers NOCS[1:-2] → inner join returns exactly those
    assert len(rows) == len(fixtures.NOCS) - 3
    assert df.columns == [
        "NOC", "Description", "Occ Group: Skills Cluster", CFG.jo_label
    ]
    assert all(r["NOC"].startswith("#") for r in rows)


def test_read_csv_skip_multifile_glob(spark, tmp_path):
    """S1 banner-skip applies PER FILE when the path is a glob — a
    2-file vendor drop must lose both banners, not just the first."""
    from lmo_data_catalog_spark.sources.ingest import read_csv_skip

    for i, rows in enumerate([["a,1", "b,2"], ["c,3"]]):
        (tmp_path / f"part{i}.csv").write_text(
            "banner line\nsecond banner\n\nk,v\n" + "\n".join(rows) + "\n"
        )
    df = read_csv_skip(spark, str(tmp_path / "part*.csv"), skip_rows=3)
    got = sorted((r["k"], r["v"]) for r in df.collect())
    assert df.columns == ["k", "v"]
    assert got == [("a", 1), ("b", 2), ("c", 3)]


def test_read_csv_skip_failfast_catches_malformed(spark, tmp_path):
    """Landing-zone parse modes: FAILFAST raises on a malformed line
    (truncated vendor file caught at ingest); PERMISSIVE nulls the
    missing cells and keeps the row; any other mode is rejected."""
    f = tmp_path / "trunc.csv"
    # numeric col so a short row is a real type/arity violation
    f.write_text("banner\nk,v\na,1\nb\nc,3\n")
    from lmo_data_catalog_spark.sources.ingest import read_csv_skip

    schema = "k string, v int"
    permissive = read_csv_skip(
        spark, str(f), skip_rows=1, schema=schema
    ).collect()
    assert sorted((r.k, r.v) for r in permissive) == [
        ("a", 1), ("b", None), ("c", 3)
    ]
    with pytest.raises(Exception, match="[Mm]alformed"):
        read_csv_skip(
            spark, str(f), skip_rows=1, schema=schema, mode="FAILFAST"
        ).collect()
    # from_csv has no other mode: any other is refused at build time
    with pytest.raises(ValueError, match="DROPMALFORMED"):
        read_csv_skip(spark, str(f), skip_rows=1, schema=schema, mode="DROPMALFORMED")


def _write_minimal_xlsx(path, rows):
    """Build a genuine .xlsx (zip + SpreadsheetML parts) with stdlib
    only: shared strings for str cells, raw <v> for numbers, and one
    deliberately sparse row exercise (empty cells are simply absent
    from the XML, as Excel writes them)."""
    import zipfile
    from xml.sax.saxutils import escape

    shared, sidx = [], {}

    def cell(ref, v):
        if v is None:
            return ""
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        if v not in sidx:
            sidx[v] = len(shared)
            shared.append(v)
        return f'<c r="{ref}" t="s"><v>{sidx[v]}</v></c>'

    def colname(i):
        name = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            name = chr(65 + r) + name
        return name

    sheet_rows = "".join(
        f'<row r="{ri + 1}">'
        + "".join(cell(f"{colname(ci)}{ri + 1}", v) for ci, v in enumerate(row))
        + "</row>"
        for ri, row in enumerate(rows)
    )
    sst = "".join(f"<si><t>{escape(s)}</t></si>" for s in shared)
    ssml = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    parts = {
        "[Content_Types].xml": (
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="xml" ContentType="application/xml"/></Types>'
        ),
        "_rels/.rels": (
            '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>'
        ),
        "xl/workbook.xml": (
            f'<?xml version="1.0"?><workbook xmlns="{ssml}" '
            'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
        ),
        "xl/_rels/workbook.xml.rels": (
            '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>'
        ),
        "xl/sharedStrings.xml": (
            f'<?xml version="1.0"?><sst xmlns="{ssml}">{sst}</sst>'
        ),
        "xl/worksheets/sheet1.xml": (
            f'<?xml version="1.0"?><worksheet xmlns="{ssml}">'
            f"<sheetData>{sheet_rows}</sheetData></worksheet>"
        ),
    }
    with zipfile.ZipFile(path, "w") as z:
        for name, content in parts.items():
            z.writestr(name, content)


def test_read_excel_ingest_real_xlsx(spark, tmp_path):
    """S2's binary path, end-to-end: a genuine in-test .xlsx (zip +
    SpreadsheetML) read with skip=3 / na='x' must produce the same
    rows, NULLs, and inferred schema as the CSV fallback on the same
    logical table (the reference's read_excel(skip=3, na='x'),
    01_source_me.R:93-97)."""
    from lmo_data_catalog_spark.sources.ingest import (
        read_csv_skip,
        read_excel_ingest,
    )

    rows = [
        ["LMO vendor drop", None, None],        # banner 1
        ["fiscal year 2024", None, None],       # banner 2
        [None, None, None],                     # banner 3 (blank)
        ["NOC", "Openings", "Rate"],            # header
        ["#11100", 120, 1.5],
        ["#21301", "x", 2.25],                  # NA sentinel in int col
        ["#31102", 85, None],                   # sparse: trailing empty cell
    ]
    xlsx = tmp_path / "vendor.xlsx"
    _write_minimal_xlsx(xlsx, rows)
    df = read_excel_ingest(spark, str(xlsx), skip_rows=3, na_values=("x",))

    csv = tmp_path / "vendor.csv"
    csv.write_text(
        "LMO vendor drop,,\nfiscal year 2024,,\n,,\n"
        "NOC,Openings,Rate\n#11100,120,1.5\n#21301,x,2.25\n#31102,85,\n"
    )
    ref = read_excel_ingest(spark, str(csv), skip_rows=3, na_values=("x",))

    assert df.columns == ref.columns == ["NOC", "Openings", "Rate"]
    assert [f.dataType for f in df.schema.fields] == [
        f.dataType for f in ref.schema.fields
    ]
    got = sorted(map(tuple, df.collect()))
    want = sorted(map(tuple, ref.collect()))
    assert got == want
    assert got[1] == ("#21301", None, 2.25)  # sentinel became NULL


#: one column per value: the 9 on which Spark's CSV inferSchema and a
#: Python int/float ladder disagree, then 7 plain ones
EDGE_VALUES = [
    "1_000", " 7", "inf", "true", "2024-01-01", "5.", "1d", "1f",
    "12345678901234567890", "42", "-3", "2147483648", "1.5", "1e5",
    "-0", "abc",
]


def test_csv_and_xlsx_land_edge_values_by_one_rule(spark, tmp_path):
    """Both landing formats type a column by the one rule: the
    narrowest of int → bigint → double that every non-null value
    passes under Spark's try_cast, else string."""
    from lmo_data_catalog_spark.sources.ingest import (
        read_csv_skip,
        read_excel_ingest,
    )

    header = [f"c{i}" for i in range(len(EDGE_VALUES))]
    xlsx = tmp_path / "edge.xlsx"
    _write_minimal_xlsx(xlsx, [["banner"], header, EDGE_VALUES, [None] * 16])
    csv = tmp_path / "edge.csv"
    lines = ["banner", ",".join(header), ",".join(EDGE_VALUES), "," * 15]
    csv.write_text("\n".join(lines) + "\n")
    from_csv = read_csv_skip(spark, str(csv), skip_rows=1)
    from_xlsx = read_excel_ingest(spark, str(xlsx), skip_rows=1, na_values=())

    assert from_csv.schema == from_xlsx.schema
    assert [f.dataType.simpleString() for f in from_csv.schema] == [
        "string", "int", "double", "string", "string", "double", "double",
        "double", "double", "int", "int", "bigint", "double", "double",
        "int", "string",
    ]
    got_csv, got_xlsx = (
        sorted(map(tuple, df.collect()), key=repr) for df in (from_csv, from_xlsx)
    )
    assert got_csv == got_xlsx
    assert got_csv[0][:3] == ("1_000", 7, float("inf"))
    assert got_csv[1] == (None,) * 16


#: plan nodes that cross into Python: a Python RDD scan (ExistingRDD)
#: and the Python exec nodes (BatchEvalPython, ArrowEvalPython,
#: MapInPandas, FlatMapGroupsInPandas, PythonMapInArrow, ...)
PYTHON_NODES = r"ExistingRDD|PythonRDD|EvalPython|InPandas|InArrow"


def test_load_inputs_plans_are_jvm_only(spark, raw_dir):
    """No input plan holds a Python RDD or a Python exec node: the
    banner skip, the parse and the typing all run in the JVM. Each CSV
    line is parsed at most twice, by the remove_empty filter and by the
    projection: a filter test per column would be pushed below the
    parse as one ``from_csv`` per column."""
    inp = load_inputs(spark, raw_dir)
    for name in ("employment", "job_openings", "occ_char", "clusters"):
        plan = getattr(inp, name)._jdf.queryExecution().executedPlan().toString()
        assert not re.search(PYTHON_NODES, plan), (name, plan)
        assert plan.count("from_csv(") <= 2, (name, plan)


def test_artifact_sheet_plans_are_jvm_only(artifacts):
    """No sheet plan of any artifact holds a Python RDD or a Python exec
    node, SplitWorkbook head sheets and parent frames included (the
    Data Dictionary is one array literal, not a createDataFrame)."""
    for name, wb in artifacts.items():
        frames = (
            {**wb.head, "(parent)": wb.parent}
            if isinstance(wb, SplitWorkbook)
            else dict(wb)
        )
        for sheet, df in frames.items():
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert not re.search(PYTHON_NODES, plan), (name, sheet, plan)


def test_load_inputs_fires_at_most_three_jobs_per_input(spark, raw_dir):
    """Job budget: per input one header fetch and one typing aggregate
    (a shuffle-map job plus its result job); remove_empty adds none."""
    assert _jobs(spark, lambda: load_inputs(spark, raw_dir)) <= 3 * 4


def test_load_inputs_equals_four_sequential_reads(spark, raw_dir):
    """Landing the four inputs concurrently gives the same schemas and
    row multisets as four reads one after another."""
    from lmo_data_catalog_spark.sources.ingest import (
        read_csv_skip,
        read_excel_ingest,
        resolve_input,
    )

    inp = load_inputs(spark, raw_dir)
    one_by_one = {
        "employment": read_csv_skip(
            spark, f"{raw_dir}/employment.csv", skip_rows=3, remove_empty=True
        ),
        "job_openings": read_csv_skip(
            spark, f"{raw_dir}/job_openings.csv", skip_rows=3, remove_empty=True
        ),
        "occ_char": read_excel_ingest(
            spark,
            resolve_input(raw_dir, "Occupational Characteristics*"),
            skip_rows=3,
            na_values=("x",),
        ),
        "clusters": read_csv_skip(spark, f"{raw_dir}/clusters.csv"),
    }
    for name, want in one_by_one.items():
        got = getattr(inp, name)
        assert got.schema == want.schema, name
        assert sorted(map(tuple, got.collect()), key=repr) == sorted(
            map(tuple, want.collect()), key=repr
        ), name


def test_run_concurrently_gives_each_thread_its_own_local_properties(spark):
    """Each thunk starts from its own clone of the caller's local
    properties: what one thread sets is seen neither by the other
    threads nor by the caller. Results come back in call order, and
    the first failure in that order is raised after all have run."""
    import threading

    from lmo_data_catalog_spark.session import run_concurrently

    sc = spark.sparkContext
    key = "tests.run_concurrently"
    meet = threading.Barrier(2, timeout=60)
    ran = []

    def thunk(name):
        def run():
            inherited = sc.getLocalProperty(key)
            sc.setLocalProperty(key, name)
            meet.wait()  # both threads have set their own value
            ran.append(name)
            return inherited, sc.getLocalProperty(key)

        return run

    sc.setLocalProperty(key, "caller")
    try:
        got = run_concurrently(spark, {"a": thunk("a"), "b": thunk("b")})
        assert sc.getLocalProperty(key) == "caller"
    finally:
        sc.setLocalProperty(key, None)
    assert got == {"a": ("caller", "a"), "b": ("caller", "b")}

    def fail(msg):
        def run():
            ran.append(msg)
            raise RuntimeError(msg)

        return run

    ran.clear()
    calls = {"ok": lambda: 1, "first": fail("first"), "second": fail("second")}
    with pytest.raises(RuntimeError, match="first"):
        run_concurrently(spark, calls)
    assert sorted(ran) == ["first", "second"]


def test_read_excel_ingest_counts_rows_left_out_of_the_xml(spark, tmp_path):
    """Excel leaves a blank row out of the sheet XML. Rows are numbered
    by their r="N", so skip_rows counts sheet rows as readxl does: 2
    banner rows and a blank third, then the header and one data row."""
    from lmo_data_catalog_spark.sources.ingest import read_excel_ingest

    full = tmp_path / "full.xlsx"
    _write_minimal_xlsx(
        full,
        [["banner"], ["fiscal year 2024"], [None, None], ["NOC", "Openings"],
         ["#11100", 120]],
    )
    xlsx = tmp_path / "gap.xlsx"
    with zipfile.ZipFile(full) as src, zipfile.ZipFile(xlsx, "w") as dst:
        for part in src.namelist():
            data = src.read(part)
            if part == "xl/worksheets/sheet1.xml":
                assert b'<row r="3"></row>' in data
                data = data.replace(b'<row r="3"></row>', b"")
            dst.writestr(part, data)

    rows = read_xlsx_rows(str(xlsx))
    assert rows[2] == [] and rows[3] == ["NOC", "Openings"]
    df = read_excel_ingest(spark, str(xlsx), skip_rows=3)
    assert df.columns == ["NOC", "Openings"]
    assert [tuple(r) for r in df.collect()] == [("#11100", 120)]
    # the header is the first non-empty row at or after skip_rows
    assert read_excel_ingest(spark, str(xlsx), skip_rows=2).columns == df.columns


def test_read_csv_skip_raises_when_banner_overruns_split0(spark, tmp_path):
    """The banner and header are dropped by row id, which only split 0
    numbers from 0. A split 0 shorter than the banner must raise, not
    drop the wrong lines; a long body spread over many splits lands
    whole."""
    from lmo_data_catalog_spark.sources.ingest import read_csv_skip

    long_banner = tmp_path / "long_banner.csv"
    long_banner.write_text(
        "a banner line far longer than one split\nsecond\nthird\nk,v\na,1\n"
    )
    many_splits = tmp_path / "many_splits.csv"
    many_splits.write_text("b\nk,v\n" + "".join(f"r{i},{i}\n" for i in range(40)))
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "16")
    try:
        with pytest.raises(ValueError, match="split 0"):
            read_csv_skip(spark, str(long_banner), skip_rows=3)
        got = read_csv_skip(spark, str(many_splits), skip_rows=1).collect()
    finally:
        spark.conf.set(key, old)
    assert sorted((r.k, r.v) for r in got) == sorted((f"r{i}", i) for i in range(40))


def test_hoo_unresolvable_sheet_region_raises(inputs):
    # a sheet token the aliases don't cover must fail loudly, not
    # left-join to nothing and emit an all-NULL openings column
    bad_cfg = LMOConfig(fyod=CFG.fyod, region_aliases={})
    with pytest.raises(ValueError, match="Geographic Area"):
        high_opportunity_occupations(inputs, bad_cfg)


def test_hoo_split_sheets_are_type_exact_and_keep_empty_regions(
    spark, inputs, tmp_path
):
    """The HOO sheets are cut from one collected parent. A cut keeps the
    dtypes a toPandas of that sheet alone gives — income, an int column
    whose only null sits in another sheet, is written as 45000, not
    45000.0 — and a flag column that is all Non-HOO still yields its
    header-only sheet."""
    income = "2021 Census Median Employment Income (Employed)"
    flags = [f"Occ Group: HOO {s} {CFG.fyod}E" for s in ("BC", "Cariboo", "Kootenay")]
    occ = spark.createDataFrame(
        [
            ("#00011", "Legislators", "HOO", "Non-HOO", "Non-HOO", 45000),
            ("#11100", "Financial auditors", "Non-HOO", "Non-HOO", "HOO", None),
        ],
        StructType(
            [StructField(c, StringType()) for c in ["NOC", "Description", *flags]]
            + [StructField(income, IntegerType())]
        ),
    )
    wb = high_opportunity_occupations(replace(inputs, occ_char=occ), CFG)
    assert list(wb) == ["Data Dictionary", "HOO BC", "HOO Cariboo", "HOO Kootenay"]
    split = write_workbook(wb, str(tmp_path / "split.xlsx"))
    header = ["NOC", "Description", CFG.jo_label, "TEER", income]
    bc = read_xlsx_rows(split, sheet=1)
    assert bc[0] == header
    assert [(r[0], r[4]) for r in bc[1:]] == [("#00011", "45000")]
    assert read_xlsx_rows(split, sheet=2) == [header]
    kootenay = read_xlsx_rows(split, sheet=3)
    assert [r[0] for r in kootenay[1:]] == ["#11100"]
    assert len(kootenay[1]) == 4  # NULL income: no trailing cell
    # and byte-for-byte what one toPandas per sheet writes
    per_sheet = write_workbook(dict(wb.items()), str(tmp_path / "per_sheet.xlsx"))
    with zipfile.ZipFile(split) as a, zipfile.ZipFile(per_sheet) as b:
        assert a.namelist() == b.namelist()
        for part in a.namelist():
            assert a.read(part) == b.read(part), part


def _jobs(spark, action) -> int:
    """Spark jobs submitted while ``action()`` runs."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    action()
    return dag.nextJobId() - before


def test_build_all_fires_only_the_hoo_validation(spark, inputs):
    """Plan budget: the builders are lazy. Building the whole catalog
    runs no Spark job beyond the HOO sheet→region validation's collect
    of the openings regions."""

    def validation():
        regional_jo_by_occ(inputs, CFG).select("Geographic Area").distinct().collect()

    validation()  # fills the inputs' caches outside the counted runs
    assert _jobs(spark, lambda: build_all(inputs, CFG)) <= _jobs(spark, validation)


def test_region_fanout_write_jobs_do_not_grow_with_regions(spark, inputs, tmp_path):
    """Plan budget: writing a region fan-out costs the same Spark jobs
    for 3 regions as for 8 — one collect of the parent, not one per
    sheet."""
    few = replace(
        inputs,
        employment=inputs.employment.filter(
            F.col("Geographic Area").isin(fixtures.AREAS[:3])
        ),
    )

    def sheets_and_jobs(inp, name):
        wb = build_all(inp, CFG)["Employment by Occupation for BC and Regions"]
        jobs = _jobs(spark, lambda: write_workbook(wb, str(tmp_path / name)))
        return len(wb), jobs

    sheets_and_jobs(inputs, "warm.xlsx")  # the inputs' caches fill here
    sheets_few, jobs_few = sheets_and_jobs(few, "few.xlsx")
    sheets_all, jobs_all = sheets_and_jobs(inputs, "all.xlsx")
    assert (sheets_few, sheets_all) == (4, 9)
    assert jobs_few == jobs_all


def test_write_catalog_persists_only_the_callers_inputs(spark, tmp_path):
    """Lifetime budget: a build + write_catalog pass leaves persisted
    exactly the two inputs its caller cached, nothing of its own."""
    raw = str(tmp_path / "raw")
    fixtures.generate(raw, fyod=CFG.fyod, seed=3)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    inp = load_inputs(spark, raw)
    inp.employment.cache()
    inp.job_openings.cache()
    try:
        meta = {name: m for name, (_, m) in ARTIFACTS.items()}
        write_catalog(build_all(inp, CFG), str(tmp_path / "out"), metadata=meta)
        assert len(set(jsc.getPersistentRDDs().keySet()) - before) == 2
    finally:
        inp.employment.unpersist()
        inp.job_openings.unpersist()


def test_cache_release_all_unpersists(spark):
    from lmo_data_catalog_spark import cache

    df = cache.track(spark.range(10))
    assert df.storageLevel.useMemory
    assert cache.release_all() >= 1
    assert not df.storageLevel.useMemory
    assert cache.release_all() == 0  # idempotent, registry cleared


def test_build_all_keeps_the_callers_inputs_cached(spark, inputs):
    """Building the catalog leaves the caller's cached forecast inputs
    in the cache manager. A plan built through ``spark.sql(text,
    src=df)`` registers a temp view over ``df``; dropping that view
    uncaches every cached plan inside it, ``df`` itself included."""
    manager = spark._jsparkSession.sharedState().cacheManager()
    build_all(inputs, CFG)
    for name in ("employment", "job_openings"):
        df = getattr(inputs, name)
        assert manager.lookupCachedData(df._jdf).isDefined(), name


#: main-thread py4j commands a warm ``build_all`` sends on the seed-7
#: fixtures, py4j's memory (GC delete) commands not counted: 811
#: measured, plus a small margin
BUILD_ALL_PY4J_BUDGET = 840


def test_build_all_py4j_budget(monkeypatch, inputs):
    """Driver budget: a warm ``build_all`` builds its filters and
    aggregates from SQL text (one round trip per expression) and
    unpivots each forecast input once. Every column turned back into
    an ``F.col``, or an unpivot per table, costs round trips again: each
    element of a list argument (``groupBy``, ``agg``, ``toDF``,
    ``unpivot``) is one ``add``."""
    from tests.test_pyboundary import _count_round_trips

    build_all(inputs, CFG)  # warm-up: function lookups, the HOO collect's cache
    sent = _count_round_trips(monkeypatch, lambda: build_all(inputs, CFG))
    assert sent["calls"] <= BUILD_ALL_PY4J_BUDGET, dict(sent)
