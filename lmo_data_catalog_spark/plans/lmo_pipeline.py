"""Full reference-pipeline reproduction (SURVEY §3 shapes 1-3; §7 step 3).

Builds every catalog artifact of ``01_source_me.R`` as lazy DataFrame
workbooks (``Mapping[sheet_name, DataFrame]``). The four workbooks
with a sheet per region — the O2 fan-out of tbbl2/7/8 and the HOO
sheets of tbbl4 — are ``sinks.workbook.SplitWorkbook`` mappings: one
parent plan plus the column to split it on, so the sink collects each
once and cuts its sheets on the driver instead of running one Spark
job per sheet. Building persists nothing and runs one action: the HOO
sheet→region validation's distinct collect of the openings regions.
Sinks decide materialization.

Plan shape per metric artifact (tbbl1/2/3/5/7/8; SM:100-118 archetype):
unpivot (Expand node, narrow) → filter (pushed to scan) → ONE
hash-aggregate on the 5 group keys computing the per-year pivot cells
AND the group metrics as conditional aggregates in the same pass.
The reference needs nest→map→unnest→pivot_wider (two logical passes,
per-group R closures); here it is a single shuffle with map-side
partial agg and whole-stage codegen — the shape that survives a
100× scale-up.

Building is driver work: py4j round trips, not Spark jobs. Each
forecast input is unpivoted once per :func:`build_all` and its metric
tables filter that one long frame; every filter, aggregate and
projection is SQL text (``DataFrame.filter(text)``, ``F.expr``,
``selectExpr``), one round trip per expression however many columns
it names, and each table's headers come from one ``toDF``. A warm
``build_all`` on the seed-7 fixtures makes 811 main-thread round
trips, pinned by ``tests/test_lmo_pipeline.py::
test_build_all_py4j_budget``. See :mod:`..pyboundary` for why the
text never goes through ``spark.sql(text, src=df)``.

Deliberate deviation (SURVEY §7 risk 4): the reference couples HOO
sheets to regions *positionally* (sorted sheet names zipped against
sorted region names, SM:189/196-197). We derive the region from the
sheet name explicitly and validate it against the data.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.filters import isin_sql, not_isin_sql, not_rlike_sql
from ..pyboundary import literal_array, sql_name, sql_string
from ..schema_toolkit import clean_names, select_by_regex, title_case
from ..session import run_concurrently
from ..sinks.workbook import SplitWorkbook
from ..sources.ingest import read_csv_skip, read_excel_ingest, resolve_input

Workbook = Mapping[str, DataFrame]

GROUP_KEYS = ["noc", "description", "industry", "variable", "geographic_area"]


@dataclass(frozen=True)
class LMOConfig:
    """Scalar config constants (SM:1,24-25)."""

    fyod: int = 2024
    pseudo_regions: tuple[str, ...] = ("North", "South East")
    # sheet-name token → full region name (explicit replacement for the
    # reference's positional coupling, SM:189/196)
    region_aliases: dict[str, str] = field(
        default_factory=lambda: {"BC": "British Columbia"}
    )

    @property
    def fyfn(self) -> int:
        return self.fyod + 5

    @property
    def tyfn(self) -> int:
        return self.fyod + 10

    @property
    def years(self) -> list[int]:
        return list(range(self.fyod, self.fyod + 11))

    @property
    def jo_label(self) -> str:
        """Glue-interpolated schema (SM:187,343)."""
        return f"LMO Job Openings {self.fyod}-{self.tyfn}"


@dataclass
class LMOInputs:
    employment: DataFrame
    job_openings: DataFrame
    occ_char: DataFrame
    clusters: DataFrame


def load_inputs(spark: SparkSession, raw_dir: str) -> LMOInputs:
    """Ingest the four raw files (SM:87-97, :334), side by side.

    Each landing read fires a header fetch and a typing aggregate of
    1-2 tasks on a few hundred KB. With the typing casts guarded (see
    :mod:`..sources.ingest`) a read's time is mostly the per-job floor,
    not work. The four are independent and run concurrently
    through :func:`..session.run_concurrently`; every job keeps the
    caller's job group. The result is the same frames as four reads in
    a row, so there is nothing to choose and no option.
    """
    return LMOInputs(
        **run_concurrently(
            spark,
            {
                "employment": lambda: read_csv_skip(
                    spark, f"{raw_dir}/employment.csv", skip_rows=3, remove_empty=True
                ),
                "job_openings": lambda: read_csv_skip(
                    spark, f"{raw_dir}/job_openings.csv", skip_rows=3, remove_empty=True
                ),
                "occ_char": lambda: read_excel_ingest(
                    spark,
                    resolve_input(raw_dir, "Occupational Characteristics*"),
                    skip_rows=3,
                    na_values=("x",),
                ),
                "clusters": lambda: read_csv_skip(spark, f"{raw_dir}/clusters.csv"),
            },
        )
    )


# ---------------------------------------------------------------- shape 1 core


def _melt(df: DataFrame, var_name: str = "year", value_name: str = "value") -> DataFrame:
    """Wide→long over the year columns (SM:101): every column that does
    not start with ``2`` is an id, so the values are the rest — Spark's
    default when none are given, which passes only the ids to the JVM.
    The string-year Expand of ``reshape.unpivot_years(..., cast_year_int
    =False)``."""
    ids = [c for c in df.columns if not c.startswith("2")]
    return df.unpivot(ids, None, var_name, value_name)


def _clean_long(df: DataFrame) -> DataFrame:
    """unpivot → int year → snake_case (SM:101-102). Unpivot precedes
    clean_names because year columns are selected by the raw
    ``starts_with("2")``. :func:`build_all` makes it once per forecast
    input and every metric table of that input filters the same frame."""
    return clean_names(_melt(df).withColumn("year", F.col("year").cast("int")))


def _year_cell(yr: int) -> str:
    return f"first(CASE WHEN year = {yr} THEN value END, true)"


def _cagr(start: str, end: str, years: int) -> str:
    """Compound annual growth rate ``(end/start)^(1/years) - 1``
    (01_source_me.R:56-58), double literals as ``F.lit`` types them."""
    return f"power({end} / {start}, {1.0 / years!r}D) - 1.0D"


def _metric_sql(cfg: LMOConfig, metric: str) -> dict[str, str]:
    """The reference's per-group R closures (``cagrs`` SM:50-62,
    ``sums`` SM:63-71) as conditional aggregates, in SQL."""
    if metric == "cagrs":
        at = {yr: _year_cell(yr) for yr in (cfg.fyod, cfg.fyfn, cfg.tyfn)}
        return {
            "1st 5-year CAGR": _cagr(at[cfg.fyod], at[cfg.fyfn], 5),
            "2nd 5-year CAGR": _cagr(at[cfg.fyfn], at[cfg.tyfn], 5),
            "10-year CAGR": _cagr(at[cfg.fyod], at[cfg.tyfn], 10),
        }
    if metric == "sums":
        rng = {
            "1st 5-year Sum": (cfg.fyod + 1, cfg.fyod + 5),
            "2nd 5-year Sum": (cfg.fyod + 6, cfg.tyfn),
            "10-year Sum": (cfg.fyod + 1, cfg.tyfn),
        }
        return {
            name: f"sum(CASE WHEN year >= {lo} AND year <= {hi} THEN value END)"
            for name, (lo, hi) in rng.items()
        }
    raise ValueError(metric)


def metric_table(df_long: DataFrame, cfg: LMOConfig, metric: str) -> DataFrame:
    """Shape-1 core: pivot-wide + group metrics in ONE aggregate.

    Replaces nest→map(cagrs|sums)→unnest→pivot_wider (SM:104-110 and 5
    repeats): per-year cells are ``first(CASE WHEN year = y THEN value
    END, true)`` and the metrics are conditional aggregates over the
    same groups — a single shuffle keyed on the 5 group columns. Each
    aggregate is one SQL expression, and one ``toDF`` gives the headers
    ``str_to_title(str_replace_all(names, "_", " "))`` with the first
    column ``NOC`` (SM:112-114), computed in Python.
    """
    cells = {str(yr): _year_cell(yr) for yr in cfg.years}
    cells.update(_metric_sql(cfg, metric))
    wide = df_long.groupBy(*GROUP_KEYS).agg(
        *(F.expr(f"{sql} AS {sql_name(name)}") for name, sql in cells.items())
    )
    headers = [title_case(c.replace("_", " ")) for c in [*GROUP_KEYS, *cells]]
    return wide.toDF("NOC", *headers[1:])


@dataclass(frozen=True)
class MetricArtifact:
    """A shape-1 artifact (tbbl1/2/3/5/7/8): the long form of one
    forecast input (``source``), the rows ``where`` keeps (SQL over the
    snake_case long columns, from the config), then :func:`metric_table`
    with the ``cagrs`` or ``sums`` metrics. With ``region_drop`` it fans
    out per region (O2, SM:140-145): the combined table first, then one
    sheet per Geographic Area, each dropping those columns. Nothing runs
    here: the workbook sink collects the (small, aggregated) table once
    and cuts the region sheets from it. At scale this is the
    ``partitionBy`` write path instead."""

    source: str
    where: Callable[[LMOConfig], str]
    metric: str
    region_drop: tuple[str, ...] | None = None

    def from_long(self, long: DataFrame, cfg: LMOConfig) -> Workbook:
        wide = metric_table(long.filter(self.where(cfg)), cfg, self.metric)
        if self.region_drop is None:
            return {"data": wide}
        return SplitWorkbook({"data": wide}, wide, "Geographic Area", self.region_drop)


# ------------------------------------------------------------------- artifacts

_DEMAND = ("Job Openings", "Expansion Demand", "Replacement Demand")


def _real_regions(cfg: LMOConfig) -> str:
    return not_isin_sql("geographic_area", cfg.pseudo_regions)


#: tbbl1 (SM:100-118): BC only, CAGR triple, one sheet
employment_by_industry_and_occupation_bc = MetricArtifact(
    "employment", lambda cfg: "geographic_area = 'British Columbia'", "cagrs"
)

#: tbbl2 (SM:121-147): NOC=#T, drop pseudo-regions, CAGRs, fan-out per
#: region (region sheets drop NOC/Description/Variable)
employment_by_industry_bc_and_regions = MetricArtifact(
    "employment",
    lambda cfg: f"noc = '#T' AND {_real_regions(cfg)}",
    "cagrs",
    region_drop=("NOC", "Description", "Variable"),
)

#: tbbl3 (SM:150-167): BC + Job Openings only, range sums
job_openings_by_industry_and_occupation_bc = MetricArtifact(
    "job_openings",
    lambda cfg: "geographic_area = 'British Columbia' AND variable = 'Job Openings'",
    "sums",
)

#: tbbl5 (SM:207-229): all areas, 3 demand variables, range sums
jo_by_type_ind_occ = MetricArtifact(
    "job_openings", lambda cfg: isin_sql("variable", _DEMAND), "sums"
)

#: tbbl7 (SM:243-270): All-industries slice, CAGRs, regional fan-out
#: (region sheets drop Industry/Variable)
employment_by_occupation = MetricArtifact(
    "employment",
    lambda cfg: f"industry = 'All industries' AND {_real_regions(cfg)}",
    "cagrs",
    region_drop=("Industry", "Variable"),
)

#: tbbl8 (SM:273-302): All-industries, 3 demand variables, no
#: pseudo-regions, sums, fan-out (region sheets drop Industry)
jo_by_type_and_occ = MetricArtifact(
    "job_openings",
    lambda cfg: (
        f"industry = 'All industries' AND {isin_sql('variable', _DEMAND)} "
        f"AND {_real_regions(cfg)}"
    ),
    "sums",
    region_drop=("Industry",),
)


def employment_by_ind_occ_long(inp: LMOInputs, cfg: LMOConfig) -> Workbook:
    """tbbl6 (SM:232-240): passthrough unpivot, original headers,
    year stays string (pivot_longer keeps character names)."""
    kept = inp.employment.filter(
        not_isin_sql(sql_name("Geographic Area"), cfg.pseudo_regions)
    )
    return {"data": _melt(kept, "Date", "Value")}


def jo_long_export(inp: LMOInputs, cfg: LMOConfig) -> DataFrame:
    """tbbl9 (SM:305-317): raw-header unpivot minus pseudo-regions —
    the zipped-CSV export (sink compresses natively, no zip dance)."""
    return _melt(inp.job_openings).filter(
        not_isin_sql(sql_name("Geographic Area"), cfg.pseudo_regions)
    )


# ------------------------------------------------------------------ HOO (tbbl4)


def regional_jo_by_occ(inp: LMOInputs, cfg: LMOConfig) -> DataFrame:
    """11-year total openings per NOC × region (SM:182-187)."""
    long = _melt(
        inp.job_openings.filter(
            "Industry = 'All industries' AND Variable = 'Job Openings'"
        )
    )
    return long.groupBy("NOC", "Geographic Area").agg(
        F.expr(f"sum(value) AS {sql_name(cfg.jo_label)}")
    )


def _sheet_region(sheet: str, cfg: LMOConfig) -> str:
    """Explicit sheet→region mapping (deviation from SM:189/196-197's
    positional zip): strip the ``HOO `` prefix, resolve aliases."""
    token = sheet.removeprefix("HOO ").strip()
    return cfg.region_aliases.get(token, token)


def high_opportunity_occupations(
    inp: LMOInputs, cfg: LMOConfig
) -> SplitWorkbook:
    """tbbl4 (SM:169-203): per-region HOO sheets + data dictionary.

    One plan for all sheets: the HOO flag columns are stacked into
    (sheet, region, flag) rows, the ``Non`` flags dropped, and the
    regional openings aggregate — |NOC| × |region| rows, far under the
    broadcast threshold — broadcast into ONE left join on (NOC, region)
    (J1/J3). The sheet list comes from the schema, so a region with no
    HOO occupation still gets its header-only sheet.
    """
    occ = inp.occ_char
    col_for_sheet = {
        re.sub(rf" {cfg.fyod}E$", "", c.replace("Occ Group: ", "")): c
        for c in select_by_regex(occ, "Group: HOO")
    }
    income = "2021 Census Median Employment Income (Employed)"
    jo_by_region = regional_jo_by_occ(inp, cfg)
    # validate sheet→region resolution against the data: an unmatched
    # token (e.g. the vendor's year suffix drifting from cfg.fyod)
    # would otherwise left-join to nothing and silently emit an
    # all-NULL openings column — the failure class the explicit
    # mapping (vs SM:189's positional zip) exists to eliminate
    known_regions = {
        r[0] for r in jo_by_region.select("Geographic Area").distinct().collect()
    }
    stacked = []
    for sheet in sorted(col_for_sheet):
        region = _sheet_region(sheet, cfg)
        if region not in known_regions:
            raise ValueError(
                f"HOO sheet {sheet!r} resolved to region {region!r}, not a "
                f"Geographic Area in the openings data "
                f"({sorted(known_regions)}); check cfg.fyod / "
                "cfg.region_aliases against the vendor's column naming"
            )
        stacked.append(
            f"struct({sql_string(sheet)} AS sheet, "
            f"{sql_string(region)} AS `Geographic Area`, "
            f"{sql_name(col_for_sheet[sheet])} AS flag)"
        )
    hoo = occ.selectExpr(
        "NOC",
        "Description",
        "substring(NOC, 3, 1) AS TEER",  # SM:76
        sql_name(income),
        f"inline(array({', '.join(stacked)}))",
    ).filter(not_rlike_sql("flag", "Non"))  # SM:74
    joined = (
        hoo.join(  # SM:81 natural left join, per region sheet
            F.broadcast(jo_by_region),
            on=["NOC", "Geographic Area"],
            how="left",
        )
        .selectExpr(  # SM:82-83 relocate openings after Description
            "sheet", "NOC", "Description", sql_name(cfg.jo_label), "TEER",
            sql_name(income),
        )
    )
    return SplitWorkbook(
        {"Data Dictionary": data_dictionary(inp.employment.sparkSession, cfg)},
        joined,
        "sheet",
        drop=["sheet"],
        split_keys=sorted(col_for_sheet),
    )


def data_dictionary(spark: SparkSession, cfg: LMOConfig) -> DataFrame:
    """hoo_text.R:1-10 — 8 prose rows, single column named `` ``."""
    rows = [
        "Data Dictionary",
        "These data sets contain lists of occupations that are deemed to be "
        f"high opportunity occupations (HOO) over the 10 year forecast period "
        f"({cfg.fyod}-{cfg.tyfn})",
        "Lists are provided for the 7 economic regions. Additionally, the "
        "lists provide estimates for Job Openings (for the 10 year forecast "
        "period), as well as the most recent Income data provided by Census "
        "2021.",
        "NOC: Denotes a 5-digit code according to the National Occupation "
        "Classification 2021 system from Statistics Canada.",
        "Description: Denotes the occupation title according to the National "
        "Occupation Classification 2021 system from Statisitics Canada.",
        f"LMO Job Openings {cfg.fyod}-{cfg.tyfn}: The sum of expansion and "
        "replacement job openings. A job opening is the addition of a new "
        "job position through economic growth or a position that needs to be "
        "filled due  to someone exiting the labour force permanently.",
        "TEER:  the type and/or amount of training, education, experience "
        "and responsibility typically required to work in an occupation. "
        "The NOC consists of six TEER categories, identified 0 through 5, "
        "which represent the second digit of the NOC code.",
        "2021 Census Median Employment Income (Employed)",
    ]
    # one array literal: a createDataFrame of a list plans a Python RDD scan
    return spark.range(1).select(
        F.explode(literal_array(rows, "array<string>")).alias(" ")
    )


# -------------------------------------------------------------------- tbbl10


def jo_by_skill_cluster(inp: LMOInputs, cfg: LMOConfig) -> DataFrame:
    """tbbl10 (SM:323-346), the flagship shape: filter → unpivot →
    group-sum → inner join the cluster lookup (split ``": "`` key,
    ``#`` re-prefix, SM:336-337) → aliased projection. Lookup side is
    dimension-sized → broadcast."""
    jo_sum = (
        _melt(
            inp.job_openings.filter(
                "Industry = 'All industries' AND `Geographic Area` = "
                "'British Columbia' AND Variable = 'Job Openings'"
            ).drop("Industry", "Geographic Area", "Variable"),
            value_name="jo",
        )
        .groupBy("NOC", "Description")
        .agg(F.expr("sum(jo) AS jo"))
    )
    clusters = inp.clusters.selectExpr(
        "concat('#', split(NOC, ': ', 2)[0]) AS NOC",
        "split(NOC, ': ', 2)[1] AS Description",
        "new_cluster",
    )
    return jo_sum.join(
        F.broadcast(clusters), on=["NOC", "Description"], how="inner"
    ).selectExpr(
        "NOC",
        "Description",
        "new_cluster AS `Occ Group: Skills Cluster`",
        f"jo AS {sql_name(cfg.jo_label)}",
    )


# ------------------------------------------------------------------- assembly

#: artifact name → (builder, sink metadata); a builder is a
#: :class:`MetricArtifact` or a function of (inputs, config).
#: pct_last3 mirrors the 0.0% styling of write_last3_percent
#: (SM:34-49) — presentation-plane only, the data stays raw fractions
#: (SM:52).
ARTIFACTS = {
    "Employment by Industry and Occupation for BC": (
        employment_by_industry_and_occupation_bc,
        {"pct_last3": True},
    ),
    "Employment by Industry for BC and Regions": (
        employment_by_industry_bc_and_regions,
        {"pct_last3": True},
    ),
    "Job Openings by Industry and Occupation for BC": (
        job_openings_by_industry_and_occupation_bc,
        {},
    ),
    "High Opportunity Occupations BC and Regions": (
        high_opportunity_occupations,
        {},
    ),
    "JO by Type, Ind and Occ for BC and Regions": (jo_by_type_ind_occ, {}),
    "Employment by Ind and Occ for BC and Regions": (
        employment_by_ind_occ_long,
        {},
    ),
    "Employment by Occupation for BC and Regions": (
        employment_by_occupation,
        {"pct_last3": True},
    ),
    "Job Openings by Type and Occ for BC and Regions": (jo_by_type_and_occ, {}),
    "Job Openings by NOC and Skill Cluster": (
        lambda inp, cfg: {"data": jo_by_skill_cluster(inp, cfg)},
        {},
    ),
    "JO by Type, Ind and Occ for BC and Regions (long)": (
        lambda inp, cfg: {"data": jo_long_export(inp, cfg)},
        {"format": "csv_gzip"},
    ),
}


def build_all(inp: LMOInputs, cfg: LMOConfig | None = None) -> dict[str, Workbook]:
    """All 10 catalog artifacts as lazy workbooks, keyed by the
    reference's output file stems (SM:118-346). Each forecast input is
    unpivoted once, and its metric tables share that long frame."""
    cfg = cfg or LMOConfig()
    long: dict[str, DataFrame] = {}
    out = {}
    for name, (builder, _) in ARTIFACTS.items():
        if isinstance(builder, MetricArtifact):
            src = builder.source
            if src not in long:
                long[src] = _clean_long(getattr(inp, src))
            out[name] = builder.from_long(long[src], cfg)
        else:
            out[name] = builder(inp, cfg)
    return out
