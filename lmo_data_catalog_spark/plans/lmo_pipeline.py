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

Deliberate deviation (SURVEY §7 risk 4): the reference couples HOO
sheets to regions *positionally* (sorted sheet names zipped against
sorted region names, SM:189/196-197). We derive the region from the
sheet name explicitly and validate it against the data.
"""

from __future__ import annotations

import re
from collections.abc import Mapping
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cagr
from ..operators import filters
from ..operators.reshape import unpivot_years
from ..pyboundary import literal_array
from ..schema_toolkit import (
    rename_positional,
    select_by_regex,
    title_case_names,
)
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


def _clean_long(df: DataFrame) -> DataFrame:
    """unpivot → snake_case (SM:101-102). Unpivot precedes clean_names
    because year columns are selected by the raw ``starts_with("2")``."""
    from ..schema_toolkit import clean_names

    return clean_names(
        unpivot_years(df, [c for c in df.columns if not c.startswith("2")])
    )


def _metric_exprs(cfg: LMOConfig, metric: str) -> dict[str, Column]:
    """The reference's per-group R closures (``cagrs`` SM:50-62,
    ``sums`` SM:63-71) as conditional aggregates."""
    y, v = F.col("year"), F.col("value")
    if metric == "cagrs":
        at = {
            yr: F.first(F.when(y == yr, v), ignorenulls=True)
            for yr in (cfg.fyod, cfg.fyfn, cfg.tyfn)
        }
        return {
            "1st 5-year CAGR": cagr(at[cfg.fyod], at[cfg.fyfn], 5),
            "2nd 5-year CAGR": cagr(at[cfg.fyfn], at[cfg.tyfn], 5),
            "10-year CAGR": cagr(at[cfg.fyod], at[cfg.tyfn], 10),
        }
    if metric == "sums":
        rng = {
            "1st 5-year Sum": (cfg.fyod + 1, cfg.fyod + 5),
            "2nd 5-year Sum": (cfg.fyod + 6, cfg.tyfn),
            "10-year Sum": (cfg.fyod + 1, cfg.tyfn),
        }
        return {
            name: F.sum(F.when(y.between(lo, hi), v))
            for name, (lo, hi) in rng.items()
        }
    raise ValueError(metric)


def metric_table(
    df_long: DataFrame, cfg: LMOConfig, metric: str
) -> DataFrame:
    """Shape-1 core: pivot-wide + group metrics in ONE aggregate.

    Replaces nest→map(cagrs|sums)→unnest→pivot_wider (SM:104-110 and 5
    repeats): per-year cells are ``first(when(year==y, value))`` and the
    metrics are conditional aggregates over the same groups — a single
    shuffle keyed on the 5 group columns.
    """
    year_cells = [
        F.first(F.when(F.col("year") == yr, F.col("value")), ignorenulls=True)
        .alias(str(yr))
        for yr in cfg.years
    ]
    metrics = [
        expr.alias(name) for name, expr in _metric_exprs(cfg, metric).items()
    ]
    return df_long.groupBy(*GROUP_KEYS).agg(*year_cells, *metrics)


def _finalize_headers(df: DataFrame) -> DataFrame:
    """Title-case headers, first column → NOC (SM:112-114)."""
    return rename_positional(title_case_names(df), 0, "NOC")


def _split_by_region(df: DataFrame, drop: list[str]) -> SplitWorkbook:
    """O2 fan-out: the combined table first, then one sheet per region
    (SM:140-145), each dropping ``drop``. Nothing runs here: the regions
    are the table's distinct Geographic Areas, found by whoever reads
    the keys — the workbook sink collects the (small, aggregated) table
    once and cuts the region sheets from that. At scale this is the
    ``partitionBy`` write path instead."""
    return SplitWorkbook({"data": df}, df, "Geographic Area", drop)


# ------------------------------------------------------------------- artifacts


def employment_by_industry_and_occupation_bc(
    inp: LMOInputs, cfg: LMOConfig
) -> Workbook:
    """tbbl1 (SM:100-118): BC only, CAGR triple, one sheet."""
    long = _clean_long(inp.employment).filter(
        F.col("geographic_area") == "British Columbia"
    )
    return {"data": _finalize_headers(metric_table(long, cfg, "cagrs"))}


def employment_by_industry_bc_and_regions(
    inp: LMOInputs, cfg: LMOConfig
) -> Workbook:
    """tbbl2 (SM:121-147): NOC=#T, drop pseudo-regions, CAGRs,
    fan-out per region (region sheets drop NOC/Description/Variable)."""
    long = _clean_long(inp.employment).filter(
        (F.col("noc") == "#T")
        & filters.not_isin("geographic_area", cfg.pseudo_regions)
    )
    wide = _finalize_headers(metric_table(long, cfg, "cagrs"))
    return _split_by_region(wide, drop=["NOC", "Description", "Variable"])


def job_openings_by_industry_and_occupation_bc(
    inp: LMOInputs, cfg: LMOConfig
) -> Workbook:
    """tbbl3 (SM:150-167): BC + Job Openings only, range sums."""
    long = _clean_long(inp.job_openings).filter(
        (F.col("geographic_area") == "British Columbia")
        & (F.col("variable") == "Job Openings")
    )
    return {"data": _finalize_headers(metric_table(long, cfg, "sums"))}


def jo_by_type_ind_occ(inp: LMOInputs, cfg: LMOConfig) -> Workbook:
    """tbbl5 (SM:207-229): all areas, 3 demand variables, range sums."""
    long = _clean_long(inp.job_openings).filter(
        filters.isin(
            "variable", ["Job Openings", "Expansion Demand", "Replacement Demand"]
        )
    )
    return {"data": _finalize_headers(metric_table(long, cfg, "sums"))}


def employment_by_ind_occ_long(inp: LMOInputs, cfg: LMOConfig) -> Workbook:
    """tbbl6 (SM:232-240): passthrough unpivot, original headers,
    year stays string (pivot_longer keeps character names)."""
    kept = inp.employment.filter(
        filters.not_isin("Geographic Area", cfg.pseudo_regions)
    )
    return {
        "data": unpivot_years(
            kept,
            [c for c in kept.columns if not c.startswith("2")],
            var_name="Date",
            value_name="Value",
            cast_year_int=False,
        )
    }


def employment_by_occupation(inp: LMOInputs, cfg: LMOConfig) -> Workbook:
    """tbbl7 (SM:243-270): All-industries slice, CAGRs, regional fan-out
    (region sheets drop Industry/Variable)."""
    long = _clean_long(inp.employment).filter(
        (F.col("industry") == "All industries")
        & filters.not_isin("geographic_area", cfg.pseudo_regions)
    )
    wide = _finalize_headers(metric_table(long, cfg, "cagrs"))
    return _split_by_region(wide, drop=["Industry", "Variable"])


def jo_by_type_and_occ(inp: LMOInputs, cfg: LMOConfig) -> Workbook:
    """tbbl8 (SM:273-302): All-industries, 3 demand variables, no
    pseudo-regions, sums, fan-out (region sheets drop Industry)."""
    long = _clean_long(inp.job_openings).filter(
        (F.col("industry") == "All industries")
        & filters.isin(
            "variable",
            ["Job Openings", "Expansion Demand", "Replacement Demand"],
        )
        & filters.not_isin("geographic_area", cfg.pseudo_regions)
    )
    wide = _finalize_headers(metric_table(long, cfg, "sums"))
    return _split_by_region(wide, drop=["Industry"])


def jo_long_export(inp: LMOInputs, cfg: LMOConfig) -> DataFrame:
    """tbbl9 (SM:305-317): raw-header unpivot minus pseudo-regions —
    the zipped-CSV export (sink compresses natively, no zip dance)."""
    return unpivot_years(
        inp.job_openings,
        [c for c in inp.job_openings.columns if not c.startswith("2")],
        cast_year_int=False,
    ).filter(filters.not_isin("Geographic Area", cfg.pseudo_regions))


# ------------------------------------------------------------------ HOO (tbbl4)


def regional_jo_by_occ(inp: LMOInputs, cfg: LMOConfig) -> DataFrame:
    """11-year total openings per NOC × region (SM:182-187)."""
    long = unpivot_years(
        inp.job_openings.filter(
            (F.col("Industry") == "All industries")
            & (F.col("Variable") == "Job Openings")
        ),
        ["NOC", "Description", "Industry", "Variable", "Geographic Area"],
    )
    return long.groupBy("NOC", "Geographic Area").agg(
        F.sum("value").alias(cfg.jo_label)
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
            F.struct(
                F.lit(sheet).alias("sheet"),
                F.lit(region).alias("Geographic Area"),
                F.col(col_for_sheet[sheet]).alias("flag"),
            )
        )
    hoo = (
        occ.select(
            "NOC",
            "Description",
            F.substring("NOC", 3, 1).alias("TEER"),  # SM:76
            income,
            F.inline(F.array(*stacked)),
        )
        .filter(filters.not_rlike("flag", "Non"))  # SM:74
    )
    joined = (
        hoo.join(  # SM:81 natural left join, per region sheet
            F.broadcast(jo_by_region),
            on=["NOC", "Geographic Area"],
            how="left",
        )
        .select(  # SM:82-83 relocate openings after Description
            "sheet", "NOC", "Description", cfg.jo_label, "TEER", income
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
        unpivot_years(
            inp.job_openings.filter(
                (F.col("Industry") == "All industries")
                & (F.col("Geographic Area") == "British Columbia")
                & (F.col("Variable") == "Job Openings")
            ).drop("Industry", "Geographic Area", "Variable"),
            ["NOC", "Description"],
            value_name="jo",
        )
        .groupBy("NOC", "Description")
        .agg(F.sum("jo").alias("jo"))
    )
    split = F.split(F.col("NOC"), ": ", 2)
    clusters = inp.clusters.select(
        F.concat(F.lit("#"), split.getItem(0)).alias("NOC"),
        split.getItem(1).alias("Description"),
        "new_cluster",
    )
    return (
        jo_sum.join(F.broadcast(clusters), on=["NOC", "Description"], how="inner")
        .select(
            "NOC",
            "Description",
            F.col("new_cluster").alias("Occ Group: Skills Cluster"),
            F.col("jo").alias(cfg.jo_label),
        )
    )


# ------------------------------------------------------------------- assembly

#: artifact name → (builder, sink metadata). pct_last3 mirrors the
#: 0.0% styling of write_last3_percent (SM:34-49) — presentation-plane
#: only, the data stays raw fractions (SM:52).
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
    reference's output file stems (SM:118-346)."""
    cfg = cfg or LMOConfig()
    return {name: builder(inp, cfg) for name, (builder, _) in ARTIFACTS.items()}
