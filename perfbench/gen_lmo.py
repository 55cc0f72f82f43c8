"""Seeded raw-input generator for the ``lmo_publish`` workload.

Writes the four raw files ``plans.lmo_pipeline.load_inputs`` reads, in
the formats of ``plans.fixtures`` (3 banner rows, the ``x`` income NA
sentinel, an all-empty row and column in employment.csv, cluster NOCs
as ``NNNNN: Title``) at a scale the caller sets: ``n_nocs`` synthetic
occupations plus the ``#T`` total, ``n_industries`` industries and the
fixture's 10 geographic areas.

:func:`generate` also returns the shape every published sheet must
have, derived from the generated rows, and the raw byte count behind
``out_bytes_per_in_byte``.
"""

from __future__ import annotations

import os
import random

from lmo_data_catalog_spark.plans import fixtures
from lmo_data_catalog_spark.plans.fixtures import (
    AREAS,
    CLUSTER_LABELS,
    JO_VARIABLES,
    PSEUDO_REGIONS,
    REGIONS,
    year_cols,
)

def _write_csv(path: str, header: list[str], rows: list[list], banner: bool) -> int:
    """The fixtures' CSV writer; returns the bytes written."""
    fixtures._write_csv(path, header, rows, banner=banner)
    return os.path.getsize(path)


def generate(
    out_dir: str, *, seed: int, n_nocs: int, n_industries: int, fyod: int = 2024
) -> tuple[int, dict[str, dict[str, int]]]:
    """Write the raw inputs into ``out_dir``.

    Returns ``(raw_bytes, shape)`` where ``shape`` maps each artifact
    name of ``plans.lmo_pipeline.ARTIFACTS`` to ``{sheet: data rows}``
    (sheet names before the sink's 31-character clean-up)."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    years = year_cols(fyod)
    nocs = [("#T", "Total - all occupations")] + [
        (f"#{code:05d}", f"Occupation {code:05d}")
        for code in sorted(rng.sample(range(10, 99_999), n_nocs))
    ]
    industries = ["All industries"] + [f"Industry {i:02d}" for i in range(1, n_industries)]
    raw = 0

    def series(base: float, drift: float) -> list[float]:
        vals, v = [], base
        for _ in years:
            v = v * (1 + rng.uniform(-drift, drift))
            vals.append(round(v, 1))
        return vals

    header = ["NOC", "Description", "Industry", "Variable", "Geographic Area", *years, ""]
    rows: list[list] = []
    for noc, desc in nocs:
        for ind in industries:
            for area in AREAS:
                base = rng.uniform(500, 50000) * (10 if noc == "#T" else 1)
                rows.append([noc, desc, ind, "Employment", area, *series(base, 0.04), ""])
    rows.insert(len(rows) // 2, [""] * len(header))
    raw += _write_csv(os.path.join(out_dir, "employment.csv"), header, rows, True)

    header = ["NOC", "Description", "Industry", "Variable", "Geographic Area", *years]
    rows = []
    for noc, desc in nocs:
        for ind in industries:
            for area in AREAS:
                for var in JO_VARIABLES:
                    base = rng.uniform(-50, 800)
                    rows.append([noc, desc, ind, var, area,
                                 *series(base if base > 1 else 10, 0.15)])
    raw += _write_csv(os.path.join(out_dir, "job_openings.csv"), header, rows, True)

    hoo_sheets = ["HOO BC"] + [f"HOO {r}" for r in REGIONS]
    header = ["NOC", "Description", *(f"Occ Group: {s} {fyod}E" for s in hoo_sheets),
              "2021 Census Median Employment Income (Employed)"]
    rows = []
    hoo_rows = dict.fromkeys(hoo_sheets, 0)
    for noc, desc in nocs[1:]:
        flags = [rng.choice(["HOO", "Non-HOO"]) for _ in hoo_sheets]
        for s, f in zip(hoo_sheets, flags):
            hoo_rows[s] += f == "HOO"
        income = "x" if rng.random() < 0.15 else round(rng.uniform(3e4, 1.2e5))
        rows.append([noc, desc, *flags, income])
    raw += _write_csv(
        os.path.join(out_dir, f"Occupational Characteristics {fyod}.csv"), header, rows, True
    )

    # clusters cover a proper subset of the NOCs so the inner join filters
    clustered = [n for n in nocs[1:] if rng.random() < 0.8]
    rows = [[f"{noc[1:]}: {desc}", rng.choice(CLUSTER_LABELS), "ignored"]
            for noc, desc in clustered]
    raw += _write_csv(os.path.join(out_dir, "clusters.csv"),
                      ["NOC", "new_cluster", "extra_col"], rows, False)

    n_noc, n_ind, n_var, n_years = len(nocs), len(industries), len(JO_VARIABLES), len(years)
    n_areas = len(AREAS) - len(PSEUDO_REGIONS)
    real_areas = sorted(a for a in AREAS if a not in PSEUDO_REGIONS)

    def fan_out(per_area: int) -> dict[str, int]:
        return {"data": per_area * n_areas, **dict.fromkeys(real_areas, per_area)}

    shape = {
        "Employment by Industry and Occupation for BC": {"data": n_noc * n_ind},
        "Employment by Industry for BC and Regions": fan_out(n_ind),
        "Job Openings by Industry and Occupation for BC": {"data": n_noc * n_ind},
        "High Opportunity Occupations BC and Regions": {
            "Data Dictionary": 8, **dict(sorted(hoo_rows.items()))
        },
        "JO by Type, Ind and Occ for BC and Regions": {
            "data": n_noc * n_ind * len(AREAS) * n_var
        },
        "Employment by Ind and Occ for BC and Regions": {
            "data": n_noc * n_ind * n_areas * n_years
        },
        "Employment by Occupation for BC and Regions": fan_out(n_noc),
        "Job Openings by Type and Occ for BC and Regions": fan_out(n_noc * n_var),
        "Job Openings by NOC and Skill Cluster": {"data": len(clustered)},
        "JO by Type, Ind and Occ for BC and Regions (long)": {
            "data": n_noc * n_ind * n_areas * n_var * n_years
        },
    }
    return raw, shape
