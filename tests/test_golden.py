"""Golden-output regression tests (SURVEY §5.3): the pipeline on the
seed-7 fixtures must reproduce the committed CSVs cell-for-cell —
catches silent semantic drift that invariant tests can miss.
"""

from __future__ import annotations

import math
import os

import pandas as pd
import pytest

from lmo_data_catalog_spark.plans import fixtures
from lmo_data_catalog_spark.plans.lmo_pipeline import (
    LMOConfig,
    build_all,
    jo_by_skill_cluster,
    load_inputs,
)

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden")
CFG = LMOConfig()


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("golden_raw")
    fixtures.generate(str(d), seed=7)
    return load_inputs(spark, str(d))


def _assert_frames_equal(got: pd.DataFrame, want: pd.DataFrame):
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    for col in want.columns:
        g, w = got[col], want[col]
        for i, (gv, wv) in enumerate(zip(g, w)):
            if isinstance(wv, float) and not (
                isinstance(wv, bool) or pd.isna(wv)
            ):
                assert math.isclose(gv, wv, rel_tol=1e-9, abs_tol=1e-9), (
                    col,
                    i,
                    gv,
                    wv,
                )
            else:
                assert (pd.isna(gv) and pd.isna(wv)) or gv == wv, (col, i)


def test_golden_jo_by_skill_cluster(inputs):
    got = jo_by_skill_cluster(inputs, CFG).orderBy("NOC").toPandas()
    got[CFG.jo_label] = got[CFG.jo_label].round(4)
    want = pd.read_csv(f"{GOLDEN}/jo_by_skill_cluster.csv")
    _assert_frames_equal(got, want)


def test_golden_employment_bc(inputs):
    wb = build_all(inputs, CFG)["Employment by Industry and Occupation for BC"]
    got = wb["data"].orderBy("NOC", "Industry").toPandas()
    for c in got.columns:
        if got[c].dtype == float:
            got[c] = got[c].round(6)
    want = pd.read_csv(f"{GOLDEN}/employment_bc.csv")
    _assert_frames_equal(got, want)
