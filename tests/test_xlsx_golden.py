"""Golden bytes for the stdlib xlsx writer: a fixed set of pandas frames
that reaches every cell branch of ``_write_xlsx_stdlib`` is written
once, and the sha256 of each ``xl/worksheets/sheet*.xml`` part must
equal the recorded one. Any byte the writer changes turns this red.

The frames cover float64 with NaN and ±inf, int64 and the float64 that
``toPandas`` gives a nullable integer column, narrow ints and float32,
bool, object columns mixing None, str, int, float, bool, numpy scalars
and ``Decimal``, text with C0 controls, XML metacharacters and
non-ASCII, more than 26 columns (``AA``…), a datetime column, a
header-only sheet and a sheet with no columns, each with ``pct_last3``
on and off."""

from __future__ import annotations

import hashlib
import math
import zipfile
from decimal import Decimal

import numpy as np
import pandas as pd
import pytest

from lmo_data_catalog_spark.sinks.workbook import _write_xlsx_stdlib


def _frames() -> dict[str, pd.DataFrame]:
    inf = math.inf
    numbers = pd.DataFrame(
        {
            "f": [0.1, -2.5, math.nan, inf, -inf, 1e-300, 123456789.125, -0.0],
            "i": np.array([0, 1, -1, 2**62, -(2**63), 7, 45000, 3], dtype="int64"),
            # a nullable int column with a null: toPandas widens it
            "widened": [45000.0, math.nan, 3.0, 1e16, -7.0, 0.0, math.nan, 2.0],
            "b": [True, False, True, True, False, False, True, False],
            "i32": np.arange(8, dtype="int32") * -3,
            "i8": np.arange(8, dtype="int8"),
            "f32": np.array([0.1, 2.5, np.nan, 1, 2, 3, 4, 5], dtype="float32"),
            "u8": np.arange(8, dtype="uint8"),
        }
    )
    mixed = pd.DataFrame(
        {
            "obj": [
                None, "text", 42, 3.5, Decimal("1.50"), math.nan, True,
                np.int64(9), np.float64(0.25), Decimal("-0E-7"), -inf, np.bool_(False),
            ],
            "txt": [
                'a&b<c>d"e\'f', "tab\tnew\nline\rcr", "bell\x07nul\x00esc\x1b",
                "\x0b\x0c\x1f\x7f", "", "Côte-d'Ivoire", "日本語", "emoji 😀",
                "  spaced  ", "&amp;", "<![CDATA[x]]>", None,
            ],
            "dec": [Decimal(f"{k}.{k}") for k in range(11)] + [None],
            "when": pd.to_datetime(["2024-01-02"] * 11 + [None]),
        }
    )
    wide = pd.DataFrame(
        [[r * 31 + c for c in range(30)] for r in range(3)],
        columns=[f"c{c}" for c in range(30)],
    )
    wide["AD text"] = ["x", None, "z"]
    header_only = pd.DataFrame(
        {"NOC": pd.Series([], dtype=object), "v": pd.Series([], dtype="float64")}
    )
    return {
        "numbers": numbers,
        "mixed": mixed,
        "wide": wide,
        "header only": header_only,
        "no columns": pd.DataFrame(index=range(3)),
        'Q3 "final" & <draft>': pd.DataFrame({'h"&<>\x01': [1.0]}),
    }


#: sheet part → sha256, per pct_last3, as the writer produced them when
#: this test was recorded
GOLDEN = {
    False: {
        "xl/workbook.xml": (
            "a75d53f1bf3ca8ed12f3c860017976fc16c7bf2fbb8bc7e9ada2fca58b02cbba"
        ),
        "xl/worksheets/sheet1.xml": (
            "ff16039dbce39858f0969381b2aeeff8a8c395371c9754de007cd089f8f1cc64"
        ),
        "xl/worksheets/sheet2.xml": (
            "2701ae926d6607f8fc719c09c69fcc2906e0a3b64aae08c9385f8ff285e125ae"
        ),
        "xl/worksheets/sheet3.xml": (
            "a0556a736f2e8944b820ddf35338a2420c0e63b338c7598687f3b292991e9e42"
        ),
        "xl/worksheets/sheet4.xml": (
            "4c41e2ab75086e915cf504178341fe0612dce354439dd979ca5516c0357631e6"
        ),
        "xl/worksheets/sheet5.xml": (
            "2dc0d7600052296d9165c18330513b6260e94320914f402d66e91eeaf9b8b639"
        ),
        "xl/worksheets/sheet6.xml": (
            "f48eb338c2f32732419c9ace91f53468655418a487dd0348f2f6c7a426da6cd8"
        ),
    },
    True: {
        "xl/workbook.xml": (
            "a75d53f1bf3ca8ed12f3c860017976fc16c7bf2fbb8bc7e9ada2fca58b02cbba"
        ),
        "xl/worksheets/sheet1.xml": (
            "da4958ac723c3ff6d96ae2e2c84bde3e5e69469c3362df0b639078fcea9dd6d4"
        ),
        "xl/worksheets/sheet2.xml": (
            "c1c969333c3f71fefdfbd4eafb9220e55375a29b8e254c36631f28b665fb6880"
        ),
        "xl/worksheets/sheet3.xml": (
            "a17c365c280e67424bf5aaa17ee3295effd8626e859e27d4dbdcc7db0e502bb2"
        ),
        "xl/worksheets/sheet4.xml": (
            "4c41e2ab75086e915cf504178341fe0612dce354439dd979ca5516c0357631e6"
        ),
        "xl/worksheets/sheet5.xml": (
            "2dc0d7600052296d9165c18330513b6260e94320914f402d66e91eeaf9b8b639"
        ),
        "xl/worksheets/sheet6.xml": (
            "f48eb338c2f32732419c9ace91f53468655418a487dd0348f2f6c7a426da6cd8"
        ),
    },
}


def _sheet_digests(path: str) -> dict[str, str]:
    with zipfile.ZipFile(path) as z:
        return {
            n: hashlib.sha256(z.read(n)).hexdigest()
            for n in z.namelist()
            if n.startswith("xl/worksheets/") or n == "xl/workbook.xml"
        }


@pytest.mark.parametrize("pct_last3", [False, True])
def test_sheet_parts_are_byte_identical_to_the_recorded_writer(tmp_path, pct_last3):
    path = str(tmp_path / "golden.xlsx")
    _write_xlsx_stdlib(_frames(), path, pct_last3=pct_last3)
    assert _sheet_digests(path) == GOLDEN[pct_last3]


def test_column_fast_paths_equal_the_per_value_cell():
    """Every dtype fast path of ``_column_cells`` formats a column as
    ``_cell``, the per-value reference, formats each value the column
    yields: seeded random columns of each kind, specials included."""
    import random

    from lmo_data_catalog_spark.sinks.workbook import _cell, _column_cells

    rng = random.Random(13)
    n = 300
    specials = [math.nan, math.inf, -math.inf, -0.0, 5e-324, 1.7976931348623157e308]
    text = ["", "a&b", "<t>", 'q"', "\x00\x07x", "\t\n\r", "日本", "😀", "plain"]
    columns = [
        pd.Series([rng.choice([rng.uniform(-1e9, 1e9), *specials]) for _ in range(n)]),
        pd.Series(np.array([rng.uniform(-10, 10) for _ in range(n)], dtype="float32")),
        pd.Series([rng.randint(-(2**63), 2**63 - 1) for _ in range(n)], dtype="int64"),
        pd.Series([rng.randint(0, 2**64 - 1) for _ in range(n)], dtype="uint64"),
        pd.Series([rng.random() < 0.5 for _ in range(n)], dtype="bool"),
        pd.Series([rng.choice(text) for _ in range(n)], dtype=object),
        pd.Series([rng.choice([*text, None]) for _ in range(n)], dtype=object),
        pd.Series(
            [rng.choice([None, "s", 7, 2.5, math.nan, True, Decimal("1.0")]) for _ in range(n)],
            dtype=object,
        ),
        pd.Series([rng.choice([1, None]) for _ in range(n)], dtype="Int64"),
    ]
    for style in (0, 1):
        s_attr = f' s="{style}"' if style else ""
        for series in columns:
            want = [_cell(f"AB{r}", s_attr, v) for r, v in enumerate(series, start=2)]
            assert _column_cells(series, "AB", style) == want, series.dtype
