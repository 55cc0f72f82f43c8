"""The landing pass's integral guard (``sources/ingest.py::_INTEGRAL``).

``_land`` casts a value to int or bigint only when a character-class
guard admits it, because each failing ANSI cast throws inside the JVM.
The guard encodes what Spark's string-to-integral cast accepts (which
bytes it trims, which characters it parses), so these tests are what
goes red when a Spark upgrade changes those rules: over a seeded fuzz
set, the guarded counts ``_land`` runs must equal the plain
``try_cast`` counts.
"""

from __future__ import annotations

import random
import re

import pandas as pd

from lmo_data_catalog_spark.sources import ingest

INTEGRAL = ("int", "bigint")

#: Unicode space and zero-width characters: whitespace to Java or Python,
#: but not bytes Spark trims
UNICODE_SPACES = [
    chr(c)
    for c in (0x85, 0xA0, 0x1680, *range(0x2000, 0x200C), 0x2028, 0x2029,
              0x202F, 0x205F, 0x3000, 0xFEFF)
]


def fuzz_strings(seed: int = 20261019, n: int = 32_000) -> list[str]:
    """At least ``n`` distinct strings: every Latin-1 character alone and
    around a number, the Unicode spaces, the int and bigint boundaries
    (padded, signed, zero-led) and random sign/digit-heavy strings."""
    rng = random.Random(seed)
    latin1 = [chr(c) for c in range(256)]
    pads = [chr(c) for c in range(0x21)] + ["\x7f"] + UNICODE_SPACES
    bounds = [
        str(sign * b + d)
        for b in (2**31, 2**63)
        for sign in (1, -1)
        for d in (-2, -1, 0, 1)
    ]
    out = set(latin1 + UNICODE_SPACES + bounds)
    for c in latin1 + UNICODE_SPACES:
        out |= {c + "7", "7" + c, "1" + c + "2", c + "-3", "+3" + c, c * 3 + "42"}
    for b in bounds:
        for p in pads:
            out |= {p + b, b + p, "+" + b, "0" * 10 + b.lstrip("-")}
    heavy = "0123456789" * 3 + "+-" * 3 + ".eEdDfFlL_x, "
    while len(out) < n:
        body = "".join(rng.choice(heavy) for _ in range(rng.randint(1, 21)))
        lead = "".join(rng.choice(pads) for _ in range(rng.randint(0, 2)))
        trail = "".join(rng.choice(pads) for _ in range(rng.randint(0, 2)))
        out.add(lead + body + trail)
    return sorted(out)


def test_fuzz_set_covers_latin1_spaces_and_boundaries():
    strings = fuzz_strings()
    assert len(strings) >= 30_000
    have = set(strings)
    assert all(chr(c) in have for c in range(256))
    assert set(UNICODE_SPACES) <= have
    assert {"2147483647", "2147483648", "-9223372036854775808"} <= have


def test_guarded_counts_equal_plain_try_cast_counts(spark):
    """The int and bigint counts ``_land`` runs, guarded, equal the
    unguarded ``try_cast`` counts on every fuzzed string: the guard
    only skips values the cast rejects."""
    strings = fuzz_strings()
    df = spark.createDataFrame(pd.DataFrame({"_0": strings}))
    guarded = df.selectExpr(*ingest._ladder_counts(1)).first()
    plain = df.selectExpr(
        *[f"count(try_cast(_0 AS {t}))" for t in ("string", *ingest._LADDER)]
    ).first()
    assert guarded[0] == plain[0] == len(strings)
    for t, g, p in zip(ingest._LADDER, guarded[1:], plain[1:]):
        if g != p:
            missed = df.filter(
                f"try_cast(_0 AS {t}) IS NOT NULL AND NOT _0 RLIKE r'{ingest._INTEGRAL}'"
            ).limit(20).collect()
            raise AssertionError(f"{t}: guarded {g} != plain {p}; missed {missed}")
    # both outcomes occur on both rungs, and the boundaries tell them apart
    assert 0 < plain[1] < plain[2] < len(strings)


def test_every_integral_rung_land_runs_is_guarded(spark, tmp_path, monkeypatch):
    """``_land`` builds its aggregate from ``_ladder_counts``, and every
    int or bigint count there casts only what the guard admits."""
    ladder, texts = ingest._ladder_counts, []

    def recording(n):
        texts.extend(ladder(n))
        return ladder(n)

    monkeypatch.setattr(ingest, "_ladder_counts", recording)
    csv = tmp_path / "three.csv"
    csv.write_text("a,b,c\n1,x,2.5\n")
    landed = ingest.read_csv_skip(spark, str(csv))
    assert [f.dataType.simpleString() for f in landed.schema] == [
        "int", "string", "double"
    ]
    assert len(texts) == 3 * (1 + len(ingest._LADDER))
    guard = re.escape(f"RLIKE r'{ingest._INTEGRAL}'")
    for i in range(3):
        for t in INTEGRAL:
            cast = f"try_cast(_{i} AS {t})"
            (text,) = [x for x in texts if cast in x]
            assert re.fullmatch(
                rf"count\(CASE WHEN _{i} {guard} THEN {re.escape(cast)} END\)", text
            ), text
