"""Broadcast-bitset Bloom filter: no false negatives, useful FPP.

Pins operators/bloom.py: every inserted value must test positive
(Bloom's hard guarantee — the contamination pre-pass relies on it for
oracle-exactness), non-inserted values mostly test negative, and the
probe expression stays pure-JVM (no Python evaluation in the plan).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from lmo_data_catalog_spark.operators.bloom import (
    bloom_might_contain,
    build_bloom_bitset,
)

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def inserted():
    return [f"word{i}" for i in range(50)] + ["value", "merge", "table"]


@pytest.fixture(scope="module")
def bitset(spark, inserted):
    return build_bloom_bitset(spark, inserted, m_bits=1024, k=3)


def test_no_false_negatives(spark, inserted, bitset):
    df = spark.createDataFrame([(v,) for v in inserted], "t string")
    hits = df.where(bloom_might_contain("t", bitset, k=3)).count()
    assert hits == len(inserted)


def test_false_positive_rate_bounded(spark, inserted, bitset):
    absent = [(f"absent-{i}",) for i in range(2000)]
    df = spark.createDataFrame(absent, "t string")
    fp = df.where(bloom_might_contain("t", bitset, k=3)).count()
    # 53 values in 1024 bits, k=3 → theoretical FPP ≈ 0.3%; allow 5%.
    assert fp / len(absent) < 0.05


def test_empty_value_set_rejects_everything(spark):
    bs = build_bloom_bitset(spark, [], m_bits=256, k=3)
    assert all(w == 0 for w in bs)
    df = spark.createDataFrame([("x",), ("y",)], "t string")
    assert df.where(bloom_might_contain("t", bs, k=3)).count() == 0


def test_high_bit_words_survive_sign_fold(spark):
    """Bit 63 of a word maps to a negative Spark long; membership must
    still hold (regression for the two's-complement fold)."""
    # Find values landing on bit positions 63 mod 64 by brute force.
    vals = [f"v{i}" for i in range(3000)]
    bs = build_bloom_bitset(spark, vals, m_bits=256, k=3)
    assert any(w < 0 for w in bs), "fixture never exercised bit 63"
    df = spark.createDataFrame([(v,) for v in vals], "t string")
    assert df.where(bloom_might_contain("t", bs, k=3)).count() == len(vals)


def test_probe_plan_is_jvm_only(spark, bitset):
    df = spark.createDataFrame([("x",)], "t string").where(
        bloom_might_contain("t", bitset, k=3)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_contamination_bloom_refuses_short_probes(spark, monkeypatch):
    """A <3-word probe has no interior word; the pre-pass must refuse
    loudly instead of silently dropping its matches."""
    from lmo_data_catalog_spark.queries import pipeline

    monkeypatch.setattr(pipeline, "PROBES", ["too short"])
    with pytest.raises(ValueError, match="3-word"):
        pipeline.contamination_screen_bloom(spark, "/root/testdata/sf0.001")


def test_inverted_verify_matches_exact_scan_on_many_probes(spark, monkeypatch):
    """Both screens against the ×|probes| exact scan on a probe set
    far larger than the registry's three: 3-word windows of real
    documents (shared interior words, true hits) plus phrases whose
    interiors are absent from the corpus (the decontamination regime
    the Bloom gate and the inverted verify exist for)."""
    from lmo_data_catalog_spark.catalog import Catalog
    from lmo_data_catalog_spark.queries import pipeline

    sf = "/root/testdata/sf0.001"
    docs = Catalog(spark, sf).documents.select("doc_id", "text")
    probes = sorted(
        {
            " ".join(words[i : i + 3])
            for (text,) in docs.orderBy("doc_id").select("text").take(8)
            for words in [text.split()]
            for i in range(0, min(24, len(words) - 2), 3)
        }
        | {f"qz{i} verylongmid{i} xj{i}" for i in range(64)}
    )
    arr = F.array(*[F.lit(p) for p in probes])
    exact = {
        tuple(r)
        for r in docs.select("doc_id", F.explode(arr).alias("probe"), "text")
        .filter(F.expr("position(probe IN text) > 0"))
        .select("probe", "doc_id")
        .collect()
    }
    monkeypatch.setattr(pipeline, "PROBES", probes)
    bloom = {tuple(r) for r in pipeline.contamination_screen_bloom(spark, sf).collect()}
    inverted = {
        tuple(r) for r in pipeline.contamination_screen_inverted(spark, sf).collect()
    }
    assert len(probes) > 100 and len(exact) >= 8
    assert bloom == inverted == exact


@pytest.mark.parametrize(
    "builder", ["contamination_screen_bloom", "contamination_screen_inverted"]
)
def test_screen_gate_stays_selective_at_1024_interiors(spark, monkeypatch, builder):
    """The screens size their bitset from the interior-word count: with
    1,024 distinct interiors the gate must still reject ≥ 95% of absent
    tokens (a fixed 1,024-bit set passes ~86% of them)."""
    from lmo_data_catalog_spark.operators import bloom
    from lmo_data_catalog_spark.queries import pipeline

    built = []

    def capture(*args, **kwargs):
        built.append(build_bloom_bitset(*args, **kwargs))
        return built[-1]

    monkeypatch.setattr(bloom, "build_bloom_bitset", capture)
    monkeypatch.setattr(
        pipeline, "PROBES", [f"a{i} mid{i} z{i}" for i in range(1024)]
    )
    getattr(pipeline, builder)(spark, SF_SMOKE)
    (bitset,) = built
    absent = spark.createDataFrame([(f"absent-{i}",) for i in range(2000)], "t string")
    fp = absent.where(bloom_might_contain("t", bitset, k=3)).count()
    assert fp / 2000 <= 0.05
