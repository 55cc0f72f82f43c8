"""Shuffle budgets: each listed query's physical plan must not grow
new exchanges. test_plan_hygiene.py bans anti-pattern NODES; this
pins the exchange COUNT for representative plans, so a refactor that
quietly adds a shuffle (lost broadcast, dropped partial agg, new
unbucketed join) fails CI with a number, not a vibe. Budgets are the
current measured counts (BENCH.md plan notes) — lower is always fine.
"""

from __future__ import annotations

import pytest

from lmo_data_catalog_spark.registry import REGISTRY

SF = "/root/testdata/sf0.001"

#: query -> max allowed Exchange nodes in the AQE-final physical plan.
#: counts include Broadcast/Reused exchange nodes (string count over
#: the initial adaptive plan), so they are higher than BENCH.md's
#: shuffle-only "px" notes — that's fine, the guard is against GROWTH.
BUDGETS = {
    "flagship_brand_revenue": 3,
    "agg_pricing_summary": 1,
    "cooccurrence_part_pairs": 4,
    # (minhash_lsh_pairs deliberately absent: its operator persists
    # shared intermediates, so the plan string depends on cache state
    # and the count flakes between isolated and full-suite runs)
    "mode_order_priority_by_status": 3,
    "window_running_total": 2,
    "promo_revenue_share": 2,
    # 6 → 8 (r15): c3907bf added cache.track to the spend aggregate so
    # the 3-action global ranker executes it once, not 4×; the persisted
    # subtree prints its inner exchanges inside InMemoryTableScan,
    # inflating the TEXTUAL count by 2 while real shuffle work went down
    "top1pct_revenue_share": 8,
    "lang_entropy_by_source": 6,
    "corr_regression_price_quantity": 2,
    "max_concurrent_intervals": 3,
    "token_entropy_per_doc": 3,
    "nation_market_share": 9,
    "sole_late_supplier": 7,
    # round-11 additions (measured at add time)
    "ann_pq_adc_topk": 0,  # literal ADC: one scan, zero exchanges
    "ann_pq_recall": 2,
    "quality_classifier_score": 2,
    "bigram_lm_doc_nll": 9,
    "lang_confusion_matrix": 3,
    "zipf_alpha_word_freq": 4,  # 3 → 4 (r15): same cache.track pattern
    "skyline_parts_price_size": 4,
    "frequent_itemsets_depth3": 6,
    # round-12 additions (measured at add time)
    "ann_pq_trained_topk": 1,  # encode kernel scan + 1-row q broadcast
    "ann_pq_trained_recall": 3,
    "mel_filterbank_energies": 0,  # map-only literal fold chain
    # round-13 additions (measured at add time, cache-cleared)
    "ann_ivfadc_trained_topk": 1,  # probed-cell kernel + q broadcast
    "ann_ivfadc_trained_recall": 3,
    "bpe_bytelevel50k_token_counts": 3,  # distinct-vocab kernel + join
    "pq_index_build_cells": 2,  # encode kernel scan + k-row hash agg
    # round-14 additions (measured at add time, cache-cleared)
    "pq_index_query_topk": 2,  # BOTH broadcasts (shortlist + 1-row qv);
    # the probe side is exchange-free: leaf-path scan → ADC project →
    # TakeOrderedAndProject (explains/pq_index_query_topk.txt)
    # round-15 additions: the other two queries that gained cache.track
    # ranker inputs in c3907bf (measured at add time, cache-cleared)
    "pareto_part_classes": 7,
    "customer_spend_quartiles": 3,
    # the salted joins' blanket and hot-key forms, and the basket_pairs
    # triangle graph (measured before salted_join absorbed the hot-key
    # form, cache-cleared)
    "salted_join_skew": 3,
    "cooccurrence_part_pairs_salted": 4,
    "association_rules_topk_salted": 20,
    "frequent_itemsets_depth3_salted": 18,
    "triangle_clustering_parts": 54,
}


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_exchange_count_within_budget(spark, name):
    # cache-free measurement: an earlier test's cache.track'd frame
    # with a structurally identical subtree (Spark cache lookup is
    # structural) would swap an InMemoryTableScan into THIS plan and
    # change the Exchange string count — the flake class that kept
    # minhash_lsh_pairs out of BUDGETS, seen live when
    # association_rules_topk's persisted DISTINCT lineitem subtree
    # rewrote cooccurrence_part_pairs' plan in the full suite.
    spark.catalog.clearCache()
    df = REGISTRY[name].builder(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = plan.count("Exchange")
    assert n <= BUDGETS[name], (
        f"{name}: {n} exchanges > budget {BUDGETS[name]} — a shuffle "
        "crept in; check broadcasts/partial aggregation"
    )


@pytest.mark.parametrize(
    "name", ["pagerank_part_cooccurrence", "pagerank_dangling_part_supplier"]
)
def test_pagerank_plans_no_sort_merge_join(spark, name):
    """``broadcast_ranks=True`` keeps every O(nodes) frame on the
    broadcast side, so no round sort-merge-joins the edge list (9 and 7
    BroadcastHashJoins when pinned). Counts SortMergeJoin nodes only:
    these plans hold cache.track'ed subtrees, so their textual Exchange
    count depends on cache state (see minhash_lsh_pairs above)."""
    df = REGISTRY[name].builder(spark, SF)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") == 0


# ------------------------------------------------- codegen 64 KB cliff

#: queries whose plans are giant-literal fold chains — the family
#: that can silently fall out of whole-stage codegen when a geometry
#: bump pushes one generated method past the JVM's 64 KB limit (the
#: r12 L=32 mel fold cost +2.4 s/run and was caught only by manual
#: explain reading; this guard makes the cliff a red test instead).
CODEGEN_GUARDED = [
    "mel_filterbank_energies",
    "ann_pq_adc_topk",
    "ann_pq_trained_topk",
    "ann_pq_trained_recall",
    "random_projection_embeddings",
]


def _run_codegen_strict(spark, df) -> None:
    """Execute with codegen fallback DISABLED: a generated method
    exceeding 64 KB raises (Janino InternalCompilerException through
    WholeStageCodegenExec) instead of silently degrading to the
    interpreted path."""
    old = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)


@pytest.mark.parametrize("name", CODEGEN_GUARDED)
def test_literal_fold_stays_inside_codegen(spark, name):
    spark.catalog.clearCache()
    _run_codegen_strict(spark, REGISTRY[name].builder(spark, SF))


def test_codegen_guard_catches_the_l32_cliff(spark, monkeypatch):
    """Red-path proof the guard works: substituting the L=32 mel
    geometry (the exact regression r12 caught by hand) must fail
    under the strict-codegen harness. If Spark ever RAISES the
    generated-method ceiling, this starts xfailing-as-passing and the
    guard family can be retired."""
    from lmo_data_catalog_spark.queries import llm as llm_mod

    monkeypatch.setattr(llm_mod, "_MEL_L", 32)
    monkeypatch.setattr(llm_mod, "_MEL_B", 6)
    sig, dft, pw, mel = llm_mod._mel_sql("spark")
    from lmo_data_catalog_spark.catalog import Catalog

    df = (
        Catalog(spark, SF).documents
        .selectExpr("doc_id", *sig)
        .selectExpr("doc_id", *dft)
        .selectExpr("doc_id", *pw)
        .selectExpr("doc_id", *mel)
    )
    spark.catalog.clearCache()
    with pytest.raises(Exception, match="64 KB|grows beyond|compile"):
        _run_codegen_strict(spark, df)
