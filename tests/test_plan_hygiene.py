"""Automated anti-pattern sweep over EVERY registry query's plan.

The manual review rules, pinned as CI: no row-at-a-time Python in any
data plane (BatchEvalPython), Arrow-vectorized Python only where the
operator is documented to need it, no CartesianProduct ever, and
BroadcastNestedLoopJoin only as the deliberate 1-row/bounded-table
scalar-attach pattern (each such plan names itself in ALLOWED_BNLJ).
A new query that sneaks in a slow-path node fails here before it ever
reaches the driver's bench.
"""

from __future__ import annotations

import pytest

from lmo_data_catalog_spark.registry import REGISTRY

SF = "/root/testdata/sf0.001"

#: queries whose plans legitimately contain ArrowEvalPython /
#: FlatMapsInPandas-style nodes (documented Arrow escape hatches)
ALLOWED_ARROW = {
    "multimodal_decode_stub",
    "embedding_neardup_pairs",
    "pack_documents_greedy",  # grouped-map greedy fold (per-shard scan)
    "semantic_dedup_keep",  # cell-blocked GEMM kernel (same_col mask)
    "bpe_token_counts",  # BPE encoder kernel over DISTINCT words only
    "token_budget_head_bpe",  # same distinct-word BPE kernel front end
    "bpe_bytelevel_token_counts",  # same kernel shape, 12k-rank table
    "bpe_bytelevel50k_token_counts",  # same kernel, GPT-2-scale table
    "ann_pq_trained_topk",  # vectorized PQ encode kernel (GEMM-class)
    "ann_pq_trained_recall",  # same encode kernel (index arm)
    "ann_ivfadc_topk",  # same encode kernel over the probed cells
    "ann_ivfadc_recall",  # same encode kernel (index arm)
    "ann_ivfadc_trained_topk",  # encode kernel + kmeans assignment
    "ann_ivfadc_trained_recall",  # same (index arm)
    "pq_index_build_cells",  # the production encode kernel itself
    # r14: the GEMM kmeans assignment is now the default at EVERY k
    # (was k>16 only), so small-k kmeans consumers carry the kernel
    "ann_ivf_kmeans_topk",  # kmeans assignment kernel (k=8)
    "embedding_prototype_prune",  # kmeans assignment kernel (small k)
    # r14: poly-hash channels run as one Arrow kernel (guide §4.2;
    # bit-equality vs the HOF fold pinned in test_llm_ops.py)
    "simhash_candidates",
    # r14: static-centroid assignment via cosine_to_centroids_kernel
    # (same kernel as the IVFADC pair; bit-equality pinned in
    # test_operators.py)
    "ann_ivf_topk",
    "ann_ivf_multiprobe_topk",
}

#: queries whose plans legitimately contain BroadcastNestedLoopJoin —
#: every one is a broadcast of a 1-row scalar aggregate (corpus max /
#: grand total / watermark / spine bounds) or a bounded centroid /
#: query-vector table onto a keyed frame (cross join with no key by
#: construction), never a fact×fact product
ALLOWED_BNLJ = {
    "ann_cosine_topk",  # broadcast query vector
    "ann_pq_recall",  # broadcast query vector (exact arm)
    "ann_pq_trained_topk",  # broadcast query vector (50-row re-rank)
    "ann_pq_trained_recall",  # broadcast query vector (both arms)
    "ann_int8_recall",  # broadcast 1-row anchor (query vector + codes)
    "hard_negative_mining_topk",  # broadcast 5-row query-vector set
    "rrf_fusion_topk",  # broadcast query vector + two 100-row arm frames
    "weighted_systematic_sample",  # 1-row grand-total-weight attach
    "ann_ivf_topk",  # broadcast query vector (1-row re-rank attach)
    "ann_ivf_multiprobe_topk",  # broadcast query vector
    "ann_ivfadc_topk",  # broadcast centroids + 1-row query re-rank
    "ann_ivfadc_recall",  # broadcast centroids + query vector (both arms)
    "ann_ivfadc_trained_topk",  # broadcast 1-row query re-rank
    "ann_ivfadc_trained_recall",  # broadcast query vector (both arms)
    "pq_index_query_topk",  # broadcast 1-row query re-rank (persisted)
    "ann_lsh_multiprobe",  # broadcast 1-row query (vector + bucket)
    "audience_overlap_hll",  # 1-row sketch-estimate triple attach
    "bigram_pmi_topk",  # 1-row corpus totals (n_uni, n_bg)
    "bigram_lm_doc_nll",  # 1-row vocabulary-size attach onto the model
    "association_rules_topk",  # 1-row basket-count attach
    "association_rules_topk_salted",  # same 1-row attach, salted pairs
    "bm25_topk_docs",  # 1-row corpus stats (N, Σdl, per-term df)
    "corpus_mixture_sample",  # 1-row grand token total
    "dsir_importance_weights",  # 1-row corpus totals (Nt, Ns, V)
    "time_decay_user_value",  # 1-row corpus-max-day attach
    "customer_rfm_segments",  # 1-row corpus-max-date + total attach
    "dormant_rich_customers",  # scalar-subquery broadcast
    "histogram_order_prices",  # 1-row [min,max] bounds attach
    "lang_kl_by_source",  # 1-row corpus-total broadcast
    "mutual_info_flag_status",  # 1-row grand-total + entropy attaches
    "pagerank_dangling_part_supplier",  # 1-row dangling-mass + N per round
    "orders_above_avg_price",  # scalar avg broadcast
    "pareto_part_classes",  # 1-row grand-total broadcast
    "top1pct_revenue_share",  # 1-row customer-count/total attach
    "resample_daily_orders",  # 1-row min/max spine bounds
    "tfidf_top_terms",  # 1-row doc-count broadcast
    "theil_sen_daily_trend",  # calendar-bounded daily self-pair + 1-row attach
    "cusum_changepoint_daily",  # 1-row grand-mean + max-cusum attaches
    "seasonal_naive_backtest",  # 1-row max-date test-window bound
    "trailing_7d_distinct_users",  # 1-row spine bounds
    "watermark_boundary_admission",  # 1-row watermark broadcast
}


@pytest.fixture(scope="module")
def plans(spark):
    from lmo_data_catalog_spark import cache

    out = {}
    for name, spec in REGISTRY.items():
        df = spec.builder(spark, SF)
        out[name] = df._jdf.queryExecution().executedPlan().toString()
    # iterative builders (kcore, connected components) EXECUTE and
    # checkpoint while building; release them so a full-suite session
    # doesn't carry this module's storage into later tests (or OOM
    # when this module runs late in the suite)
    cache.release_all()
    return out


def test_no_row_at_a_time_python(plans):
    bad = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert not bad, f"row-at-a-time Python UDF in: {bad}"


def test_arrow_python_only_where_documented(plans):
    bad = [
        n
        for n, p in plans.items()
        if (
            "ArrowEvalPython" in p
            or "MapInPandas" in p
            or "PythonMapInArrow" in p
            or "FlatMapGroupsInPandas" in p
        )
        and n not in ALLOWED_ARROW
    ]
    assert not bad, f"undocumented Arrow-Python stage in: {bad}"


def test_no_cartesian_products(plans):
    bad = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not bad, f"CartesianProduct in: {bad}"


def test_bnlj_only_where_documented(plans):
    bad = [
        n
        for n, p in plans.items()
        if "BroadcastNestedLoopJoin" in p and n not in ALLOWED_BNLJ
    ]
    assert not bad, f"undocumented BroadcastNestedLoopJoin in: {bad}"


def test_allowlists_not_stale(plans):
    """Allowlist entries must still exist and still exhibit the node —
    otherwise the list rots into blanket permission."""
    for n in ALLOWED_BNLJ | ALLOWED_ARROW:
        assert n in plans, f"allowlisted query {n} no longer in registry"
    stale = [
        n for n in ALLOWED_BNLJ if "BroadcastNestedLoopJoin" not in plans[n]
    ]
    assert not stale, f"BNLJ allowlist stale (node gone — prune): {stale}"
