"""Unit + property tests for operator semantics (SURVEY §5.2-5.4)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from lmo_data_catalog_spark import schema_toolkit as st
from lmo_data_catalog_spark.operators import filters
from lmo_data_catalog_spark.operators.joins import asof_join, natural_join
from lmo_data_catalog_spark.operators.metrics import (
    attach_group_metrics_join,
    attach_group_metrics_window,
    cagr_metrics_agg,
    value_at_year,
)
from lmo_data_catalog_spark.operators.reshape import pivot_years, unpivot_years


def test_clean_names():
    assert st.clean_name("Geographic Area") == "geographic_area"
    assert st.clean_name("2024 Census  Income!") == "x2024_census_income"
    assert st.clean_name("NOC") == "noc"


def test_clean_names_dedupe(spark):
    df = spark.createDataFrame([(1, 2)], ["A b", "a-B"])
    assert st.clean_names(df).columns == ["a_b", "a_b_2"]


def test_not_isin_keeps_nulls(spark):
    """R semantics: !x %in% set keeps NA rows (SURVEY F3)."""
    df = spark.createDataFrame(
        [Row(r="North"), Row(r="Kootenay"), Row(r=None)]
    )
    kept = df.filter(filters.not_isin("r", ["North", "South East"]))
    assert sorted(x.r for x in kept.collect() if x.r) == ["Kootenay"]
    assert any(x.r is None for x in kept.collect())


def test_sql_text_filters_equal_the_column_filters(spark):
    """``isin_sql``/``not_isin_sql``/``not_rlike_sql`` keep the same rows
    as their Column forms: NULLs kept by the negations, quotes and
    backslashes in values taken literally, an empty set matching no
    row."""
    df = spark.createDataFrame(
        [Row(r=v) for v in ["North", "O'Hara", "a\\b", "Kootenay", None]]
    )
    for values in (["North", "O'Hara", "a\\b"], []):
        for col_form, sql_form in (
            (filters.isin, filters.isin_sql),
            (filters.not_isin, filters.not_isin_sql),
        ):
            want = sorted(map(repr, df.filter(col_form("r", values)).collect()))
            got = sorted(map(repr, df.filter(sql_form("r", values)).collect()))
            assert got == want, (col_form.__name__, values)
    want = df.filter(filters.not_rlike("r", "Non|'")).collect()
    assert df.filter(filters.not_rlike_sql("r", "Non|'")).collect() == want


def test_not_rlike_keeps_nulls(spark):
    df = spark.createDataFrame([Row(h="HOO"), Row(h="Non-HOO"), Row(h=None)])
    kept = df.filter(filters.not_rlike("h", "Non")).collect()
    assert {x.h for x in kept} == {"HOO", None}


def test_pivot_unpivot_identity(spark):
    """unpivot ∘ pivot = identity on the long table (SURVEY §5.4)."""
    long = spark.createDataFrame(
        [("a", 2024, 1.0), ("a", 2025, 2.0), ("b", 2024, 3.0), ("b", 2025, 4.0)],
        ["k", "year", "value"],
    )
    wide = pivot_years(long, ["k"], [2024, 2025])
    assert wide.columns == ["k", "2024", "2025"]
    back = unpivot_years(wide, ["k"], ["2024", "2025"])
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, long.collect()))


def test_cagr_algebra(spark):
    """(1+c_full)^(y2-y0) ≈ (1+c1)^(y1-y0) · (1+c2)^(y2-y1)."""
    long = spark.createDataFrame(
        [("a", 2024, 100.0), ("a", 2029, 150.0), ("a", 2034, 190.0)],
        ["k", "year", "value"],
    )
    r = cagr_metrics_agg(long, ["k"], years=(2024, 2029, 2034)).collect()[0]
    lhs = (1 + r.cagr_full) ** 10
    rhs = (1 + r.cagr_1st) ** 5 * (1 + r.cagr_2nd) ** 5
    assert abs(lhs - rhs) < 1e-9
    assert abs((1 + r.cagr_1st) ** 5 - 1.5) < 1e-9


def test_attach_metrics_window_vs_join(spark):
    """A5 dual-plan cross-check (SURVEY §5.2): window == agg+join."""
    long = spark.createDataFrame(
        [("a", 2024, 1.0), ("a", 2025, 2.0), ("b", 2024, 5.0)],
        ["k", "year", "value"],
    )
    via_window = attach_group_metrics_window(
        long, ["k"], {"v0": value_at_year("year", "value", 2024)}
    )
    metrics = long.groupBy("k").agg(
        F.first(F.when(F.col("year") == 2024, F.col("value")), ignorenulls=True).alias("v0")
    )
    via_join = attach_group_metrics_join(long, metrics, ["k"])
    a = sorted(map(tuple, via_window.select("k", "year", "value", "v0").collect()))
    b = sorted(map(tuple, via_join.select("k", "year", "value", "v0").collect()))
    assert a == b


def test_natural_join_resolves_keys(spark):
    l = spark.createDataFrame([(1, "x")], ["k", "a"])
    r = spark.createDataFrame([(1, "y")], ["k", "b"])
    joined, keys = natural_join(l, r)
    assert keys == ["k"]
    assert joined.columns == ["k", "a", "b"]


def test_left_join_preserves_left_count(spark):
    """Join-key coverage property (SURVEY §5.4)."""
    l = spark.createDataFrame([(i,) for i in range(10)], ["k"])
    r = spark.createDataFrame([(i, i * 2) for i in range(5)], ["k", "v"])
    assert l.join(r, "k", "left").count() == 10


def test_asof_join(spark):
    """As-of semantics: latest right row with ts <= left ts, per key."""
    left = spark.createDataFrame(
        [(1, 10), (1, 25), (1, 5), (2, 10)], ["uid", "t"]
    )
    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 50, "c")], ["uid", "t", "tag"]
    )
    out = asof_join(left, right, on="t", by=["uid"])
    got = {(r.uid, r.t): r.tag_r for r in out.collect()}
    assert got == {(1, 10): "a", (1, 25): "b", (1, 5): None, (2, 10): None}


def test_zscore_dual_plan_crosscheck(spark):
    """SURVEY §5.2: the applyInPandas escape hatch must agree with the
    native window plan (same group stats, per-row)."""
    import math

    from lmo_data_catalog_spark.operators.windows import (
        zscore_grouped_map,
        zscore_window,
    )

    df = spark.createDataFrame(
        [(k, float(v)) for k in "ab" for v in range(1, 8)], ["k", "v"]
    )
    via_window = {
        (r.k, r.v): r.z
        for r in zscore_window(df, keys=["k"], value_col="v").collect()
    }
    via_pandas = {
        (r.k, r.v): r.z
        for r in zscore_grouped_map(df, keys=["k"], value_col="v").collect()
    }
    assert set(via_window) == set(via_pandas)
    for key, z in via_window.items():
        assert math.isclose(z, via_pandas[key], rel_tol=1e-12)


def test_asof_join_latest_row_wins_even_with_nulls(spark):
    """The latest right row must win ATOMICALLY: its NULL attributes
    stay NULL instead of resurrecting older rows' values (DuckDB ASOF
    semantics)."""
    from lmo_data_catalog_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 25)], ["k", "t"])
    right = spark.createDataFrame(
        [(1, 10, "a", 100.0), (1, 20, None, None)],
        "k long, t long, tag string, score double",
    )
    out = asof_join(left, right, on="t", by=["k"]).collect()
    assert len(out) == 1
    assert out[0]["tag_r"] is None and out[0]["score_r"] is None
    # and a left row before any right row keeps NULLs
    early = spark.createDataFrame([(1, 5)], ["k", "t"])
    out2 = asof_join(early, right, on="t", by=["k"]).collect()
    assert out2[0]["tag_r"] is None


def test_sessionize_boundary_matches_session_window(spark):
    """Boundary semantics verified against F.session_window: Spark
    MERGES adjacent session windows, so an event exactly gap seconds
    after its predecessor is the SAME session (strict >), and one a
    microsecond later is a NEW session."""
    import datetime

    from lmo_data_catalog_spark.operators.windows import sessionize

    t0 = datetime.datetime(2024, 1, 1)
    for extra_us, want in ((0, 1), (1, 2)):
        rows = [
            (1, t0),
            (
                1,
                t0
                + datetime.timedelta(seconds=1800, microseconds=extra_us),
            ),
            (1, t0 + datetime.timedelta(seconds=1900)),
        ]
        df = spark.createDataFrame(rows, ["user_id", "ts"])
        s = sessionize(df, by=["user_id"], ts_col="ts", gap_seconds=1800)
        n_sessions = s.agg(F.max("session_id")).first()[0]
        via_sw = (
            df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .count()
            .count()
        )
        assert n_sessions == via_sw == want, (extra_us, n_sessions, via_sw)


def test_zscore_grouped_map_null_on_constant_group(spark):
    """Constant/single-row groups: both plans must emit NULL (not
    NaN) so the escape hatch is a drop-in for the window plan."""
    from lmo_data_catalog_spark.operators.windows import (
        zscore_grouped_map,
        zscore_window,
    )

    df = spark.createDataFrame(
        [("const", 5.0), ("const", 5.0), ("single", 1.0)], ["k", "v"]
    )
    for plan in (zscore_window, zscore_grouped_map):
        rows = plan(df, keys=["k"], value_col="v").collect()
        assert all(r.z is None for r in rows), (plan.__name__, rows)


def test_distributed_ntile_tracks_exact(spark):
    """Bucket bounds from approxQuantile(err=0) agree with exact NTILE
    everywhere except ties on cut values; buckets are monotone in the
    value and populations are near-equal."""
    from pyspark.sql import Window

    from lmo_data_catalog_spark.operators.windows import distributed_ntile

    df = spark.range(1, 1001).select(
        F.col("id"), (F.col("id") * 7 % 997).cast("double").alias("v")
    )
    got = distributed_ntile(df, col="v", n=4, relative_error=0.0)
    exact = df.withColumn(
        "exact_b", F.ntile(4).over(Window.orderBy(F.asc("v"), F.asc("id")))
    )
    j = got.join(exact, on=["id", "v"]).cache()
    # monotone: a higher value never lands in a lower bucket
    pairs = (
        j.alias("a")
        .join(j.alias("b"), F.col("a.v") < F.col("b.v"))
        .filter(F.col("a.bucket") > F.col("b.bucket"))
    )
    assert pairs.count() == 0
    # near-equal populations (997 distinct values, 1000 rows)
    sizes = [r.n for r in j.groupBy("bucket").agg(F.count("*").alias("n")).collect()]
    assert len(sizes) == 4 and max(sizes) - min(sizes) <= 6
    # agreement with exact ntile away from cut-value ties
    mismatch = j.filter(F.col("bucket") != F.col("exact_b")).count()
    assert mismatch <= 12  # only boundary ties may differ


def test_global_row_number_matches_global_window(spark):
    """Two-phase bucketed ranking is bit-identical to the global-window
    row_number for a deterministic total order — both directions, with
    heavy ties and skew so cut-value rows straddle bucket math."""
    from pyspark.sql import Window

    from lmo_data_catalog_spark.operators.windows import global_row_number

    df = spark.range(1, 2001).select(
        F.col("id"),
        # skewed + heavily tied: 60% of rows share 5 values
        F.when(F.col("id") % 5 < 3, (F.col("id") % 5).cast("double"))
        .otherwise((F.col("id") * 13 % 401).cast("double"))
        .alias("v"),
    )
    for ascending in (True, False):
        got = global_row_number(
            df,
            value_col="v",
            ascending=ascending,
            tiebreak_cols=["id"],
            name="r",
            num_buckets=8,
            total_col="n",
        )
        direction = F.asc("v") if ascending else F.desc("v")
        w = Window.orderBy(direction, F.asc("id"))
        exact = df.withColumn("r_exact", F.row_number().over(w))
        bad = (
            got.join(exact, on=["id", "v"])
            .filter(F.col("r") != F.col("r_exact"))
            .count()
        )
        assert bad == 0, f"ascending={ascending}"
        assert got.select("n").first()[0] == 2000


def test_global_row_numbers_multi_matches_global_windows(spark):
    """The one-pass multi-ordering ranker agrees bit-for-bit with a
    global-window row_number per dimension (mixed directions, ties)."""
    from pyspark.sql import Window

    from lmo_data_catalog_spark.operators.windows import global_row_numbers

    df = spark.range(1, 1501).select(
        F.col("id"),
        (F.col("id") % 7).cast("double").alias("a"),  # heavy ties
        (F.col("id") * 31 % 997).cast("double").alias("b"),
    )
    got = global_row_numbers(
        df,
        [("a", True, "ra"), ("b", False, "rb")],
        tiebreak_cols=["id"],
        num_buckets=8,
        total_col="n",
    )
    exact = df.withColumn(
        "ra_exact", F.row_number().over(Window.orderBy(F.asc("a"), F.asc("id")))
    ).withColumn(
        "rb_exact", F.row_number().over(Window.orderBy(F.desc("b"), F.asc("id")))
    )
    j = got.join(exact, on=["id"])
    assert j.filter(F.col("ra") != F.col("ra_exact")).count() == 0
    assert j.filter(F.col("rb") != F.col("rb_exact")).count() == 0
    assert got.select("n").first()[0] == 1500


def test_global_running_sum_matches_single_task_window(spark):
    """global_running_sum must be bit-identical to the unpartitioned
    SUM() OVER (ORDER BY ...) window, under ties and both directions,
    on DECIMAL values (order-insensitive sums — the operator's stated
    precondition for exactness)."""
    from decimal import Decimal

    from pyspark.sql import Window

    from lmo_data_catalog_spark.operators.windows import global_running_sum

    rows = [
        (i, Decimal(str(round(((i * 7919) % 100) / 4, 2))))
        for i in range(500)
    ]
    # plant heavy ties so cut-value boundaries are exercised
    rows += [(1000 + i, Decimal("7.25")) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, v decimal(18,4)")
    for asc in (True, False):
        direction = F.asc if asc else F.desc
        w = (
            Window.orderBy(direction("v"), F.asc("id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        want = {
            (r.id, r.cum)
            for r in df.withColumn("cum", F.sum("v").over(w)).collect()
        }
        got = {
            (r.id, r.cum)
            for r in global_running_sum(
                df,
                value_col="v",
                ascending=asc,
                tiebreak_cols=["id"],
                name="cum",
                num_buckets=8,
            ).collect()
        }
        assert got == want


def test_bucket_proximity_join_equals_naive_and_no_dups(spark):
    """The synthesized-equi-key proximity join must return EXACTLY the
    naive |Δt| <= w cross-filter pair set, each pair once (the left
    bucket is a single value inside the right side's exploded span —
    no post-join dedup exists to hide a double-count). Fixture puts
    timestamps ON the bucket boundary and at Δt == w exactly, the two
    places an off-by-one in the explode span or a float bucket would
    show."""
    import itertools

    from lmo_data_catalog_spark.operators.joins import bucket_proximity_join

    w = 10
    lrows = [(i, t) for i, t in enumerate([0, 5, 9, 10, 11, 20, 35, 99, 100])]
    rrows = [(j, t) for j, t in enumerate([0, 1, 10, 19, 21, 30, 89, 110])]
    left = spark.createDataFrame(lrows, ["lid", "lt"])
    right = spark.createDataFrame(rrows, ["rid", "rt"])
    out = bucket_proximity_join(
        left, right, left_ts="lt", right_ts="rt", window=w
    )
    got = sorted((r.lid, r.rid) for r in out.collect())
    want = sorted(
        (li, rj)
        for (li, lt), (rj, rt) in itertools.product(lrows, rrows)
        if abs(lt - rt) <= w
    )
    assert got == want  # set equality AND multiplicity (both sorted lists)
    assert len(got) == len(set(got))


def test_bucket_proximity_join_plan_is_equi_not_bnlj(spark):
    """The whole point: the pure-inequality predicate must NOT plan as
    BroadcastNestedLoop/Cartesian — the synthesized bucket key gives
    Catalyst an equi condition."""
    from lmo_data_catalog_spark.operators.joins import bucket_proximity_join

    left = spark.range(100).select(
        F.col("id").alias("lid"), (F.col("id") * 7).alias("lt")
    )
    right = spark.range(100).select(
        F.col("id").alias("rid"), (F.col("id") * 11).alias("rt")
    )
    plan = bucket_proximity_join(
        left, right, left_ts="lt", right_ts="rt", window=50
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_bucket_proximity_join_rejects_nonpositive_window(spark):
    import pytest

    from lmo_data_catalog_spark.operators.joins import bucket_proximity_join

    df = spark.range(1).select(F.col("id").alias("t"))
    with pytest.raises(ValueError):
        bucket_proximity_join(df, df, left_ts="t", right_ts="t", window=0)


def test_bucket_proximity_join_rejects_right_and_full_outer(spark):
    """The RIGHT side is the exploded one: under right/full outer an
    unmatched right row surfaces once per exploded bucket (2-3
    duplicate null-extended rows), silently wrong — so those join
    types must be rejected, while every left-shaped type passes."""
    import pytest

    from lmo_data_catalog_spark.operators.joins import bucket_proximity_join

    lf = spark.range(3).select(F.col("id").alias("lt"))
    rt = spark.range(3).select(F.col("id").alias("rt"))
    for how in ("right", "right_outer", "full", "full_outer", "outer"):
        with pytest.raises(ValueError, match="unsound"):
            bucket_proximity_join(
                lf, rt, left_ts="lt", right_ts="rt", window=5, how=how
            )
    for how in ("inner", "left", "left_semi", "left_anti"):
        bucket_proximity_join(
            lf, rt, left_ts="lt", right_ts="rt", window=5, how=how
        ).count()


def test_lsh_probe_shuffle_fallback_matches_broadcast(spark, tmp_path):
    """Above BROADCAST_MAX_BAND_ROWS the probe must drop the explicit
    broadcast hint (a huge backfill batch would OOM the driver) and
    fall back to a shuffle join with IDENTICAL candidates."""
    from lmo_data_catalog_spark.operators.dedup import LshDedupState

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "completely unrelated text about spark partitions"),
        ],
        ["doc_id", "text"],
    )
    st = LshDedupState(spark, str(tmp_path / "lsh_a"))
    st.commit_batch(st.probe(docs)[1])
    newdocs = spark.createDataFrame(
        [(4, "the quick brown fox jumps over the lazy dog tomorrow")],
        ["doc_id", "text"],
    )
    fast = {tuple(r) for r in st.probe(newdocs)[0].collect()}
    st.BROADCAST_MAX_BAND_ROWS = 0  # force every batch onto the fallback
    slow = {tuple(r) for r in st.probe(newdocs)[0].collect()}
    assert fast == slow and fast


def test_exact_percentile_selection_matches_percentile_agg(spark):
    """Selection-based exact percentile == Spark's buffering
    ``percentile`` aggregate bit-for-bit, across odd/even n, heavy
    duplicates, and a tiny frame (bracket = everything)."""
    import random

    from pyspark.sql import functions as F

    from lmo_data_catalog_spark.operators.windows import (
        exact_percentile_selection,
    )

    rng = random.Random(11)
    cases = [
        [rng.uniform(-1e6, 1e6) for _ in range(10_001)],  # odd n
        [rng.uniform(0, 1) for _ in range(5_000)],  # even n
        [float(rng.randint(0, 5)) for _ in range(4_000)],  # dup mass
        [3.25, 1.5, -7.0],  # tiny
    ]
    for vals in cases:
        df = spark.createDataFrame([(v,) for v in vals], ["x"])
        for p in (0.5, 0.025, 0.975):
            want = df.agg(
                F.percentile("x", F.lit(p)).alias("q")
            ).collect()[0]["q"]
            got = exact_percentile_selection(df, "x", p)
            assert got == want, (p, got, want, len(vals))
    # empty input -> None
    empty = spark.createDataFrame([], "x double")
    assert exact_percentile_selection(empty, "x", 0.5) is None


def test_kmeans_kernel_path_matches_expression_path(spark, monkeypatch):
    """kmeans_cells_exact has two assignment paths (k-wide fold
    expressions vs the Arrow GEMM kernel above _KERNEL_MIN_K). All
    operands are exact-integer doubles, so both must produce the SAME
    cells on the same data — pinned by running k=8 through each."""
    import lmo_data_catalog_spark.operators.similarity as sim

    rows = [
        (i, [((i * 37 + j * 11) % 19 - 9) / 4.0 for j in range(8)])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kw = dict(id_col="vec_id", vec_col="embedding", dim=8, k=8, iters=2)
    # force each path explicitly (r14: the default flipped to
    # always-kernel, so the expression path needs the high threshold)
    monkeypatch.setattr(sim, "_KERNEL_MIN_K", 16)
    expr_path = {
        (r["vec_id"], r["__cell"])
        for r in sim.kmeans_cells_exact(df, **kw).collect()
    }
    monkeypatch.setattr(sim, "_KERNEL_MIN_K", 0)
    kernel_path = {
        (r["vec_id"], r["__cell"])
        for r in sim.kmeans_cells_exact(df, **kw).collect()
    }
    assert expr_path == kernel_path and len(expr_path) == 120


def test_global_running_max_matches_global_window(spark):
    """global_running_max (bucketed two-phase) vs the single-task
    global window, inclusive and exclusive, on keys engineered to
    straddle bucket boundaries."""
    from pyspark.sql import Window

    from lmo_data_catalog_spark.operators.windows import global_running_max

    rows = [(i, float(i % 97), (i * 37) % 1000) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, ord double, v int")
    # make ord unique per row (helper contract: unique order key)
    df = df.withColumn("ord", F.col("ord") * 10000 + F.col("id"))

    w = Window.orderBy("ord")
    want_inc = {
        r["id"]: r["m"]
        for r in df.withColumn(
            "m",
            F.max("v").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        ).collect()
    }
    want_exc = {
        r["id"]: r["m"]
        for r in df.withColumn(
            "m",
            F.max("v").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        ).collect()
    }
    got_inc = {
        r["id"]: r["m"]
        for r in global_running_max(
            df, value_col="v", order_col="ord", name="m"
        ).collect()
    }
    got_exc = {
        r["id"]: r["m"]
        for r in global_running_max(
            df, value_col="v", order_col="ord", name="m", exclusive=True
        ).collect()
    }
    assert got_inc == want_inc
    assert got_exc == want_exc


def test_global_running_max_all_null_bucket(spark):
    """A bucket whose every value is null (F.max -> None) must not
    crash the driver-side offset fold and must not poison downstream
    offsets: nulls are skipped, matching F.greatest's semantics
    (ADVICE r11). Non-null values first so a later bucket is all-null
    — the ordering that used to hit max(int, None)."""
    from pyspark.sql import Window

    from lmo_data_catalog_spark.operators.windows import global_running_max

    rows = [
        (i, float(i), (i * 13) % 50 if i < 96 else None)
        for i in range(128)
    ]
    df = spark.createDataFrame(rows, "id long, ord double, v int")
    w = Window.orderBy("ord")
    want = {
        r["id"]: r["m"]
        for r in df.withColumn(
            "m",
            F.max("v").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        ).collect()
    }
    got = {
        r["id"]: r["m"]
        for r in global_running_max(
            df, value_col="v", order_col="ord", name="m", num_buckets=8
        ).collect()
    }
    assert got == want


def test_skyline_matches_bruteforce_quadratic(spark):
    """skyline_parts_price_size (sort-scan identity) vs the literal
    quadratic dominance definition computed in Python."""
    from lmo_data_catalog_spark.registry import REGISTRY

    sf = "/root/testdata/sf0.001"
    got = sorted(
        (r["p_partkey"], r["p_retailprice"], r["p_size"])
        for r in REGISTRY["skyline_parts_price_size"]
        .builder(spark, sf)
        .collect()
    )
    from lmo_data_catalog_spark.catalog import Catalog

    pts = [
        (r["p_partkey"], r["p_retailprice"], r["p_size"])
        for r in Catalog(spark, sf)
        .part.select("p_partkey", "p_retailprice", "p_size")
        .collect()
    ]
    want = sorted(
        (k, pr, sz)
        for (k, pr, sz) in pts
        if not any(
            bpr <= pr and bsz >= sz and (bpr < pr or bsz > sz)
            for (_, bpr, bsz) in pts
        )
    )
    assert got == want and len(want) > 0


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as hst  # noqa: E402  (st = schema_toolkit)


@settings(max_examples=8, deadline=None)
@given(
    seed=hst.integers(0, 10_000),
    n=hst.integers(5, 120),
    grid=hst.sampled_from([3, 5, 10, 1000]),
)
def test_skyline_2d_fuzz_vs_bruteforce(spark, seed, n, grid):
    """skyline_2d vs the quadratic dominance definition on random
    point sets — small grids force heavy (x, y) ties (duplicates must
    BOTH survive), grid=1000 exercises the near-unique regime."""
    import numpy as np

    from lmo_data_catalog_spark.operators.windows import skyline_2d

    rng = np.random.RandomState(seed)
    pts = [
        (i, float(rng.randint(0, grid)), int(rng.randint(0, grid)))
        for i in range(n)
    ]
    df = spark.createDataFrame(pts, "id long, x double, y int")
    got = sorted(
        (r["id"], r["x"], r["y"])
        for r in skyline_2d(df, x_col="x", y_col="y").collect()
    )
    want = sorted(
        (i, x, y)
        for (i, x, y) in pts
        if not any(
            bx <= x and by >= y and (bx < x or by > y)
            for (_, bx, by) in pts
        )
    )
    assert got == want


def test_basket_pairs_matches_self_join(spark):
    """basket_pairs == distinct → self-join → a<b, row-multiset-exact
    (the r14 one-exchange rewrite of basket pair generation), covering
    duplicate input rows, singleton baskets, and unsorted items."""
    from lmo_data_catalog_spark.operators.joins import basket_pairs

    rows = [
        (1, 10), (1, 20), (1, 30), (1, 10),  # duplicate item in basket
        (2, 7),                              # singleton basket
        (3, 5), (3, 5),                      # singleton after dedup
        (4, 2), (4, 1),                      # unsorted input
    ]
    df = spark.createDataFrame(rows, ["b", "x"])
    got = basket_pairs(df, basket_col="b", item_col="x")
    li = df.distinct()
    want = (
        li.toDF("b", "u")
        .join(li.toDF("b", "v"), "b")
        .filter(F.col("u") < F.col("v"))
        .select("b", "u", "v")
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() == want.count() == 4  # C(3,2)=3 + C(2,2)=1
    named = basket_pairs(df, basket_col="b", item_col="x", out=("l", "r"))
    assert named.columns == ["b", "l", "r"]


def test_basket_pairs_single_exchange(spark):
    """The optimization claim itself: basket_pairs plans exactly ONE
    Exchange (the groupBy(basket) aggregate) — the self-join shape it
    replaces paid three."""
    from lmo_data_catalog_spark.operators.joins import basket_pairs

    df = spark.createDataFrame([(1, 10), (1, 20)], ["b", "x"])
    plan = (
        basket_pairs(df, basket_col="b", item_col="x")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_cosine_kernel_matches_fold_expression(spark):
    """cosine_to_centroids_kernel == crossJoin + cosine_pair fold,
    BIT-exact (repr-equal doubles) on float32 vectors — the r14
    static-IVFADC assign kernel's equivalence pin."""
    import random

    from lmo_data_catalog_spark.operators.similarity import (
        cosine_pair,
        cosine_to_centroids_kernel,
    )

    rng = random.Random(7)
    dim = 16
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(dim)])
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    )
    cents_df = spark.createDataFrame(
        [(j, [rng.uniform(-1.0, 1.0) for _ in range(dim)]) for j in (1, 2, 3)],
        "cent_id bigint, cvec array<float>",
    )
    exp = (
        df.crossJoin(F.broadcast(cents_df))
        .select(
            "vec_id",
            "cent_id",
            cosine_pair("embedding", "cvec", dim).alias("c"),
        )
    )
    cents = [(r["cent_id"], list(r["cvec"])) for r in cents_df.collect()]
    got = cosine_to_centroids_kernel(
        df, cents, vec_col="embedding", keep=["vec_id"], out_cos="c"
    )
    want = {(r["vec_id"], r["cent_id"]): repr(r["c"]) for r in exp.collect()}
    have = {(r["vec_id"], r["cent_id"]): repr(r["c"]) for r in got.collect()}
    assert want == have and len(have) == 120
