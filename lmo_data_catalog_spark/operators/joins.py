"""Join operators (SURVEY §2.3) plus as-of / range joins.

J1/J2 in the reference are *natural* joins — keys inferred from
shared column names (01_source_me.R:81, :339). Natural-key inference
is a footgun, so :func:`natural_join` resolves the shared columns
explicitly at build time and returns them alongside the plan.

Scale notes: dimension sides (region/nation/part at TPC-H shape;
clusters/job-openings-sums in the reference) are broadcast —
``F.broadcast`` makes the hash join explicit instead of trusting the
10 MB autoBroadcast threshold. The as-of join is the union-trick
implementation: one shuffle on (key), no per-row Python, no
cartesian blowup — this is the pattern that survives 100 TB, unlike
a naive range self-join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..pyboundary import literal_array


def natural_join(
    left: DataFrame,
    right: DataFrame,
    how: str = "inner",
    *,
    broadcast_right: bool = False,
) -> tuple[DataFrame, list[str]]:
    """Join on all shared column names, resolved explicitly (J1/J2)."""
    keys = [c for c in left.columns if c in set(right.columns)]
    if not keys:
        raise ValueError("natural_join: no shared columns")
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=keys, how=how), keys


def basket_pairs(
    df: DataFrame,
    *,
    basket_col: str,
    item_col: str,
    out: tuple[str, str] = ("u", "v"),
) -> DataFrame:
    """All distinct within-basket item pairs ``(a, b)`` with ``a < b``,
    one row per (basket, pair) — the basket self-join
    ``distinct(basket,item) ⋈ itself ON basket WHERE a < b`` as ONE
    keyed aggregate plus a map-side pair expansion (r14, guide §2.4).

    The classic build pays three exchanges: the per-basket distinct
    hash-partitions on (basket, item), then the self-join re-partitions
    both sides on basket alone. This shape pays exactly one:
    ``groupBy(basket).collect_set(item)`` (map-side partial sets dedupe
    before the shuffle, and the exchange carries one set row per
    basket, not one row per item), then a sorted array and an
    expression-level i<j expansion emit each pair once in
    (lesser, greater) orientation. The row multiset is identical to the
    self-join's (proven exceptAll-empty both ways in
    tests/test_operators.py): collect_set IS the within-basket
    distinct, and sort_array pins the pair orientation and makes the
    frame deterministic. explode_outer + null filter, not a bare
    explode, for the InferFiltersFromGenerate double-evaluation reason
    documented on operators/text.py::shingles.

    Skew caveat: a mega-basket's C(k, 2) expansion still runs in the
    one task owning its basket key — same as the unsalted self-join;
    skewed basket workloads stay on :func:`salted_join` (the registry's
    ``*_salted`` rows demonstrate that machinery on purpose).
    """
    u, v = out
    arr = df.groupBy(basket_col).agg(
        F.sort_array(F.collect_set(item_col)).alias("__items")
    )
    return (
        arr.select(
            basket_col,
            F.explode_outer(
                F.expr(
                    "flatten(transform(__items, (x, i) -> "
                    "transform(slice(__items, i + 2, size(__items)), "
                    f"y -> named_struct('{u}', x, '{v}', y))))"
                )
            ).alias("__p"),
        )
        .where(F.col("__p").isNotNull())
        .select(basket_col, f"__p.{u}", f"__p.{v}")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    by: Sequence[str] = (),
    right_cols: Sequence[str] | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right.on <= left.on`` (per ``by`` partition). DuckDB ``ASOF JOIN``
    semantics; left rows with no earlier right row keep NULLs.

    Implementation: tag + union + window last_value over ordered rows —
    a single shuffle on (by, on); scales linearly, no range cross-join.
    """
    rcols = list(right_cols) if right_cols is not None else [
        c for c in right.columns if c != on and c not in by
    ]
    by = list(by)
    # Carry the right side as ONE struct so last(ignorenulls) picks the
    # latest right ROW atomically — per-column last() would resurrect
    # an older row's value wherever the latest row holds NULL, emitting
    # a composite row that never existed.
    rstruct = F.struct(*[F.col(c) for c in rcols])
    null_struct = F.lit(None).cast(
        "struct<" + ",".join(
            f"{c}:{right.schema[c].dataType.simpleString()}" for c in rcols
        ) + ">"
    )
    lpart = left.select(
        *[F.col(c) for c in left.columns],
        F.lit(1).alias("__is_left"),
        null_struct.alias("__r"),
    )
    rpart = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns if c not in by and c != on],
        *[F.col(b) for b in by],
        F.col(on),
        F.lit(0).alias("__is_left"),
        rstruct.alias("__r"),
    ).select(*lpart.columns)  # align column order
    unioned = lpart.unionByName(rpart)
    # Right rows sort before left rows at the same timestamp so a
    # right row with equal `on` IS matched (ASOF <= semantics).
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col(on).asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = unioned.withColumn(
        "__r", F.last("__r", ignorenulls=True).over(w)
    )
    return (
        matched.filter(F.col("__is_left") == 1)
        .select(
            *[F.col(c) for c in left.columns],
            *[F.col("__r").getField(c).alias(f"{c}{suffix}") for c in rcols],
        )
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: Sequence[str],
    salt_buckets: int = 16,
    hot: DataFrame | None = None,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigating equi-join: split each hot key across
    ``salt_buckets`` tasks.

    Probe (left) rows of a hot key get a deterministic per-row salt
    (uniform hash of the whole row); build (right) rows of a hot key
    are replicated once per salt value; every other row carries salt 0
    once. The join key becomes (keys…, salt), so a key holding 50% of
    all rows occupies ``salt_buckets`` parallel tasks instead of one
    straggler. Results are identical to the unsalted inner/left join:
    each left row meets each matching right row exactly once (cold
    pairs in bucket 0, hot pairs in the left row's bucket), and an
    unmatched left row is null-extended once.

    ``hot`` is a frame holding (at least) the key columns of the hot
    keys; it is deduplicated and broadcast, so it must be small — a
    per-key count over a threshold is at most |left| / threshold rows.
    The caller computes it, typically from an aggregate it already
    has (the depth-3 miner derives one hot set from the base item
    table and passes it to both chained joins). ``hot=None`` salts
    every key: the blanket form, whose plan has no hot-set join and
    replicates the whole build side ×``salt_buckets`` — only worth it
    when the build side is small.

    AQE's skew-join split handles moderate skew at runtime; reach for
    explicit salting when one key exceeds what a single task can hold
    even after AQE splitting, or when the skew is known at build time.
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    keys = list(on)
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt_buckets)
    ).cast("int")
    if hot is None:
        # a literal flag, not a column: Catalyst folds both CASE WHENs
        # away, leaving exactly the blanket plan (a lit(True) column
        # would survive as an extra field of the build side's Generate)
        flag = F.lit(True)
    else:
        marks = F.broadcast(
            hot.select(*keys).distinct().withColumn("__is_hot", F.lit(True))
        )
        left = left.join(marks, on=keys, how="left")
        right = right.join(marks, on=keys, how="left")
        flag = F.col("__is_hot")
    l_salted = left.withColumn(
        "__salt", F.when(flag, salt).otherwise(F.lit(0))
    ).drop("__is_hot")
    r_salted = right.withColumn(
        "__salt",
        F.explode(
            F.when(
                flag, literal_array(list(range(salt_buckets)), "array<int>")
            ).otherwise(literal_array([0], "array<int>"))
        ),
    ).drop("__is_hot")
    return l_salted.join(
        r_salted, on=[*keys, "__salt"], how=how
    ).drop("__salt")


def range_join(
    left: DataFrame,
    right: DataFrame,
    *,
    equi_keys: Sequence[str],
    lo,
    hi,
    how: str = "inner",
) -> DataFrame:
    """Equi + range-predicate join (e.g. ship window around order date).

    Always carries at least one equi key so Catalyst plans a hash/SMJ
    join with the range as residual — never a cartesian product.
    """
    cond = None
    for k in equi_keys:
        c = left[k] == right[k]
        cond = c if cond is None else cond & c
    cond = cond & lo & hi
    return left.join(right, cond, how)


def bucket_proximity_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_ts: str,
    right_ts: str,
    window: int,
    how: str = "inner",
) -> DataFrame:
    """Temporal proximity join WITHOUT any natural equi key:
    ``|left_ts − right_ts| <= window`` over integer timestamps (µs).

    Without a key, Catalyst can only plan a pure inequality join as
    BroadcastNestedLoop/Cartesian — O(|L|·|R|) comparisons, the plan
    that dies first at scale. This operator SYNTHESIZES the equi key:
    the left side keys on its own bucket ``ts div window``; the right
    side explodes each row to the 2–3 consecutive buckets its
    ``[ts − window, ts + window]`` interval spans. Joining on the
    bucket makes every qualifying pair meet EXACTLY ONCE (the left
    row's bucket is a single value inside the exploded span — no
    post-join dedup needed), and the exact predicate runs as a
    residual filter on the hash/SMJ join.

    Scale: both sides shuffle ONCE on the bucket — linear in input,
    ~3× fan-out on the right. Bucket width = window keeps the
    exploded span minimal; a hot bucket (a traffic burst) is ordinary
    shuffle-key skew, handled by AQE's skew split (SCALING §skew).
    Integer ``div`` bucketing (never float division) keeps the
    bucket assignment exact and engine-portable for non-negative
    epochs — float division can round a just-below-boundary quotient
    up (see the pitfalls note in SCALING §sf1).

    Only inner/left-shaped joins are sound: the RIGHT side is the
    exploded one, so under right/full outer an unmatched right row
    would surface once PER exploded bucket (2–3 duplicate
    null-extended rows). Such ``how`` values are rejected; flip the
    operands to get right-outer semantics.
    """
    if window <= 0:
        raise ValueError(f"window must be positive, got {window}")
    allowed = {"inner", "left", "left_outer", "leftouter",
               "left_semi", "leftsemi", "left_anti", "leftanti", "cross"}
    if how.lower() not in allowed:
        raise ValueError(
            f"how={how!r} is unsound for bucket_proximity_join: the "
            "right side is exploded to 2-3 buckets, so right/full "
            "outer would emit each unmatched right row once per "
            "bucket. Use one of {inner, left(_outer), left_semi, "
            "left_anti, cross}, or swap the operands."
        )
    lb = left.withColumn("__bucket", F.expr(f"{left_ts} div {window}"))
    rb = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.expr(f"({right_ts} - {window}) div {window}"),
                F.expr(f"({right_ts} + {window}) div {window}"),
            )
        ),
    )
    joined = lb.join(
        rb,
        (lb["__bucket"] == rb["__bucket"])
        & (F.abs(lb[left_ts] - rb[right_ts]) <= F.lit(window)),
        how,
    )
    return joined.drop("__bucket")
