"""Vector-similarity operators: exact cosine (bit-reproducible),
brute-force top-k, random-hyperplane LSH bucketing for ANN.

Float-determinism contract: cosine/dot products are built as
LEFT-DEEP explicit sums over array elements (element i added in
order), which makes Spark's result BIT-IDENTICAL to an oracle that
evaluates the same left-deep expression — verified to 0 ulp against
DuckDB. Never use a float32 library kernel when the result feeds a
cross-engine comparison.

Scale notes: brute-force top-k is one scan + TakeOrderedAndProject
(fine vs a single query vector at any scale, since it's map-only +
k-row reduce). The pairwise brute-force join is O(N²) — correctness
baseline only; the LSH-bucketed variant is the 100 TB path (equi-join
on bucket id).
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import cache
from ..pyboundary import literal_array


def _fold_sum(products: Column) -> Column:
    """Left-to-right double-precision fold — the same addition order as
    an explicit left-deep ``t0 + t1 + ...`` sum, so results stay
    bit-identical to an oracle evaluating the unrolled expression,
    while the Spark expression tree stays O(1) instead of O(dim)
    (whole-stage codegen compiles in ms, not seconds, at dim=64+)."""
    return F.aggregate(products, F.lit(0.0), lambda acc, x: acc + x)


def dot_literal(col: str, vec: list[float]) -> Column:
    """Left-deep ⟨array_col, literal_vec⟩ in double precision."""
    lit_vec = literal_array([float(v) for v in vec], "array<double>")
    return _fold_sum(
        F.zip_with(F.col(col), lit_vec, lambda x, v: x.cast("double") * v)
    )


def dot_pair(col_a: str, col_b: str, dim: int) -> Column:
    """Left-deep ⟨a, b⟩ for two array columns."""
    return _fold_sum(
        F.zip_with(
            F.col(col_a),
            F.col(col_b),
            lambda x, y: x.cast("double") * y.cast("double"),
        )
    )


def norm_sq(col: str, dim: int) -> Column:
    return dot_pair(col, col, dim)


def cosine_literal(col: str, vec: list[float]) -> Column:
    """cos(array_col, literal_vec) — query-vector norm folded into a
    single literal so both engines divide by the same constant."""
    qnorm = float(np.sqrt(sum(float(v) * float(v) for v in vec)))
    return dot_literal(col, vec) / (
        F.sqrt(norm_sq(col, len(vec))) * F.lit(qnorm)
    )


def cosine_pair(col_a: str, col_b: str, dim: int) -> Column:
    return dot_pair(col_a, col_b, dim) / (
        F.sqrt(norm_sq(col_a, dim)) * F.sqrt(norm_sq(col_b, dim))
    )


def cosine_to_centroids_kernel(
    frame: DataFrame,
    cents: list[tuple[int, list[float]]],
    *,
    vec_col: str,
    keep: list[str],
    out_id: str = "cent_id",
    out_cos: str = "__cos",
) -> DataFrame:
    """cos(row_vec, cᵢ) for every row × every centroid, as ONE Arrow
    batch kernel emitting k rows per input row — replaces the
    ``crossJoin(broadcast(cents))`` + :func:`cosine_pair` shape whose
    three interpreted HOF folds per pair (dot + both norms, 3·dim
    lambda steps each) dominated the static-cell IVFADC assign stage
    (r14, guide §4.2; ~40 M fold steps at sf0.1).

    Bit-identical to the expression path by construction: every
    accumulator advances acc = acc + xⱼ·cⱼ one dimension per numpy
    step (vectorized across ROWS, sequential across dims — the
    poly_hash_channels_kernel discipline), which is exactly the
    0.0-seeded left-deep ``F.aggregate`` fold in IEEE double; float32
    inputs widen exactly; np.sqrt is the same correctly-rounded IEEE
    sqrt as the JVM's; and the final divide uses the identical
    operand order dot / (√na · √nb). Pinned equal to
    :func:`cosine_pair` in tests/test_operators.py.

    ``cents`` is the COLLECTED centroid table (id, vector) — bounded
    by k by contract (8 here), the same bounded-collect class as the
    kmeans state."""
    import pandas as pd  # noqa: F401  (pdf ops below)

    if not cents:
        raise ValueError(
            "cosine_to_centroids_kernel: empty centroid list — the "
            "centroid table produced no rows (filtered out, or the "
            "source table is missing/empty)"
        )
    dim = len(cents[0][1])
    C = np.array([c for _, c in cents], dtype=np.float64)
    ids = [int(i) for i, _ in cents]
    cn = np.zeros(len(ids))
    for j in range(dim):
        cn += C[:, j] * C[:, j]
    cn = np.sqrt(cn)

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            X = (
                np.array(pdf[vec_col].tolist(), dtype=np.float64)
                if n
                else np.zeros((0, dim))
            )
            na = np.zeros(n)
            for j in range(dim):
                na += X[:, j] * X[:, j]
            sna = np.sqrt(na)
            base = pdf[keep]
            for ci, cid in enumerate(ids):
                dot = np.zeros(n)
                c = C[ci]
                for j in range(dim):
                    dot += X[:, j] * c[j]
                out = base.copy()
                out[out_id] = np.full(n, cid, dtype=np.int64)
                out[out_cos] = dot / (sna * cn[ci])
                yield out

    keep_schema = ", ".join(
        f"`{c}` {frame.schema[c].dataType.simpleString()}" for c in keep
    )
    return frame.select(*keep, vec_col).mapInPandas(
        gen, schema=f"{keep_schema}, {out_id} bigint, {out_cos} double"
    )


def brute_force_topk(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    query: list[float],
    k: int,
) -> DataFrame:
    """Exact cosine top-k vs one query vector: map-side score +
    TakeOrderedAndProject (per-partition heap, k-row driver merge —
    no full sort, no shuffle of the data)."""
    scored = df.select(
        F.col(id_col), cosine_literal(vec_col, query).alias("cosine")
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def hyperplanes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic random hyperplanes, rounded to 6 dp so the same
    decimal literals parse to identical doubles in any engine."""
    rng = np.random.RandomState(seed)
    return [
        [round(float(x), 6) for x in rng.standard_normal(dim)]
        for _ in range(n_planes)
    ]


def lsh_bucket(col: str, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id: bit i = [⟨v, plane_i⟩ ≥ 0]. Same-bucket
    vectors are cosine-close with probability 1 - θ/π per plane."""
    acc = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        bit = F.when(dot_literal(col, p) >= 0, F.lit(1)).otherwise(F.lit(0))
        acc = acc + F.shiftleft(bit.cast("long"), i)
    return acc


def lsh_bucketed_topk(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    query: list[float],
    planes: list[list[float]],
    k: int,
) -> DataFrame:
    """ANN: score only the query's LSH bucket. At scale the bucket id
    is a partition/cluster key, so the scan prunes to one bucket."""
    qbits = 0
    for i, p in enumerate(planes):
        dot = sum(float(a) * float(b) for a, b in zip(query, p))
        qbits |= (1 if dot >= 0 else 0) << i
    bucketed = df.select(
        F.col(id_col),
        F.col(vec_col),
        lsh_bucket(vec_col, planes).alias("bucket"),
    )
    return (
        bucketed.filter(F.col("bucket") == qbits)
        .select(F.col(id_col), cosine_literal(vec_col, query).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def query_bits(query: list[float], planes: list[list[float]]) -> int:
    """The query vector's sign-bit bucket id (driver-side)."""
    bits = 0
    for i, p in enumerate(planes):
        dot = sum(float(a) * float(b) for a, b in zip(query, p))
        bits |= (1 if dot >= 0 else 0) << i
    return bits


def multiprobe_buckets(qbits: int, n_planes: int, radius: int = 1) -> list[int]:
    """The query bucket plus every bucket within Hamming distance
    ``radius`` of it — multi-probe LSH's probing sequence. A sign bit
    flips when the query lies close to that hyperplane, so Hamming-1
    neighbors are exactly the buckets a near-boundary true neighbor
    falls into; SCALING.md §ANN measures the recall this buys."""
    out = [qbits]
    if radius >= 1:
        out += [qbits ^ (1 << i) for i in range(n_planes)]
    if radius >= 2:
        out += [
            qbits ^ (1 << i) ^ (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    return out


def lsh_multiprobe_topk(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    query: list[float],
    planes: list[list[float]],
    k: int,
    radius: int = 1,
) -> DataFrame:
    """ANN with multi-probe LSH: score the query's bucket AND its
    Hamming-``radius`` neighbors. Single-probe recall decays fast with
    plane count (measured: 0.42 → 0.23 over 4 → 8 planes at 32k
    vectors, SCALING.md §ANN); probing the 1-flip neighbors recovers
    most of it for (n_planes+1)× the scanned buckets — still an
    exponentially small corpus fraction. At scale the bucket id is the
    partition key, so each probe is a pruned scan."""
    qb = query_bits(query, planes)
    probes = multiprobe_buckets(qb, len(planes), radius)
    bucketed = df.select(
        F.col(id_col),
        F.col(vec_col),
        lsh_bucket(vec_col, planes).alias("bucket"),
    )
    return (
        bucketed.filter(F.col("bucket").isin(probes))
        .select(F.col(id_col), cosine_literal(vec_col, query).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def kmeans_centroids(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int,
    iters: int = 3,
) -> list[list[float]]:
    """Spherical k-means centroids for IVF cell assignment.

    Honest measurement note (SCALING.md §ANN, both directions): on
    the probe's replica-clustered corpus Lloyd refinement REDUCES
    nprobe=1 recall versus corpus-vector seeding (k-means balances
    cell mass, dragging boundaries through dense regions — exactly
    what single-probe search pays for), while on the smooth
    quasi-random manifold it WINS (0.945 vs 0.875 at 32 cells).
    Centroid training must be validated against a held-out recall
    set per corpus; keep nprobe ≥ 2 as the insurance either way.

    Deterministic Lloyd iterations, Spark-shaped:

    - init: the k lowest-id vectors (reproducible; pass a
      hash-sampled frame for a uniform seed at corpus scale).
    - assign: cosine-vs-centroid as LITERAL dot products (centroids
      are k×dim driver-side constants — KB, the same bounded-driver
      contract as quantile cut points), argmax via
      array_position(array_max) so ties go to the lowest cell id.
    - update: per-cell elementwise means as ``dim`` column aggregates
      (``sum(embedding[i])``) in ONE hash aggregate — map-side
      partials, k rows out, NO posexplode row blowup; empty cells
      keep their centroid. Centroids are L2-normalized each round so
      the dot ranking stays a cosine ranking.

    Each iteration is one corpus scan + one k-row collect; total cost
    iters × (scan + tiny shuffle). Float caveat, honestly: partial-sum
    order makes centroid bits partition-dependent at ~1e-12 relative —
    assignments are robust to that, but this op is registered WITHOUT
    a value-exact oracle (the documented weaker rows-only check for
    iterative algorithms); the pinned guarantees are assignment-level
    determinism and measured recall, not centroid bit-equality.
    """
    import math

    seed = (
        df.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(k)
        .toPandas()[vec_col]
        .tolist()
    )
    cents = [[float(x) for x in v] for v in seed]

    def normalize(v: list[float]) -> list[float]:
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        return [x / n for x in v]

    cents = [normalize(c) for c in cents]
    for _ in range(iters):
        scores = F.array(*[dot_literal(vec_col, c) for c in cents])
        cell = F.expr(
            "array_position(__scores, array_max(__scores))"
        ).cast("int")
        agg = (
            df.select(F.col(vec_col), scores.alias("__scores"))
            .select(vec_col, cell.alias("__cell"))
            .groupBy("__cell")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                *[
                    F.sum(F.col(vec_col)[i]).alias(f"__s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        new = list(cents)
        for row in agg:
            c = row["__cell"] - 1  # array_position is 1-based
            n = row["__n"]
            new[c] = normalize([row[f"__s{i}"] / n for i in range(dim)])
        cents = new
    return cents


def quantize_expr(vec_col: str, scale: float) -> Column:
    """``round_half_up(x * scale)`` per element, as BIGINT — written as
    ``floor(x*scale + 0.5)`` because that exact formulation is engine-
    portable (Spark ROUND is HALF_UP, DuckDB's is not; FLOOR on an
    identical double is identical everywhere). ``scale`` must be a
    power of two so ``x * scale`` is exact."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(scale) + F.lit(0.5)).cast(
            "bigint"
        ),
    )


#: above this k the Lloyd assignment runs as an Arrow GEMM kernel
#: instead of a k-wide fold-expression array. r8 measured the
#: expression path faster for small k (the then-bottleneck was the
#: per-round codegen of literal trees); r14 re-measured after moving
#: the state into a broadcast 1-row relation: the fold expressions
#: are interpreted HigherOrderFunctions (~2*k*dim interpreted ops per
#: row), and the GEMM kernel wins 2x even at k=8 (3.8 s -> 1.8 s,
#: ann_ivf_kmeans_topk at sf0.1) — guide §4.2, vectorized native code
#: per batch. 0 = always kernel; the expression path stays available
#: (and bit-identical, pinned in test_operators.py) for plans that
#: must remain pure-JVM.
_KERNEL_MIN_K = 0


def kmeans_cells_exact(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int,
    iters: int = 3,
    scale: float = 1024.0,
    return_state: bool = False,
) -> "DataFrame | tuple[DataFrame, list[list[int]]]":
    """Deterministic Lloyd cell assignment with CROSS-ENGINE EXACT
    arithmetic — the trainer behind the value-exact
    ``ann_ivf_kmeans_topk`` differential.

    :func:`kmeans_centroids` is honest about its one leak: per-cell
    float means depend on partial-sum order, so centroid bits are
    partition-dependent at ~1e-12 and the query it backs could only be
    checked rows-only. This variant closes that leak by moving the
    ONLY order-sensitive reduction onto integers:

    - vectors are quantized once: ``q[i] = floor(x[i]·scale + 0.5)``
      as BIGINT (``scale`` a power of two ⇒ the product is exact, so
      both engines floor identical doubles);
    - a centroid is the pair (elementwise INTEGER SUM of member
      vectors, count) — integer addition commutes, so any partition
      order and any engine produce the SAME sums;
    - assignment ranks cells by the spherical score
      ``dot(q, S_c) / |S_c|`` (|v| is cell-invariant, so dividing by
      it cannot change the argmax), computed left-deep in double —
      identical inputs + identical op order ⇒ identical doubles ⇒
      identical argmax, with ties to the lowest cell id via
      array_position(array_max);
    - empty cells keep their previous (sum, count) state.

    Scale shape per iteration: one corpus scan + ONE hash aggregate
    (map-side partials, k rows out, no explode) + a k×(dim+1) driver
    collect — the same bounded-driver contract as quantile cut points.
    Returns ``df``'s rows with an added ``__cell`` column (1-based),
    persisted via cache.track since callers fan out from it. With
    ``return_state=True``, returns ``(frame, sums)`` where ``sums`` is
    the final per-cell integer-sum state (k lists of ``dim`` ints,
    1-based cell-id order) — the unnormalized centroid each row was
    assigned to, which consumers like prototype pruning score against.
    """
    q = cache.track(
        df.select(
            F.col(id_col),
            F.col(vec_col),
            quantize_expr(vec_col, scale).alias("__q"),
        )
    )
    seed = (
        q.select(id_col, "__q").orderBy(id_col).limit(k).toPandas()["__q"]
    )
    state = [[int(x) for x in v] for v in seed]  # per-cell integer sums

    spark = df.sparkSession

    # Two bit-identical assignment paths. Every operand is an INTEGER
    # (quantized vector x integer centroid sums) and every
    # intermediate stays far below 2^53 (|q_i| <= scale*|x|_max,
    # |S_ci| <= members*scale*|x|_max; products/sums ~1e12-1e14 for
    # realistic cells), so double arithmetic is EXACT and therefore
    # order-free: the left-deep fold, numpy's blocked dgemm, and the
    # oracle's SQL fold all yield the same doubles, the same
    # quotients, and the same argmax (ties -> lowest cell in both
    # array_position and np.argmax). The expression path keeps small-k
    # plans whole-stage-codegen'd; above _KERNEL_MIN_K the k-wide
    # fold-array expression hits the Catalyst analysis cliff (and the
    # r8 fold-vs-GEMM 7x gap), so assignment runs as one Arrow batch
    # kernel instead — pinned equal in test_operators.py.
    #
    # r14 optimization: the expression path used to inline the k x dim
    # centroid sums as LITERALS (dot_literal per cell) — ~k*dim F.lit
    # py4j calls per round AND a fresh codegen unit per round (the
    # literal values change, so the generated source changes). The
    # state now rides as a broadcast 1-row LocalRelation and the score
    # folds reference it as data: plan/codegen are IDENTICAL across
    # rounds (cache hits), construction is one createDataFrame call.
    # Arithmetic is unchanged operation-for-operation: per element
    # cast-to-double multiply, 0.0-seeded left-deep fold, divide by
    # sqrt of the s·s fold (0.0 + x0 == x0, float(int) == cast-to-
    # double for |v| < 2^53) — identical doubles, identical argmax.
    def _score_cells(s: Column) -> Column:
        dot = F.aggregate(
            F.zip_with(
                F.col("__q"),
                s,
                lambda x, v: x.cast("double") * v.cast("double"),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        nrm = F.aggregate(
            F.zip_with(
                s, s, lambda a, b: a.cast("double") * b.cast("double")
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        return dot / F.sqrt(nrm)

    def with_cell(frame: DataFrame, keep: list[str]) -> DataFrame:
        if k <= _KERNEL_MIN_K:
            state_row = spark.createDataFrame(
                [([list(s) for s in state],)],
                schema=T.StructType(
                    [
                        T.StructField(
                            "__S",
                            T.ArrayType(T.ArrayType(T.LongType())),
                        )
                    ]
                ),
            )
            return (
                frame.crossJoin(F.broadcast(state_row))
                .select(
                    *keep,
                    F.transform(F.col("__S"), _score_cells).alias(
                        "__scores"
                    ),
                )
                .select(
                    *keep,
                    F.expr("array_position(__scores, array_max(__scores))")
                    .cast("int")
                    .alias("__cell"),
                )
            )
        S = np.array(state, dtype=np.float64)
        norms = np.sqrt((S * S).sum(axis=1))

        def assign(batches):
            for pdf in batches:
                if len(pdf):
                    Q = np.array(pdf["__q"].tolist(), dtype=np.float64)
                    cells = ((Q @ S.T) / norms).argmax(axis=1) + 1
                else:
                    cells = np.empty(0, dtype=np.int64)
                yield pdf.assign(__cell=cells.astype("int32"))[
                    keep + ["__cell"]
                ]

        out_schema = ", ".join(
            f"`{c}` {frame.schema[c].dataType.simpleString()}"
            for c in keep
        )
        return frame.mapInPandas(
            assign, schema=f"{out_schema}, __cell int"
        )

    # Column objects are immutable — build the k x dim sum expressions
    # once and reuse them every round (they cost ~2*dim py4j calls).
    # Only the expression path uses them; the kernel path's training
    # rounds never leave numpy (see _train_round_kernel below).
    sum_exprs = (
        [F.sum(F.col("__q")[i]).alias(f"__s{i}") for i in range(dim)]
        if k <= _KERNEL_MIN_K
        else []
    )

    def _train_round_kernel() -> list[list[int]]:
        """One Lloyd round as a single narrow job: each partition
        assigns its rows with the SAME float64 GEMM the kernel
        assignment path uses, accumulates per-cell integer partial
        sums in numpy, and emits only (cell, k-vector) rows — the
        map-side partial aggregation of guide §2.3, with no exchange
        and no k×dim-wide JVM aggregate. Integer sums are exact and
        order-free, so merging partition partials on the driver gives
        bit-identically the sums the SQL ``groupBy(__cell).agg(sum)``
        produced (pinned against the expression path in
        tests/test_operators.py)."""
        S = np.array(state, dtype=np.float64)
        norms = np.sqrt((S * S).sum(axis=1))

        def partials(batches):
            import pandas as pd

            acc = np.zeros((k, dim), dtype=np.int64)
            touched = np.zeros(k, dtype=bool)
            for pdf in batches:
                if not len(pdf):
                    continue
                Q = np.array(pdf["__q"].tolist(), dtype=np.float64)
                cells = ((Q @ S.T) / norms).argmax(axis=1)
                np.add.at(acc, cells, Q.astype(np.int64))
                touched[cells] = True
            idx = np.nonzero(touched)[0]
            if len(idx):
                yield pd.DataFrame(
                    {
                        "__cell": (idx + 1).astype("int32"),
                        "__s": [acc[i].tolist() for i in idx],
                    }
                )

        rows = q.select("__q").mapInPandas(
            partials, "__cell int, __s array<long>"
        ).collect()
        new = [list(s) for s in state]
        totals: dict[int, np.ndarray] = {}
        for row in rows:
            c = row["__cell"] - 1
            arr = np.array(row["__s"], dtype=np.int64)
            totals[c] = arr if c not in totals else totals[c] + arr
        for c, arr in totals.items():
            new[c] = [int(x) for x in arr]
        return new

    for _ in range(iters):
        if k > _KERNEL_MIN_K:
            state = _train_round_kernel()
            continue
        agg = (
            with_cell(q.select("__q"), ["__q"])
            .select("__cell", "__q")
            .groupBy("__cell")
            .agg(*sum_exprs)
            .collect()
        )
        new = list(state)
        for row in agg:
            new[row["__cell"] - 1] = [row[f"__s{i}"] for i in range(dim)]
        state = new
    assigned = cache.track(with_cell(q, [id_col, vec_col]))
    if return_state:
        # the final per-cell integer centroid sums (1-based cell id
        # order) — consumers like prototype pruning need the centroid
        # each row was assigned to, not just the assignment
        return assigned, state
    return assigned


def neardup_pairs_gemm(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float,
    eps: float = 1e-9,
    max_build_rows: int = 1_000_000,
    same_col: str | None = None,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold via GEMM tiles + exact
    re-verification — same output as :func:`neardup_pairs_bruteforce`,
    orders of magnitude faster.

    Stage 1 (candidates): the build side is gathered like a broadcast-
    join build side (numpy matrix, sc.broadcast); each partition of the
    probe side computes an Arrow-batched ``A @ Bᵀ`` and emits pairs
    scoring ≥ threshold−eps. float64 GEMM differs from left-deep
    summation by ≲1e-13 at dim≈64, so the eps band loses nothing.
    Stage 2 (exact): candidates — a tiny set — are re-scored with the
    left-deep expression arithmetic and filtered at the true threshold,
    making the output bit-identical to the brute-force/oracle result.

    When the build side exceeds ``max_build_rows`` (the 100 TB case),
    it is SHARDED: rows are split into ``ceil(n / max_build_rows)``
    hash blocks (``pmod(xxhash64(id), n_blocks)``), each block is
    gathered, broadcast, and swept against the FULL probe side exactly
    like the single-broadcast path, and the per-block candidate sets
    are unioned. Every (a, b) pair lands in exactly one block — the
    one holding b — so the union is a partition of the unsharded
    candidate set: byte-identical output, bounded driver/executor
    memory. Each block's candidates are checkpointed
    (``cache.checkpoint``) and materialized by one noop-sink write
    before the next block's matrix is broadcast, so peak executor
    footprint is ONE block matrix regardless of block count; on a real
    cluster swap the local checkpoint for a checkpoint dir or a
    parquet spill of the (tiny) candidate ids.

    ``same_col`` (optional) restricts pairs to rows AGREEING on that
    column (e.g. a k-means cell id): the equality test rides the
    stage-1 numpy mask, so blocked variants — SemDeDup within-cell
    compare, partition-scoped dedup — reuse the same kernel and pay
    nothing for the pairs they exclude.
    """
    spark = df.sparkSession
    id_type = df.schema[id_col].dataType.simpleString()
    cut = threshold - eps

    def _block_candidates(side) -> DataFrame | None:
        """Stage-1 sweep of the full probe side vs one gathered build
        block (pandas DataFrame) — the single-broadcast kernel.

        r14: rows are L2-normalized BEFORE the GEMM, so the product IS
        the cosine — the old ``(A @ Bᵀ) / np.outer(na, nb)`` built two
        extra |A|×|B| float64 temporaries (the outer-norm matrix and
        the divided copy) per batch, and the id / same-col masks two
        more |A|×|B| booleans; at 10k×20k that was ~5.4 GB of
        first-touch allocation per batch vs ~1.8 GB now (one score
        matrix + one boolean), and the elementwise passes over 200M
        elements dominated the sweep on bandwidth-limited hosts. The
        id/cell tests now run on the (tiny) 1-D nonzero survivors.
        Candidate-set semantics are unchanged: stage 1 was always the
        eps-banded approximate generator (the exact stage-2 re-score
        decides membership), pre-normalizing moves each score by
        ~1e-15 relative — six orders inside the 1e-9 band — and the
        keep conditions are the same predicates applied after, not
        during, the score threshold."""
        if len(side) == 0:
            return None
        ids_b = side[id_col].to_numpy()
        B = np.stack(side[vec_col].to_numpy()).astype(np.float64)
        nb = np.sqrt((B * B).sum(axis=1))
        # a zero-norm build row divides 0/0 here; keep the driver log
        # clean (NaN rows never pass cut, so output is unchanged)
        with np.errstate(divide="ignore", invalid="ignore"):
            Bn = B / nb[:, None]
        blk_b = side[same_col].to_numpy() if same_col else None
        bc = spark.sparkContext.broadcast((ids_b, Bn, blk_b))

        def gen(batches):
            import pandas as pd

            ids_b_, Bn_, blk_b_ = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                A = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                ida = pdf[id_col].to_numpy()
                na = np.sqrt((A * A).sum(axis=1))
                S = (A / na[:, None]) @ Bn_.T
                ia, ib = np.nonzero(S >= cut)
                keep = ida[ia] < ids_b_[ib]
                if blk_b_ is not None:
                    blk_a = pdf[same_col].to_numpy()
                    keep &= blk_a[ia] == blk_b_[ib]
                ia, ib = ia[keep], ib[keep]
                yield pd.DataFrame({"id_a": ida[ia], "id_b": ids_b_[ib]})

        cols = [id_col, vec_col] + ([same_col] if same_col else [])
        return df.select(*cols).mapInPandas(
            gen, f"id_a {id_type}, id_b {id_type}"
        )

    # the build side is gathered to the driver like a broadcast-join
    # build side. Branch on count() FIRST (a cheap columnar count, no
    # vector transfer) so the oversized case never pays a discarded
    # max_build_rows-vector gather; EVERY toPandas below is bounded
    # with limit(bound + 1) so even pathological id skew cannot pull
    # an unbounded block onto the driver before the guard fires.
    probe = df.select(
        *([id_col, vec_col] + ([same_col] if same_col else []))
    )
    n = probe.count()
    if n <= max_build_rows:
        cand = _block_candidates(probe.toPandas())
        if cand is None:
            return (
                df.select(
                    F.col(id_col).alias("id_a"),
                    F.col(id_col).alias("id_b"),
                    F.lit(0.0).alias("cosine"),
                ).limit(0)
            )
    else:
        n_blocks = -(-n // max_build_rows)
        block_of = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
        block_cap = max_build_rows * 2  # near-uniform hash + headroom
        parts = []
        for b in range(n_blocks):
            side_b = (
                probe.filter(block_of == b).limit(block_cap + 1).toPandas()
            )
            if len(side_b) > block_cap:
                # the limit above already bounded the gather; this
                # only trips on pathological id distributions
                raise ValueError(
                    f"gemm shard {b} holds > {block_cap} rows "
                    f"(2×max_build_rows={max_build_rows}); ids hash "
                    "non-uniformly — raise max_build_rows or re-key"
                )
            cand_b = _block_candidates(side_b)
            if cand_b is not None:
                # materialize NOW so this block's broadcast matrix can
                # leave executor memory before the next one arrives
                part = cache.checkpoint(cand_b)
                part.write.format("noop").mode("overwrite").save()
                parts.append(part)
        if not parts:
            return (
                df.select(
                    F.col(id_col).alias("id_a"),
                    F.col(id_col).alias("id_b"),
                    F.lit(0.0).alias("cosine"),
                ).limit(0)
            )
        cand = reduce(DataFrame.unionAll, parts)
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.sqrt(norm_sq(vec_col, dim)).alias("na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.sqrt(norm_sq(vec_col, dim)).alias("nb"),
    )
    return (
        cand.join(a, on="id_a")
        .join(b, on="id_b")
        .select(
            "id_a",
            "id_b",
            (dot_pair("va", "vb", dim) / (F.col("na") * F.col("nb"))).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )


def neardup_pairs_bruteforce(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float,
) -> DataFrame:
    """All vector pairs with cosine ≥ threshold — O(N²) cross join;
    the exactness baseline that verifies the LSH path.

    Norms are computed once per ROW before the join (N sqrt's, not
    N²·3 dot products per pair), and the cosine expression is aliased
    before the threshold filter so it's evaluated once per pair.
    """
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.sqrt(norm_sq(vec_col, dim)).alias("na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.sqrt(norm_sq(vec_col, dim)).alias("nb"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot_pair("va", "vb", dim) / (F.col("na") * F.col("nb"))).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )
