"""Deduplication operators for LLM data pipelines (SURVEY §7 E):
exact, keyed, exact n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each variant):
- exact/keyed: one hash-aggregate shuffle on the dedup key.
- exact Jaccard join: shuffles on *shingle* — correct but quadratic
  in per-shingle document frequency; fine for verification, not the
  100 TB path.
- MinHash+LSH: the 100 TB path. Signatures are one agg over exploded
  shingles (map-side combined); banding turns the similarity join
  into an equi-join on (band, band_hash) so only true candidates
  meet; exact Jaccard then verifies candidates only. Tune
  (n_hashes, bands) for the τ S-curve: P(candidate) = 1-(1-s^r)^b.
- SimHash: 64-bit signature whose Hamming distance tracks cosine/
  token similarity; chunk-match banding finds candidates with ≤k
  differing bits without a quadratic scan.

All expression-level (xxhash64 / explode / agg) — no Python UDFs.
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import cache
from .text import hashed_shingles, shingles

# Prime > 2^32 for affine MinHash permutations over 32-bit base hashes.
_MERSENNE_P = 4294967311
_HASH_SPACE = 4294967296  # 2^32


def exact_dedup(
    df: DataFrame, key_cols: Sequence[str], *, tiebreak: str
) -> DataFrame:
    """Keep exactly one row per key — the one with MIN(tiebreak).

    Deterministic (unlike ``dropDuplicates``, which keeps an arbitrary
    row). One shuffle; at scale pre-partition by the key.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(tiebreak).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def minhash_permutations(n_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic affine permutation params (a, b); a < 2^30 keeps
    a*h + b within int64 for 32-bit base hashes."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 30), rng.randrange(0, 1 << 30))
        for _ in range(n_hashes)
    ]


def minhash_signatures(
    sh: DataFrame,
    *,
    id_col: str,
    n_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """MinHash signature per document from a (id, shingle) table.

    One groupBy(id) with n_hashes conditional MIN aggregates over the
    affine-permuted 32-bit base hash — map-side partial aggregation
    means the shuffle carries signatures, not shingles.
    """
    # sh is a hashed (id, h) table; reduce to the 32-bit base space
    # once — the 64 MIN aggs then reuse one long column.
    hashed = sh.select(id_col, F.pmod(F.col("h"), F.lit(_HASH_SPACE)).alias("__h"))
    perms = minhash_permutations(n_hashes, seed)
    # one PARSED expression per hash instead of ~8 Column-method py4j
    # round trips each (r14 guide §4.1): `a`/`b` are < 2^30 so they
    # parse as INT literals exactly like F.lit(a) constructed them,
    # and the prime exceeds 2^31 so it parses as BIGINT like
    # F.lit(_MERSENNE_P) — the Catalyst trees (and results) are
    # identical, only driver-side construction latency changes.
    aggs = [
        F.expr(f"min(pmod(__h * {a} + {b}, {_MERSENNE_P}))").alias(f"mh_{i}")
        for i, (a, b) in enumerate(perms)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def lsh_band_buckets(
    sig: DataFrame, *, id_col: str, bands: int, rows: int
) -> DataFrame:
    """(id, band_idx, band_hash) bucket rows from a signature table —
    the join key surface of banded LSH, and the ROW FORMAT of the
    persisted incremental state (:class:`LshDedupState`): ``bands``
    fixed-width rows per document, so state size is linear in corpus
    size and independent of document length."""
    band_cols = [
        F.struct(
            F.lit(i).alias("band_idx"),
            F.xxhash64(*[f"mh_{i * rows + j}" for j in range(rows)]).alias(
                "band_hash"
            ),
        )
        for i in range(bands)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("b")
    ).select(id_col, "b.band_idx", "b.band_hash")


def lsh_candidate_pairs(
    sig: DataFrame, *, id_col: str, bands: int, rows: int
) -> DataFrame:
    """Banded LSH: docs sharing any band hash become candidate pairs
    (id_a < id_b). The similarity join reduces to an equi-join on
    (band_idx, band_hash) — linear shuffle, no quadratic scan."""
    buckets = lsh_band_buckets(sig, id_col=id_col, bands=bands, rows=rows)
    a = buckets.toDF("id_a", "band_idx", "band_hash")
    b = buckets.toDF("id_b", "band_idx", "band_hash")
    return (
        a.join(b, on=["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_on_pairs(
    pairs: DataFrame, sh: DataFrame, *, id_col: str
) -> DataFrame:
    """Exact Jaccard for given candidate (id_a, id_b) pairs against a
    (id, shingle) table (one row per DISTINCT per-doc shingle, the
    hashed_shingles contract) → (id_a, id_b, jaccard).

    Shape (r14, guide §2.3 "shuffle keys, not payloads"): each doc's
    shingle set rides as ONE sorted-array row (groupBy(id) — map-side
    partial aggregation, the same exchange the old sizes aggregate
    paid), and both arrays attach to a candidate pair by two joins of
    the SMALL pair set against that per-doc table; the intersection
    count is a map-side ``array_intersect`` — the triangle_counts
    edge-iterator idiom. The old shape instead joined the candidate
    set against the full (id, shingle) table twice, shuffling
    |pairs| × |doc shingles| intermediate rows on (id_b, h) plus the
    per-pair count aggregate — three corpus-scale exchanges this
    removes outright. Arithmetic is unchanged: c, n_a, n_b are the
    identical integers (per-doc shingles are distinct by contract),
    and c/(n_a + n_b − c) evaluates the same double either way. The
    per-row memory bound is one doc's shingle array — the winnowing /
    triangle adjacency envelope, fine wherever a document itself fits
    in a task."""
    arrs = sh.groupBy(id_col).agg(
        F.sort_array(F.collect_set("h")).alias("__sh")
    )
    a = arrs.toDF("id_a", "__sh_a")
    b = arrs.toDF("id_b", "__sh_b")
    joined = (
        pairs.join(a, on="id_a")
        .join(b, on="id_b")
        .withColumn(
            "__c", F.size(F.array_intersect("__sh_a", "__sh_b"))
        )
    )
    return joined.select(
        "id_a",
        "id_b",
        (
            F.col("__c")
            / (F.size("__sh_a") + F.size("__sh_b") - F.col("__c"))
        ).alias("jaccard"),
    )


def exact_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard similarity self-join (no LSH): all pairs
    sharing ≥1 shingle, filtered to jaccard ≥ threshold.

    The verification oracle for MinHash-LSH; at 100 TB use
    :func:`minhash_lsh_dedup_pairs` instead (this one shuffles every
    shingle co-occurrence).
    """
    # the shingle table feeds sizes, the df≥2 prune, AND both sides
    # of the self-join — persist it or the tokenize/hash/distinct
    # lineage re-executes once per branch (4×, seen in profiles).
    sh = (
        cache.track(
            hashed_shingles(df, id_col=id_col, text_col=text_col, n=n)
            .toDF("id", "h")
        )
    )
    # count common shingles directly off the shingle self-join — one
    # shuffle-join + one agg, instead of distinct-pairs then two more
    # shingle joins (3× the work, seen in profiles). Shingles appearing
    # in a single document (the vast majority) cannot produce a pair;
    # pruning them before the self-join cuts its input by ~the unique-
    # shingle fraction while sizes stay exact (computed pre-prune).
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    shared = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
        .select("h")
    )
    sh2 = sh.join(shared, on="h")
    common = (
        sh2.toDF("h", "id_a")
        .join(sh2.toDF("h", "id_b"), on="h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    na = sizes.toDF("id_a", "n_a")
    nb = sizes.toDF("id_b", "n_b")
    return (
        common.join(na, on="id_a")
        .join(nb, on="id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("c") / (F.col("n_a") + F.col("n_b") - F.col("c"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard self-join via PREFIX FILTERING (AllPairs /
    PPJoin family — Bayardo et al. WWW'07, Xiao et al. WWW'08): an
    EXACT candidate generator, unlike MinHash-LSH's probabilistic one.

    Order every document's shingles by a single global order —
    ascending document frequency, rarest first (ties by hash). For
    J(x,y) ≥ τ the overlap is o ≥ τ·|x∪y| ≥ ⌈τ·|x|⌉, and the standard
    prefix lemma says two sets with overlap ≥ o must share a token
    inside their first (size − o + 1) tokens under ANY common global
    order. So joining only the first |x| − ⌈τ·|x|⌉ + 1 tokens of each
    document (the 20% rarest at τ=0.8) finds every qualifying pair —
    recall is exactly 1, by construction, so the verified output
    equals the exact pair set and shares `ngram_jaccard_pairs`'
    oracle. The ⌈τ·|x|⌉ is computed as ``ceil(τ·n − 1e-9)``: the
    epsilon keeps binary-float τ from overshooting at exact multiples
    (0.8·5 = 4.0000000000000002 would ceil to 5, silently SHORTENING
    the prefix and breaking the recall guarantee); erring low only
    lengthens the prefix — extra candidates, never a miss.

    Scale: the self-join input shrinks from every shingle occurrence
    (`exact_jaccard_pairs`) to the per-doc prefix, and the
    rarest-first order makes those prefix tokens the LOW-df ones —
    the join's per-key fan-out is quadratic in df, so pushing
    prefixes toward df≈1 collapses the candidate blow-up the way a
    frequency-ordered inverted index does. One extra df aggregation
    + one per-doc window (bounded by doc shingle count) buys it.

    Candidates then pass two EXACT pre-verify prunes (both only ever
    drop pairs that cannot reach τ): the AllPairs size filter
    (min(|A|,|B|) ≥ τ·max) and the PPJoin positional filter —
    1 + min(|A| − r_A, |B| − r_B) ≥ τ/(1+τ)·(|A|+|B|), where
    (r_A, r_B) are the ranks of the earliest shared prefix token —
    before the exact intersection verifies the survivors via per-doc
    sorted shingle arrays (map-side ``array_intersect``).
    """
    sh = cache.track(
        hashed_shingles(df, id_col=id_col, text_col=text_col, n=n).toDF(
            "id", "h"
        )
    )
    # one per-doc aggregate serves sizes AND the verify arrays (r14:
    # was a separate count aggregate + a twice-joined (id, h) verify) —
    # per-doc shingles are distinct by the hashed_shingles contract,
    # so size(__sh) is the same integer the count aggregate produced
    arrs = cache.track(
        sh.groupBy("id").agg(F.sort_array(F.collect_set("h")).alias("__sh"))
    )
    sizes = arrs.select("id", F.size("__sh").alias("n"))
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        sh.join(dfreq, on="h")
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("id").orderBy("df", "h")
            ),
        )
        .join(sizes, on="id")
    )
    # prefix rows carry (rank, size) so the candidate aggregate below
    # yields the positional/size-filter operands for free — no
    # post-hoc size joins (r14 second pass paid two)
    prefix = ranked.filter(
        F.col("r")
        <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9)) + 1
    ).select("id", "h", "r", "n")
    # candidate pairs: one h-keyed self-join + one pair-keyed
    # aggregate (replaces .distinct() — same exchange). min(r) on each
    # side is attained at the EARLIEST shared prefix token in the
    # global (df, h) order (ranks are order-consistent across docs),
    # which is what the positional filter needs.
    pa = prefix.toDF("id_a", "h", "r_a", "n_a")
    pb = prefix.toDF("id_b", "h", "r_b", "n_b")
    cand = (
        pa.join(pb, on="h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.min("r_a").alias("ra"), F.min("r_b").alias("rb"))
    )
    # SIZE FILTER (AllPairs, exact): J(A,B) ≥ τ forces
    # |A∩B| ≥ τ·max(|A|,|B|) and |A∩B| ≤ min(|A|,|B|), so any
    # qualifying pair satisfies min ≥ τ·max (r14: 118k → 43k
    # candidates at sf0.1).
    # POSITIONAL FILTER (PPJoin, Xiao et al. WWW'08, exact): let t be
    # the earliest shared prefix token, at ranks (ra, rb). No shared
    # token precedes t in the global order (it would be in BOTH
    # prefixes — prefixes are the lowest-ranked tokens — and would
    # have matched earlier), so the overlap is at most
    # 1 + min(n_a − ra, n_b − rb) (t itself plus everything after t
    # on the smaller remaining side). J ≥ τ needs overlap ≥
    # τ/(1+τ)·(n_a+n_b); candidates whose upper bound falls short can
    # never pass the final jaccard filter. Both 1e-9 guards keep
    # binary-float τ from overshooting at exact multiples — erring
    # low only keeps extra candidates, never drops one.
    sized = cand.filter(
        (
            F.least("n_a", "n_b").cast("double")
            >= F.lit(threshold)
            * F.greatest("n_a", "n_b").cast("double")
            - F.lit(1e-9)
        )
        & (
            (
                F.lit(1)
                + F.least(
                    F.col("n_a") - F.col("ra"), F.col("n_b") - F.col("rb")
                )
            ).cast("double")
            >= F.lit(threshold / (1.0 + threshold))
            * (F.col("n_a") + F.col("n_b")).cast("double")
            - F.lit(1e-9)
        )
    )
    # verify: each doc's shingle set rides as ONE sorted-array row and
    # attaches to the SMALL candidate set by two pair-keyed joins; the
    # intersection counts map-side (the jaccard_on_pairs idiom) —
    # replaces the (id_b, h)-keyed join of |pairs| × |doc shingles|
    # rows + per-pair count aggregate. c is the identical integer, so
    # c/(n_a + n_b − c) is the identical double.
    a = arrs.toDF("id_a", "__sh_a")
    b = arrs.toDF("id_b", "__sh_b")
    common = (
        sized.join(a, on="id_a")
        .join(b, on="id_b")
        .withColumn("c", F.size(F.array_intersect("__sh_a", "__sh_b")))
    )
    return common.select(
        "id_a",
        "id_b",
        (F.col("c") / (F.col("n_a") + F.col("n_b") - F.col("c"))).alias(
            "jaccard"
        ),
    ).filter(F.col("jaccard") >= threshold)


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    n_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs: shingle → MinHash → LSH bands → exact-
    Jaccard verification of candidates only (≥ threshold).

    With rows = n_hashes/bands = 4: P(candidate at s=0.8) ≈ 1-(1-0.41)^16
    ≈ 0.9998; at s=0.3 ≈ 0.12 — the S-curve that makes 100 TB dedup
    tractable. Output is exact (verified), LSH only prunes.
    """
    rows = n_hashes // bands
    # persist shared intermediates: sh feeds signatures + verify (3
    # branches), sig feeds both sides of the banding self-join.
    sh = (
        cache.track(
            hashed_shingles(df, id_col=id_col, text_col=text_col, n=n)
            .toDF("id", "h")
        )
    )
    sig = cache.track(
        minhash_signatures(sh, id_col="id", n_hashes=n_hashes, seed=seed)
    )
    cand = lsh_candidate_pairs(sig, id_col="id", bands=bands, rows=rows)
    return jaccard_on_pairs(cand, sh, id_col="id").filter(
        F.col("jaccard") >= threshold
    )


def winnow_fingerprints(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Winnowed rolling-hash document fingerprints → (id, fp).

    Winnowing (Schleimer et al., SIGMOD 2003 — the MOSS algorithm):
    hash every word k-gram, slide a window of ``w`` consecutive hashes,
    keep each window's minimum. Guarantees any shared run of at least
    ``w + k - 1`` tokens yields a shared fingerprint, while storing
    only ~2/(w+1) of the k-gram hashes — the local-fingerprint
    counterpart to MinHash's global signature.

    Entirely map-side: the ordered k-gram hash sequence and the
    per-window minima are array expressions inside ONE projection
    (``transform(sequence(...))`` + ``array_min(slice(...))``), so the
    first shuffle in any consumer is the fingerprint equi-join itself.
    Docs shorter than ``k`` tokens fall back to one whole-text hash;
    hash sequences shorter than ``w`` winnow to their single minimum.
    """
    from .text import _spread, tokens

    toks = _spread(df).select(F.col(id_col), tokens(text_col).alias("__toks"))
    hashes = toks.select(
        id_col,
        F.when(
            F.size("__toks") >= k,
            F.expr(
                f"transform(sequence(0, size(__toks) - {k}),"
                f" i -> xxhash64(concat_ws(' ', slice(__toks, i + 1, {k}))))"
            ),
        )
        .otherwise(F.array(F.xxhash64(F.concat_ws(" ", F.col("__toks")))))
        .alias("__hs"),
    )
    wins = hashes.select(
        id_col,
        F.when(
            F.size("__hs") > w,
            F.expr(
                f"transform(sequence(0, size(__hs) - {w}),"
                f" j -> array_min(slice(__hs, j + 1, {w})))"
            ),
        )
        .otherwise(F.array(F.array_min("__hs")))
        .alias("__wins"),
    )
    # explode_outer + post-filter: an inner explode would let
    # InferFiltersFromGenerate re-inline the whole k-gram + window-min
    # chain into the scan filter (double evaluation per document); see
    # operators/text.py::shingles for the full explanation.
    return wins.select(
        id_col, F.explode_outer(F.array_distinct("__wins")).alias("fp")
    ).where(F.col("fp").isNotNull())


def winnow_dedup_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 5,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup pairs by winnowed-fingerprint candidates + exact
    verification: docs sharing any winnowed fingerprint meet in an
    equi-join (linear shuffle on fp, like LSH banding), then exact
    n-gram Jaccard filters to ≥ threshold.

    Same contract as :func:`minhash_lsh_dedup_pairs`; winnowing's
    guarantee is substring-shaped (any shared ≥ w+k-1 token run is
    caught) where MinHash's is set-shaped, so it excels on documents
    that embed long verbatim spans."""
    fps = winnow_fingerprints(
        df, id_col=id_col, text_col=text_col, k=k, w=w
    ).toDF("id", "fp")
    # fingerprints present in a single doc can't form a pair — prune
    # before the self-join. A count-over-window does it in the SAME
    # shuffle that keys the self-join (one Exchange on fp total),
    # where the exact_jaccard_pairs-style agg+join-back pays a second
    # full pass over the fingerprint table.
    fp2 = cache.track(
        fps.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
        )
        .filter(F.col("__df") >= 2)
        .select("fp", "id")
    )
    cand = (
        fp2.toDF("fp", "id_a")
        .join(fp2.toDF("fp", "id_b"), on="fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # no track needed since the r14 array rewrite: jaccard_on_pairs
    # now embeds sh exactly once (the per-doc array aggregate), so the
    # tokenize/shingle pipeline runs once per action unpersisted
    sh = hashed_shingles(df, id_col=id_col, text_col=text_col, n=n).toDF(
        "id", "h"
    )
    return jaccard_on_pairs(cand, sh, id_col="id").filter(
        F.col("jaccard") >= threshold
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    *,
    id_col: str = "id",
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by min-label propagation + pointer
    jumping: every node ends with ``cluster_id`` = the smallest id
    reachable through ``pairs`` edges. The clustering step that turns
    near-dup PAIRS into dedup GROUPS (keep one per cluster).

    Iterative Spark: each round joins labels across edges and takes
    the min, then replaces each label by its label's label — pointer
    jumping over the label map (a self-join on the SMALL label table,
    not the edge set), which collapses
    chain-shaped components in O(log diameter) rounds instead of
    O(diameter): labels only ever decrease (min with own id included),
    so label(label(v)) ≤ label(v) and the combined step keeps the same
    fixpoint, the per-component min id. Near-dup clusters are usually
    cliques (1-2 rounds either way); pointer jumping is what makes
    adversarial long-path graphs — transitive chains of pairwise
    near-dups — converge (measured in SCALING.md §connected
    components). ``cache.checkpoint`` truncates lineage so plans don't
    grow per round, and ``cache.converge`` frees each superseded
    round. Early-exits when a round changes nothing; RAISES if
    ``max_iter`` rounds pass without convergence rather than
    returning silently-wrong labels (rounds grow ~log2(diameter)).
    ``stats``, if given, receives ``{"rounds": n}``.
    """
    # The checkpoint (materialized by the count) runs the pair
    # computation ONCE and truncates the logical plan — without
    # truncation every round re-ANALYZES the whole upstream MinHash
    # lineage in Catalyst (driver-side planning grows per round and
    # dominates: measured ~2 s/round on a 256-edge graph with
    # persist() alone, which caches execution but keeps the full
    # logical plan).
    edges, n_edges = cache.materialize(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    # Size the propagation partitioning from the MEASURED edge count:
    # AQE can't coalesce across checkpoint boundaries, so a tiny graph
    # would otherwise pay spark.sql.shuffle.partitions-task shuffles
    # every round. ~500k edges/partition, capped at the cluster's
    # parallelism so huge graphs still fan out.
    parallelism = pairs.sparkSession.sparkContext.defaultParallelism
    n_parts = max(1, min(parallelism, n_edges // 500_000 + 1))
    if n_parts != edges.rdd.getNumPartitions():
        edges = cache.checkpoint(edges.repartition(n_parts, "dst"))
    # propagate only over nodes that HAVE edges — singletons (the vast
    # majority of a deduped corpus) can't change label and rejoin at
    # the end via coalesce. The first round's count materializes this
    # checkpoint and the repartitioned edges.
    first = cache.checkpoint(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    label_type = first.schema["label"].dataType

    def step(state: DataFrame) -> tuple[DataFrame, bool]:
        # one aggregation carries BOTH the propagated min-label and the
        # node's previous label (tagged rows), so the convergence count
        # is the same job that materializes the round — no separate
        # old-vs-new join. The explicit repartition(n_parts, id) feeds
        # the agg already hash-partitioned on the grouping key, so
        # EnsureRequirements inserts no further exchange: the round's
        # one shuffle has n_parts tasks.
        labels = state.select("id", "label")
        own = labels.select("id", "label", F.col("label").alias("own"))
        prop = (
            edges.join(labels, edges.dst == labels.id)
            .select(
                F.col("src").alias("id"),
                "label",
                F.lit(None).cast(label_type).alias("own"),
            )
        )
        rolled = (
            own.unionByName(prop)
            .repartition(n_parts, "id")
            .groupBy("id")
            .agg(
                F.min("label").alias("label"),
                F.first("own", ignorenulls=True).alias("own"),
            )
        )
        # pointer jumping: label(v) <- label(label(v)). Labels are
        # always ids of edge-having nodes (min over a set seeded
        # with own ids), so the self-join on the label map always
        # matches; coalesce guards the degenerate case anyway.
        lmap = rolled.select(
            F.col("id").alias("__lid"), F.col("label").alias("__llabel")
        )
        rolled = (
            rolled.join(lmap, rolled.label == lmap.__lid, "left")
            .select(
                "id",
                F.coalesce("__llabel", "label").alias("label"),
                "own",
            )
        )
        # lazy checkpoint: the convergence count is the first action
        # and materializes it — one job per round instead of two (r14)
        rolled = cache.checkpoint(rolled)
        changed = rolled.filter(F.col("label") != F.col("own")).count()
        return rolled, changed == 0

    state, rounds = cache.converge(
        first, step, max_rounds=max_iter, what="connected_components"
    )
    labels = state.select("id", "label")
    if stats is not None:
        stats["rounds"] = rounds
    all_nodes = nodes.select(F.col(id_col).alias("id")).distinct()
    # the label map is |nodes-with-edges| ≤ 2·|pairs| rows — broadcast
    # it for modest graphs so the full corpus never shuffles here.
    final_labels = F.broadcast(labels) if n_edges < 5_000_000 else labels
    return (
        all_nodes.join(final_labels, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("label", "id").alias("cluster_id"),
        )
    )


def simhash_64(sh: DataFrame, *, id_col: str) -> DataFrame:
    """64-bit SimHash per document from (id, shingle): for each bit,
    sum +1/-1 votes of each shingle's xxhash64 bit; sign → bit.

    64 conditional-sum aggregates in ONE groupBy pass (map-side
    combined). Takes a hashed (id, h) shingle table.
    """
    hashed = sh.select(id_col, "h")
    # parsed expression strings — identical Catalyst trees at ~1/10th
    # the py4j construction cost (r14; see
    # portable_simhash_candidate_pairs for the measurement)
    bit_votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1"
            " THEN 1 ELSE -1 END)"
        ).alias(f"v_{i}")
        for i in range(64)
    ]
    votes = hashed.groupBy(id_col).agg(*bit_votes)
    sig_sql = " ^ ".join(
        f"shiftleft(CAST(CASE WHEN v_{i} > 0 THEN 1 ELSE 0 END"
        f" AS BIGINT), {i})"
        for i in range(64)
    )
    return votes.select(F.col(id_col), F.expr(sig_sql).alias("simhash"))


# Two independent 30-bit polynomial-hash channels for the portable
# SimHash: (multiplier, prime just above 2^30). Mod-per-step keeps the
# accumulator < 2^35, safe in BIGINT on both engines (DuckDB errors on
# int64 overflow where the JVM would silently wrap).
_POLY_CHANNELS = ((31, 1073741827), (131, 1073741831))
_POLY_INIT = 7


def poly_hash(col: Column | str, mult: int, prime: int) -> Column:
    """Polynomial rolling hash over a string's code points, mod prime —
    fold(chars, acc -> (acc*mult + codepoint) % prime). Deterministic
    and engine-portable: DuckDB's ``list_reduce`` over
    ``string_split(s, '')`` computes the identical value (verified
    byte-for-byte), so plans built on it are differential-testable
    against a SQL oracle, unlike xxhash64."""
    c = F.col(col) if isinstance(col, str) else col
    return F.aggregate(
        F.split(c, ""),
        F.lit(_POLY_INIT).cast("long"),
        lambda acc, ch: F.pmod(acc * F.lit(mult) + F.ascii(ch), F.lit(prime)),
    )


def poly_hash_channels_kernel(
    df: DataFrame,
    *,
    str_col: str,
    keep: list[str],
    channels: tuple[tuple[int, int], ...] = _POLY_CHANNELS,
) -> DataFrame:
    """The :func:`poly_hash` fold for one or more channels as a single
    Arrow kernel — bit-identical results, ~10× the throughput.

    The HOF fold is interpreted per character (r14 measured the
    simhash row at 15 s honest, almost all of it in ~9M interpreted
    fold steps — guide §4.2). The kernel runs the SAME recurrence
    acc → (acc·mult + codepoint) mod prime, vectorized ACROSS rows
    with one numpy step per char position: every intermediate is the
    identical non-negative integer (acc < prime < 2³⁰, so
    acc·mult + c < 2³⁵ — exact in int64 in both runtimes), hence the
    outputs are equal by induction, not by accident (pinned against
    the HOF path on real fixtures in tests/test_operators.py).

    ASCII inputs take the vectorized path (UTF-8 byte == codepoint);
    any batch containing a non-ASCII string falls back to an exact
    per-row ``ord()`` fold for that batch, preserving values.
    """
    out_schema = ", ".join(
        [f"`{c}` {df.schema[c].dataType.simpleString()}" for c in keep]
        + [f"h{i + 1} bigint" for i in range(len(channels))]
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            strs = pdf[str_col].to_numpy()
            true_lens = np.fromiter(
                (len(s) for s in strs), dtype=np.int64, count=len(strs)
            )
            enc = [s.encode("utf-8") for s in strs]
            out = {c: pdf[c] for c in keep}
            if any(len(b) != n for b, n in zip(enc, true_lens)):
                # non-ASCII present: exact scalar fold per row.
                # split('') of an EMPTY string yields [''] and
                # ascii('') is 0, so the HOF takes one zero step.
                for ci, (mult, prime) in enumerate(channels):
                    vals = []
                    for s in strs:
                        acc = _POLY_INIT
                        for ch in s or "\0":
                            acc = (acc * mult + ord(ch)) % prime
                        vals.append(acc)
                    out[f"h{ci + 1}"] = np.array(vals, dtype=np.int64)
                yield pd.DataFrame(out)
                continue
            # empty strings take exactly one zero-codepoint step (see
            # above) — model them as length 1 over the zero-padded
            # matrix to stay bit-identical
            lens = np.maximum(true_lens, 1)
            width = int(lens.max()) if len(lens) else 1
            mat = np.frombuffer(
                b"".join(b.ljust(width, b"\0") for b in enc),
                dtype=np.uint8,
            ).reshape(len(strs), width).astype(np.int64)
            for ci, (mult, prime) in enumerate(channels):
                acc = np.full(len(strs), _POLY_INIT, dtype=np.int64)
                for j in range(width):
                    live = j < lens
                    stepped = (acc * mult + mat[:, j]) % prime
                    acc = np.where(live, stepped, acc)
                out[f"h{ci + 1}"] = acc
            yield pd.DataFrame(out)

    return df.select(*keep, str_col).mapInPandas(gen, out_schema)


def portable_simhash_candidate_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    chunk_bits: int = 15,
) -> DataFrame:
    """SimHash candidates on a 60-bit oracle-portable signature:
    bits 0-29 vote on poly-hash channel 1, bits 30-59 on channel 2.
    Pairs agree on ≥1 of the 60/chunk_bits signature chunks
    (guaranteed to catch Hamming distance < 60/chunk_bits); returns
    (id_a, id_b, hamming).

    Same plan shape as :func:`simhash_candidate_pairs` (the xxhash64
    scale path): shingle → one groupBy with 60 conditional-sum votes
    (map-side combined) → chunk-explode equi-join. The poly hash costs
    one fold per shingle char vs xxhash64's native call — the price of
    a value-exact DuckDB differential oracle."""
    sh = shingles(df, id_col=id_col, text_col=text_col, n=n)
    # r14: the two per-character HOF folds dominated this operator's
    # honest cost (15.1 s at sf0.1); the Arrow kernel computes the
    # identical recurrence vectorized by char position (see
    # poly_hash_channels_kernel for the exactness argument)
    hs = poly_hash_channels_kernel(
        sh, str_col="shingle", keep=[id_col], channels=_POLY_CHANNELS
    )
    # votes and signature as PARSED expression strings: the Column-
    # method formulation issued ~700 py4j round trips per build (r14
    # guide §4.1 measurement); one F.expr parse per vote (and one for
    # the whole signature) yields the IDENTICAL Catalyst expressions
    # in ~60 round trips.
    bit_votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright({'h1' if i < 30 else 'h2'},"
            f" {i % 30}) & 1) = 1 THEN 1 ELSE -1 END)"
        ).alias(f"v_{i}")
        for i in range(60)
    ]
    votes = hs.groupBy(id_col).agg(*bit_votes)
    sig_sql = " ^ ".join(
        f"shiftleft(CAST(CASE WHEN v_{i} > 0 THEN 1 ELSE 0 END"
        f" AS BIGINT), {i})"
        for i in range(60)
    )
    sig_df = cache.track(
        votes.select(F.col(id_col), F.expr(sig_sql).alias("simhash"))
    )

    n_chunks = 60 // chunk_bits
    mask = (1 << chunk_bits) - 1
    chunks = sig_df.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftright("simhash", i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", "c.chunk_idx", "c.chunk")
    a = chunks.toDF("id_a", "sim_a", "chunk_idx", "chunk")
    b = chunks.toDF("id_b", "sim_b", "chunk_idx", "chunk")
    pairs = (
        a.join(b, on=["chunk_idx", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
    )


def simhash_candidate_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    chunk_bits: int = 16,
) -> DataFrame:
    """SimHash near-dup candidates: pairs matching on ≥1 of the 64/
    chunk_bits signature chunks (guaranteed to catch Hamming distance
    < 64/chunk_bits). Returns (id_a, id_b, hamming)."""
    sh = hashed_shingles(df, id_col=id_col, text_col=text_col, n=n).toDF(
        "id", "h"
    )
    # sig feeds both sides of the chunk-match self-join — persist so
    # the shingle+vote lineage runs once.
    sig = cache.track(simhash_64(sh, id_col="id"))
    n_chunks = 64 // chunk_bits
    mask = (1 << chunk_bits) - 1
    chunks = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftright("simhash", i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select("id", "simhash", "c.chunk_idx", "c.chunk")
    a = chunks.toDF("id_a", "sim_a", "chunk_idx", "chunk")
    b = chunks.toDF("id_b", "sim_b", "chunk_idx", "chunk")
    pairs = (
        a.join(b, on=["chunk_idx", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
    )


class LshDedupState:
    """Incrementally-maintained MinHash/LSH near-dup state.

    Reference status: extension surface (the reference script,
    01_source_me.R:1-346, has no dedup stage). Closes the gap left by
    batch :func:`minhash_lsh_dedup_pairs`: a corpus that grows daily
    should not re-shingle, re-sign, and re-join its whole history per
    batch. The persisted state is the BAND-BUCKET table
    (id, band_idx, band_hash) — ``bands`` fixed-width rows per
    document in a snapshot-versioned table
    (sources/versioned.py::VersionedTable), so every ingest is an
    atomic, time-travelable commit.

    Per :meth:`ingest` batch (cost O(batch), flat in history size —
    measured in SCALING.md §LSH-incremental):

    1. shingle → MinHash → band rows for the BATCH ONLY;
    2. new↔history candidates: the batch's band rows are BROADCAST
       against the stored band table on (band_idx, band_hash), and
       the state is physically laid out in ``n_buckets`` Hive
       partitions on ``band_bucket = pmod(band_hash, n_buckets)``
       (``VersionedTable.commit(partition_by=...)``), so the probe
       reads ONLY the subdirectories holding the batch's buckets
       (``read_partitions``) and the state side carries NO Exchange
       — O(batch) in shuffle, not just compute (plan pinned in
       tests/test_incremental_lsh.py). For batches too large to
       broadcast (backfills), chunk them into micro-batches — the
       union-of-batches invariant makes that free;
    3. new↔new candidates: broadcast self-join of the batch's rows;
    4. append the batch's band rows to the state, repartitioned by
       bucket so each partition subdirectory gets ~1 file.

    Invariant (pinned in tests/test_incremental_lsh.py): the union of
    candidate sets over ANY batch partitioning of a corpus equals the
    full-recompute candidate set — each pair surfaces exactly when its
    later member arrives. Signatures are per-document, so splitting
    the corpus cannot change a signature, a band hash, or therefore a
    candidate. Doc ids must be unique across batches (re-ingesting an
    id would duplicate its band rows).
    """

    def __init__(
        self,
        spark,
        root: str,
        *,
        n: int = 3,
        n_hashes: int = 64,
        bands: int = 16,
        seed: int = 42,
        n_buckets: int = 32,
    ):
        from ..sources.versioned import VersionedTable

        if n_hashes % bands:
            raise ValueError("bands must divide n_hashes")
        self.table = VersionedTable(spark, root)
        self.n = n
        self.n_hashes = n_hashes
        self.bands = bands
        self.rows = n_hashes // bands
        self.seed = seed
        self.n_buckets = n_buckets

    def _band_rows(self, docs: DataFrame, id_col: str, text_col: str):
        sh = hashed_shingles(
            docs, id_col=id_col, text_col=text_col, n=self.n
        ).toDF("id", "h")
        sig = minhash_signatures(
            sh, id_col="id", n_hashes=self.n_hashes, seed=self.seed
        )
        bb = lsh_band_buckets(
            sig, id_col="id", bands=self.bands, rows=self.rows
        )
        # physical co-location key: the state lands Hive-partitioned
        # on this, and a probe reads only the batch's buckets
        return bb.withColumn(
            "band_bucket",
            F.pmod(F.col("band_hash"), F.lit(self.n_buckets)).cast("int"),
        )

    # batch band rows above this stop being broadcast and the probe
    # falls back to a shuffle join: an explicit broadcast hint is not
    # capped by autoBroadcastJoinThreshold, so a huge backfill batch
    # (bands x docs rows) would otherwise OOM the driver. ~2M rows of
    # (id, band_idx, band_hash, band_bucket) is ~100 MB serialized —
    # comfortably under the 8 GB broadcast ceiling with headroom.
    BROADCAST_MAX_BAND_ROWS = 2_000_000

    def probe(
        self, docs: DataFrame, *, id_col: str = "doc_id",
        text_col: str = "text",
    ) -> tuple[DataFrame, DataFrame]:
        """Step 1 of an ingest, with NO state mutation: shingle/sign/
        band the batch, probe the CURRENT state snapshot, and return
        ``(candidates, batch_band_rows)``. Candidates are the pairs
        involving at least one batch document, as (id_a, id_b) with
        id_a < id_b (cross-batch pairs orientation-normalized) —
        candidates only, verify with :func:`jaccard_on_pairs`.

        Splitting probe from :meth:`commit_batch` is what lets a
        streaming sink be exactly-once (streaming/ops.py::
        lsh_dedup_sink): the sink PUBLISHES the candidate pairs first
        and only then commits the band rows + watermark, so a crash
        between the two replays into an identical probe against the
        unchanged state and the pairs overwrite is idempotent.
        Committing first would leave the replay a watermark no-op
        with that batch's pairs permanently missing."""
        batch = cache.track(self._band_rows(docs, id_col, text_col))
        # size the (persisted) batch ONCE: normal micro-batches stay
        # on the broadcast fast path (state scan joins with no
        # Exchange); an oversized backfill degrades to a plain
        # shuffle join instead of OOMing the driver — still correct,
        # just pays a state-side shuffle, so chunk big backfills
        small = batch.count() <= self.BROADCAST_MAX_BAND_ROWS
        a = batch.select(
            F.col("id").alias("id_a"), "band_idx", "band_hash"
        )
        b = batch.select(
            F.col("id").alias("id_b"), "band_idx", "band_hash"
        )
        a_side = F.broadcast(a) if small else a
        cand = (
            a_side
            .join(b, on=["band_idx", "band_hash"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        if self.table.head() is not None:
            # the batch's bucket set: ≤ n_buckets small ints — a
            # bounded driver-side collect that prices the pruned read
            buckets = [
                r[0]
                for r in batch.select("band_bucket").distinct().collect()
            ]
            hist = self.table.read_partitions(
                "band_bucket", buckets
            ).select(
                F.col("id").alias("id_b"), "band_idx", "band_hash"
            )
            # batch side broadcast: the (pruned) state scan streams
            # through a BroadcastHashJoin with NO Exchange — the
            # whole probe is O(batch) shuffle (shuffle-join fallback
            # above the size guard, see BROADCAST_MAX_BAND_ROWS)
            cross = (
                a_side
                .join(hist, on=["band_idx", "band_hash"])
                .select(
                    F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b"),
                )
            )
            cand = cand.unionByName(cross)
        return cand.distinct(), batch

    def commit_batch(
        self, batch_bands: DataFrame, *, props: dict | None = None
    ) -> int:
        """Step 2 of an ingest: append the batch's (persisted) band
        rows as one atomic versioned commit, Hive-partitioned on
        ``band_bucket`` (repartitioned first so each bucket
        subdirectory gets ~1 file, not files × tasks). ``props``
        rides the commit (streaming sinks persist their exactly-once
        watermark through it)."""
        return self.table.commit(
            batch_bands.repartition(self.n_buckets, "band_bucket"),
            operation=f"lsh-ingest(bands={self.bands})",
            props=props,
            partition_by=["band_bucket"],
        )

    def ingest(
        self, docs: DataFrame, *, id_col: str = "doc_id",
        text_col: str = "text",
        props: dict | None = None,
    ) -> DataFrame:
        """Probe-then-append one batch (:meth:`probe` +
        :meth:`commit_batch`); returns the candidate pairs. Batch
        convenience path — sinks that need output-before-commit
        ordering call the two steps themselves."""
        cand, batch = self.probe(docs, id_col=id_col, text_col=text_col)
        self.commit_batch(batch, props=props)
        return cand

    def compact(self) -> int:
        """OPTIMIZE the band table: collapse the one-directory-per-
        ingest history into a single bucket-partitioned directory
        (``VersionedTable.compact(partition_by=["band_bucket"])``),
        so a probe lists 1 × touched-buckets subdirectories instead
        of n_ingests × touched-buckets. Run periodically on
        long-lived streams (pair with ``vacuum`` to reclaim the old
        directories); candidates are unaffected — the probe reads
        the same rows from fewer, bigger files."""
        return self.table.compact(
            "band_hash",
            n_dirs=1,
            partition_by=["band_bucket"],
            operation=f"lsh-compact(bands={self.bands})",
        )
