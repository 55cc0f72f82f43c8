"""Broadcast-bitset Bloom filter built from pure Spark expressions.

The scale path for membership pre-passes (benchmark-contamination
screening, seen-key dedup, semi-join pruning) when the probe set is
too large to explode against every row but small enough to broadcast
as a bitset. PySpark 4.1 exposes no public ``bloom_filter_agg``, so
this module builds the bitset itself — with Spark's own ``xxhash64``
on BOTH the build and probe sides, so hashing is bit-identical by
construction — and tests membership with JVM-side expressions only
(``shiftright``/``getItem``/bitwise-and inside whole-stage codegen;
no Python in the data plane).

Build side: the value set is hashed through a tiny local DataFrame
(k seeded xxhash64 positions per value), OR-folded into ``m_bits/64``
longs on the driver, and inlined as a literal array — Spark ships it
to every executor inside the serialized plan exactly like a broadcast
variable, with zero shuffle. Driver/plan cost is O(m_bits/64) longs:
a 1M-bit filter is 125 KB — fine; ``build_bloom_bitset`` sizes
``m_bits ≈ 10×|values|`` (~2% FPP with k=3) unless told otherwise.

At cluster scale the same probe expression works against a bitset of
any origin; for probe sets too big to build driver-side, swap the
build step for an aggregation over a DataFrame (groupBy().agg of the
seeded positions) and keep the probe expression unchanged.

False positives are expected (callers exact-verify survivors);
false negatives are impossible for inserted values — pinned by
``tests/test_bloom.py``.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from ..pyboundary import literal_array


def build_bloom_bitset(
    spark: SparkSession,
    values: Iterable[str],
    *,
    m_bits: int | None = None,
    k: int = 3,
) -> list[int]:
    """Hash ``values`` into an ``m_bits``-wide Bloom bitset.

    Returns the bitset as ``m_bits // 64`` signed 64-bit words (the
    representation ``bloom_might_contain`` consumes). Hashing runs
    through Spark's ``xxhash64`` so probe-side tests are bit-identical.
    ``m_bits`` defaults to ~10 bits per distinct value (~2% FPP at
    k=3), never below 1024 and rounded up to a multiple of 64: a fixed
    width saturates as the value set grows (1024 values in 1024 bits
    pass 86% of absent tokens).
    """
    vals = list(dict.fromkeys(values))
    if m_bits is None:
        m_bits = max(1024, -(-10 * len(vals) // 64) * 64)
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    words = [0] * (m_bits // 64)
    if not vals:
        return words
    rows = (
        spark.createDataFrame([(v,) for v in vals], "v string")
        .select(
            *[
                F.pmod(F.xxhash64("v", F.lit(i)), F.lit(m_bits)).alias(
                    f"p{i}"
                )
                for i in range(k)
            ]
        )
        .collect()
    )
    for row in rows:
        for pos in row:
            words[pos // 64] |= 1 << (pos % 64)
    # Spark longs are signed: fold bit 63 into two's complement.
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_might_contain(
    col: Column | str,
    bitset_words: Sequence[int],
    *,
    k: int = 3,
) -> Column:
    """JVM-side membership test of ``col`` against a broadcast bitset.

    True ⇒ possibly inserted (caller exact-verifies); False ⇒
    definitely not inserted. The bitset literal rides the serialized
    plan to every executor; each test is k seeded xxhash64 probes +
    shift/mask — all inside whole-stage codegen.
    """
    c = F.col(col) if isinstance(col, str) else col
    m_bits = len(bitset_words) * 64
    arr = literal_array([int(w) for w in bitset_words], "array<bigint>")
    cond = None
    for i in range(k):
        pos = F.pmod(F.xxhash64(c, F.lit(i)), F.lit(m_bits))
        word = F.get(arr, (pos / 64).cast("int"))
        # F.shiftright only takes a literal shift; call the SQL
        # function directly so the shift can be a column.
        bit = F.call_function(
            "shiftright", word, (pos % 64).cast("int")
        ).bitwiseAND(F.lit(1))
        hit = bit == 1
        cond = hit if cond is None else (cond & hit)
    return cond


def build_bloom_bitset_agg(
    df, col: str, *, m_bits: int = 8192, k: int = 3
) -> list[int]:
    """Distributed Bloom build: the aggregation swap the module
    docstring prescribes for value sets too big to collect. Each row
    contributes k seeded xxhash64 positions (values cast to string so
    any key type probes identically); positions fold into
    ``m_bits/64`` words via a map-side-combinable BIT_OR, and only
    those words reach the driver. Probe with ``bloom_might_contain``
    on the SAME cast-to-string column — hashing is bit-identical to
    the driver-side builder by construction.
    """
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    c = F.col(col).cast("string")
    pos = F.explode(
        F.array(
            *[
                F.pmod(F.xxhash64(c, F.lit(i)), F.lit(m_bits))
                for i in range(k)
            ]
        )
    ).alias("p")
    words = (
        df.select(pos)
        .select(
            (F.col("p") / 64).cast("int").alias("w"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.pmod(F.col("p"), F.lit(64)).cast("int"),
            ).alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .collect()
    )
    out = [0] * (m_bits // 64)
    for r in words:
        out[r["w"]] = r["bits"]
    return out


def inverted_probe_verify(
    docs,
    probes: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Exact contamination verify through an interior-word → probe
    inverted index — the |probes|-sublinear half of the screen.

    The Bloom pre-pass (``bloom_might_contain`` over tokens) answers
    "might this document match ANY probe?" in O(tokens) per document,
    but the exact verify it gates was still ×|probes| per surviving
    document. This closes that gap: a tiny (interior_word, probe)
    table — |probes| × interior-words rows, KBs even at 4096 probes —
    is BROADCAST-joined against each candidate's distinct tokens, so a
    document exact-verifies only the probes its own tokens implicate
    (for benchmark decontamination that is ~0-2 probes per candidate,
    not 4096).

    Correctness is the same interior-word containment argument as the
    Bloom gate: a raw-substring occurrence of probe "a b c" bounds the
    interior word "b" with the probe's own literal spaces, so "b" is a
    complete whitespace token of the document — the implicated set can
    not miss a true match (probes need ≥3 words; callers enforce it).
    Shape: explode distinct tokens (map-side), broadcast-hash join,
    distinct on the (doc, probe) pairs, then ONE keyed join back to
    the documents table fetches text for the exact position() check —
    text never rides through the explode or the distinct shuffle.
    """
    from .text import tokens

    spark = docs.sparkSession
    inv = spark.createDataFrame(
        sorted(
            {(w.lower(), p) for p in probes for w in p.split()[1:-1]}
        ),
        ["__w", "probe"],
    )
    toks = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(text_col))).alias("__w"),
    )
    implicated = (
        toks.join(F.broadcast(inv), "__w")
        .select(id_col, "probe")
        .distinct()
    )
    return (
        implicated.join(docs.select(id_col, text_col), id_col)
        .filter(F.expr(f"position(probe IN {text_col}) > 0"))
        .select("probe", F.col(id_col))
    )
