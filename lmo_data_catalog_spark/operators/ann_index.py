"""Incrementally-maintained IVFADC index state.

Reference status: extension surface (the reference script,
``01_source_me.R:1-346``, has no vector-index stage). This closes the
maintenance gap the batch ANN rows leave open: ``ann_ivfadc_trained_*``
(queries/pipeline.py) build their cell model and codes per query,
which is the right shape for a differential but not for a corpus that
grows continuously — at 100 TB the index must be a PERSISTED artifact
that new vectors join at O(batch) cost, not a per-query rebuild.

Design (the FAISS IndexIVFPQ ``add`` path, Jegou/Douze/Schmid 2011,
public):

- The cell model (integer Lloyd centroid sums from
  ``operators/similarity.py::kmeans_cells_exact``) and the committed
  PQ codebook (``functions/pq_codebook.py``) are FROZEN training
  artifacts — encoding is a pure per-vector function of them, so
  ingesting a corpus in any batch partitioning yields byte-identical
  index rows (the union-of-batches invariant, pinned in
  tests/test_ann_index.py).
- :meth:`PqIvfIndexState.ingest` encodes ONLY the batch (one Arrow
  mapInPandas kernel: cell assignment by the exact-integer spherical
  score, 16 subspace codes by first-min argmin — the same argmin/
  tie conventions as the ``_tpq_scored`` kernel) and appends it to a
  snapshot-versioned table (sources/versioned.py::VersionedTable)
  Hive-partitioned on ``cell``: zero shuffles, zero history reads.
- :meth:`PqIvfIndexState.query` is the IVFADC search over the
  PERSISTED codes: rank cells driver-side (k bounded rows), read
  ONLY the probed ``cell=<id>`` subdirectories
  (``VersionedTable.read_partitions`` — an explicit leaf-path scan,
  no partition discovery, no Exchange), score the 16-byte codes with
  the query's LUT (pure column arithmetic), exact-re-rank the ADC
  shortlist against the base vectors. At scale the probe reads
  nprobe/k of the index files — partition pruning IS the coarse
  quantizer.

The streaming mirror is ``streaming/ops.py::pq_index_sink``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pyboundary import literal_array

#: number of PQ codes per vector == PQ_M of the committed codebook;
#: imported lazily in the kernel so module import stays Spark-free.
CODES_SCHEMA = "id long, cell int, codes array<int>"


def pq_encode_codes(
    df: DataFrame,
    cell_sums,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: float = 1024.0,
) -> DataFrame:
    """(id, cell, codes) — the IVFADC ``add``-path encode as one
    map-only Arrow kernel, no shuffle. Cell assignment: argmax of
    dot(quantized(v), S_c)/|S_c| over the frozen integer Lloyd state
    (every operand an exact integer in double — numpy's GEMM and the
    expression fold agree bit-for-bit, the kmeans_cells_exact
    argument); ties to the lowest cell via first-max. Codes (0-based):
    per-subspace first-min argmin of squared L2 against the committed
    codebook — identical to the ``_tpq_scored`` convention, so
    persisted codes equal the per-query kernel's."""
    import numpy as np

    from ..functions.pq_codebook import CODEBOOK, PQ_M, PQ_SUB

    S = np.array(
        [[int(x) for x in v] for v in cell_sums], dtype=np.float64
    )
    norms = np.sqrt((S * S).sum(axis=1))
    C = np.array(CODEBOOK, dtype=np.float64)  # (M, K, SUB)
    scale = float(scale)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
            )
            Q = np.floor(X * scale + 0.5)
            cells = ((Q @ S.T) / norms).argmax(axis=1) + 1
            codes = np.empty((len(X), PQ_M), dtype=np.int64)
            for j in range(PQ_M):
                Xs = X[:, j * PQ_SUB : (j + 1) * PQ_SUB]
                # explicit left-deep accumulation over the subspace —
                # the SAME operand order as _tpq_scored's kernel and
                # the oracle's SQL fold (a .sum(axis=2) happens to be
                # sequential at SUB=4 but flips to pairwise blocking
                # on larger widths, which would move last bits and
                # could flip an argmin near-tie cross-engine)
                acc = None
                for k in range(PQ_SUB):
                    t = Xs[:, k, None] - C[j, None, :, k]
                    tt = t * t
                    acc = tt if acc is None else acc + tt
                codes[:, j] = acc.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "cell": cells.astype("int32"),
                    "codes": list(codes),
                }
            )

    return df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).mapInPandas(kernel, schema=CODES_SCHEMA)


class PqIvfIndexState:
    """Persisted IVFADC index over a VersionedTable, cell-partitioned.

    ``cell_sums`` is the frozen integer Lloyd state (k lists of dim
    ints — ``kmeans_cells_exact(..., return_state=True)``'s second
    return). ``scale`` must match the quantization the cells were
    trained at.
    """

    def __init__(self, spark, root: str, cell_sums, *, scale: float = 1024.0):
        from ..sources.versioned import VersionedTable

        self.spark = spark
        self.table = VersionedTable(spark, root)
        self.cell_sums = [[int(x) for x in v] for v in cell_sums]
        self.scale = float(scale)

    # ------------------------------------------------------------ encode

    def _encode(
        self, df: DataFrame, *, id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        return pq_encode_codes(
            df,
            self.cell_sums,
            id_col=id_col,
            vec_col=vec_col,
            scale=self.scale,
        )

    # ------------------------------------------------------------ ingest

    def ingest(
        self,
        df: DataFrame,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        props: dict | None = None,
    ) -> int:
        """Encode the batch and append it cell-partitioned; returns
        the new version — or the CURRENT head (possibly None) for an
        empty batch, which commits nothing (an empty partitioned
        write has no files for the commit's schema read-back, and an
        empty version would be pure manifest noise; same guard as
        the streaming sink). O(batch) compute, zero shuffle (the
        partitioned write splits by column value, not by Exchange),
        zero history reads. Ids must be unique across batches."""
        if df.isEmpty():
            return self.table.head()
        return self.table.commit(
            self._encode(df, id_col=id_col, vec_col=vec_col),
            operation="pq-ivf-ingest",
            partition_by=["cell"],
            props=props,
        )

    # ------------------------------------------------------------ delete

    def remove_ids(
        self,
        ids,
        *,
        vectors: DataFrame | None = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        props: dict | None = None,
    ) -> int:
        """Delete vectors from the persisted index — the FAISS
        ``remove_ids`` analog (r13 verdict ask #5). Returns the new
        version (or the current head when nothing matched).

        Shuffle/IO budget is O(touched cells), never a full rewrite:
        the touched ``cell=`` leaves are re-read (explicit leaf-path
        scans), survivors anti-joined against the broadcast id set
        (no Exchange), and the table's
        :meth:`~..sources.versioned.VersionedTable.replace_partitions`
        swaps exactly those leaves — every untouched cell's files are
        carried forward verbatim and ``cell=`` pruning (the coarse
        quantizer) is preserved, pinned in tests/test_ann_index.py.

        Locating the touched cells costs one of two shapes:
        ``vectors`` given (the deleted vectors are at hand, e.g. a
        GDPR erasure batch with payloads) → re-encode the batch
        (encoding is a pure function of the frozen artifacts), O(batch)
        with zero index reads; otherwise → an id→cell lookup over the
        index's own ``id`` column (columnar projection; the 16-byte
        codes are never read), O(index ids). Ids absent from the
        index are ignored either way, so delete is idempotent."""
        if not isinstance(ids, DataFrame):
            ids = self.spark.createDataFrame(
                [(int(i),) for i in ids], "id bigint"
            )
        id_df = ids.select(F.col(ids.columns[0]).alias("__del")).distinct()
        head = self.table.head()
        if head is None:
            return head
        if vectors is not None:
            located = (
                self._encode(vectors, id_col=id_col, vec_col=vec_col)
                .join(
                    F.broadcast(id_df),
                    F.col("id") == F.col("__del"),
                    "leftsemi",
                )
            )
        else:
            located = self.table.read().join(
                F.broadcast(id_df),
                F.col("id") == F.col("__del"),
                "leftsemi",
            )
        touched = sorted(
            r["cell"] for r in located.select("cell").distinct().collect()
        )
        if not touched:
            return head
        survivors = None
        for c in touched:
            surv = (
                self.table.read_partitions("cell", [c])
                .join(
                    F.broadcast(id_df),
                    F.col("id") == F.col("__del"),
                    "left_anti",
                )
                .withColumn("cell", F.lit(int(c)).cast("int"))
            )
            survivors = (
                surv if survivors is None else survivors.unionByName(surv)
            )
        return self.table.replace_partitions(
            "cell",
            touched,
            survivors,
            operation="pq-ivf-remove-ids",
            props=props,
        )

    # ----------------------------------------------------------- rebuild

    def rebuild(
        self,
        vectors: DataFrame,
        cell_sums=None,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        props: dict | None = None,
    ) -> int:
        """Re-encode ``vectors`` from scratch into a new OVERWRITE
        version — the drift-policy remediation step (SCALING
        §index-maintenance): when the newest batch's cell-occupancy
        share passes the retrain threshold, train new cells (and/or a
        new codebook) and rebuild, optionally swapping ``cell_sums``
        in place for all future ingests/queries on this handle. One
        encode-kernel scan + one cell-partitioned write (the
        pq_index_build_cells dataflow); history before the rebuild
        still time-travels until vacuum. Raises on an empty corpus —
        an empty index is a deployment error, not a state."""
        if cell_sums is not None:
            self.cell_sums = [[int(x) for x in v] for v in cell_sums]
        if vectors.isEmpty():
            raise ValueError("rebuild needs a non-empty vector corpus")
        return self.table.commit(
            self._encode(vectors, id_col=id_col, vec_col=vec_col),
            mode="overwrite",
            operation="pq-ivf-rebuild",
            partition_by=["cell"],
            props=props,
        )

    # ------------------------------------------------------------- query

    def rank_cells(self, qvec) -> list[int]:
        """1-based cell ids by spherical score desc, ties to lowest id
        — the same left-deep exact-integer arithmetic as assignment,
        over k bounded driver-side rows."""
        qq = [math.floor(float(x) * self.scale + 0.5) for x in qvec]
        scored = []
        for ci, svec in enumerate(self.cell_sums):
            num = None
            for qi, si in zip(qq, svec):
                t = float(qi) * float(si)
                num = t if num is None else num + t
            den = None
            for si in svec:
                fs = float(si)
                p = fs * fs
                den = p if den is None else den + p
            scored.append((num / math.sqrt(den), ci))
        return [
            ci + 1
            for _, ci in sorted(scored, key=lambda sc: (-sc[0], sc[1]))
        ]

    def adc_shortlist(
        self, qvec, *, nprobe: int = 4, rerank: int = 50
    ) -> DataFrame:
        """(id, __adc): the probe half of the IVFADC search over the
        PERSISTED codes — rank cells driver-side, read ONLY the
        probed ``cell=`` subdirectories (explicit leaf-path scan, no
        partition discovery, no Exchange), ADC-score the 16-byte
        codes against the query LUT as plain column arithmetic
        (left-deep j = 0..M-1, the encode/oracle fold order), keep
        the ``rerank`` best by (__adc asc, id asc). Shared by
        :meth:`query` and the ``pq_index_query_topk`` registry row,
        so the serving path itself is differential-gated."""
        from ..functions.pq_codebook import CODEBOOK, PQ_M, PQ_SUB

        probed = self.rank_cells(qvec)[:nprobe]
        q = [float(x) for x in qvec]
        luts = []
        for j in range(PQ_M):
            lut = []
            for cvec in CODEBOOK[j]:
                acc = None
                for i in range(PQ_SUB):
                    t = q[j * PQ_SUB + i] - cvec[i]
                    acc = t * t if acc is None else acc + t * t
                lut.append(acc)
            luts.append(lut)
        codes = self.table.read_partitions("cell", probed)
        # one literal per subspace, not one 16×256 literal: the
        # optimizer folds each element_at(table[j]) on its own and
        # would parse the whole table once per j (~0.04 s more to plan)
        adc = None
        for j in range(PQ_M):
            lut = literal_array(luts[j], "array<double>")
            term = F.element_at(lut, F.col("codes")[j] + 1)
            adc = term if adc is None else adc + term
        return (
            codes.select("id", adc.alias("__adc"))
            .orderBy(F.col("__adc").asc(), F.col("id").asc())
            .limit(rerank)
        )

    def query(
        self,
        qvec,
        base: DataFrame,
        *,
        nprobe: int = 4,
        rerank: int = 50,
        k: int = 10,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """IVFADC search over the persisted codes: probe the query's
        ``nprobe`` nearest cells (reading ONLY those ``cell=``
        subdirectories), ADC-score the codes against the query LUT as
        plain column arithmetic, exact-re-rank the top-``rerank``
        against ``base`` (the vector table — codes never round-trip
        through it). Returns (id, cosine) top-``k``."""
        from .similarity import cosine_literal

        q = [float(x) for x in qvec]
        short = self.adc_shortlist(qvec, nprobe=nprobe, rerank=rerank)
        return (
            base.join(
                F.broadcast(short), base[id_col] == short["id"], "inner"
            )
            .select(
                F.col(id_col),
                cosine_literal(vec_col, q).alias("cosine"),
            )
            .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
            .limit(k)
        )
