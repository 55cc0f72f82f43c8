"""Trained-coarse IVFADC recall probe (r12 verdict ask #3).

Numpy replica of the exact registry arithmetic behind
``ann_ivfadc_trained_topk``/``_recall``: integer-quantized 3-round
Lloyd cell model (seed = first-k by vec_id, spherical score
dot(q,S)/|S|, ties to lowest cell), the COMMITTED M=16xK=256 PQ
codebook's ADC over the probed cells, exact re-rank of the ADC
top-50. Measures recall@10 vs exact cosine for queries 0..19 at each
sf fixture and the nprobe sweep; writes the numbers quoted in
SCALING §Trained-coarse IVFADC.

Usage: python tools/ivfadc_trained_probe.py
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from lmo_data_catalog_spark.functions.pq_codebook import (  # noqa: E402
    CODEBOOK,
    PQ_M,
    PQ_SUB,
)

RERANK = 50
SCALE = 1024.0
K_CELLS = 8


def load(sf_dir: str):
    rows = duckdb.sql(
        "SELECT vec_id, embedding FROM "
        f"'{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    return (
        np.array([r[0] for r in rows]),
        np.stack([np.array(r[1], dtype=np.float64) for r in rows]),
    )


def kmeans_cells(Q: np.ndarray, k: int = K_CELLS, iters: int = 3):
    """Integer-sum Lloyd over pre-quantized vectors — all operands are
    exact integers in double, so numpy's GEMM matches the registry's
    left-deep folds bit-for-bit (the kmeans_cells_exact argument)."""
    state = Q[:k].copy()
    for _ in range(iters):
        norms = np.sqrt((state * state).sum(axis=1))
        cells = ((Q @ state.T) / norms).argmax(axis=1)
        new = state.copy()
        for c in range(k):
            m = cells == c
            if m.any():
                new[c] = Q[m].sum(axis=0)
        state = new
    norms = np.sqrt((state * state).sum(axis=1))
    scores = (Q @ state.T) / norms
    return scores.argmax(axis=1), scores


def pq_adc(X: np.ndarray, q: np.ndarray) -> np.ndarray:
    C = np.array(CODEBOOK, dtype=np.float64)  # (M, K, SUB)
    adc = np.zeros(len(X))
    for j in range(PQ_M):
        Xs = X[:, j * PQ_SUB : (j + 1) * PQ_SUB]
        d = ((Xs[:, None, :] - C[j][None, :, :]) ** 2).sum(axis=2)
        codes = d.argmin(axis=1)
        lut = ((q[j * PQ_SUB : (j + 1) * PQ_SUB][None, :] - C[j]) ** 2).sum(
            axis=1
        )
        adc += lut[codes]
    return adc


def main() -> None:
    for sf in ("0.001", "0.01", "0.1"):
        ids, X = load(f"/root/testdata/sf{sf}")
        Q = np.floor(X * SCALE + 0.5)
        cells, scores = kmeans_cells(Q)
        nrm = np.sqrt((X * X).sum(axis=1))
        cos = (X @ X.T) / (nrm[:, None] * nrm[None, :])
        for nprobe in (2, 4):
            recalls = []
            for qi in range(20):
                exact = np.argsort(-cos[qi] + ids * 1e-12)[:10]
                order = sorted(
                    range(K_CELLS), key=lambda c: (-scores[qi, c], c)
                )[:nprobe]
                sub = np.where(np.isin(cells, order))[0]
                adc = pq_adc(X[sub], X[qi])
                short = sub[np.lexsort((ids[sub], adc))][:RERANK]
                rer = short[np.lexsort((ids[short], -cos[qi, short]))][:10]
                recalls.append(len(set(exact) & set(rer)) / 10.0)
            print(
                f"sf{sf} nprobe={nprobe}: q0={recalls[0]:.2f} "
                f"mean20={np.mean(recalls):.3f} "
                f"cells={np.bincount(cells, minlength=K_CELLS)}"
            )


if __name__ == "__main__":
    main()
