"""Distributed PCA / whitening over the embedding column.

The standard preprocessing step in front of semantic dedup and ANN
(SemDeDup clusters on normalized embeddings; product quantizers and IVF
train markedly better on decorrelated axes — Jégou et al.'s PQ paper
applies a rotation for exactly this reason). The reference engine has no
embedding surface at all; this is extension surface, built to the same
contract as ``kmeans_fit`` (operators/similarity.py): one corpus scan,
zero shuffles, tiny integer partials folded exactly on the driver, so the
fit is BIT-DETERMINISTIC under any partition layout.

Shape (100 TB posture)
----------------------
* ``pca_fit`` — one ``mapInPandas`` pass emitting per-partition
  ``(n, Σqx, Σqx·qxᵀ)`` with x quantized to integers (PCA_QUANT). The
  driver folds with exact Python-int arithmetic — order-independent —
  then forms the covariance in float64 and runs ``np.linalg.eigh`` on the
  dim×dim matrix (dim is 64 here; the eigensolve is O(dim³) driver work,
  independent of corpus size). Traffic to driver: L·(dim² + dim) ints.
* ``pca_project`` — map-only: (x − mean)·W (optionally ÷√λ =
  whitening), Arrow-vectorized, no shuffle, no driver data.
* ``pca_whitened_audit`` — one more partials pass over the PROJECTED
  corpus proving the transform did what PCA promises: whitened
  covariance ≈ I (max |off-diagonal|, max |diagonal − 1|) plus the mean
  squared reconstruction residual. All sums integer-quantized, so the
  audit row is deterministic too.

Overflow bound: |qx| ≤ max|x|·2^14; Σ qxᵢqxⱼ over a 500k-row partition
stays ≤ 2^28·2^28·… — with PCA_QUANT = 2^14 and fixture-scale magnitudes
(|x| ≤ ~8) per-partition entries stay below 2^{14+3}·2^{14+3}·2^19 ≈ 2^53,
far inside int64; the driver fold is arbitrary-precision Python int.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import empty_df, local_df

PCA_QUANT = 1 << 14
PCA_COMPONENTS = 8


def _embedding_dim(embeddings: DataFrame) -> int:
    row = (
        embeddings.filter(F.col("embedding").isNotNull())
        .select(F.size("embedding").alias("d"))
        .head()
    )
    if row is None:
        return 0
    return int(row.d)


def pca_fit(
    embeddings: DataFrame, n_components: int = PCA_COMPONENTS
) -> tuple[np.ndarray, np.ndarray, np.ndarray, int, float]:
    """Fit PCA on the ``embedding`` column → ``(mean, components,
    eigvals, n_rows, total_var)`` with ``components`` of shape (dim, m),
    columns = principal axes sorted by descending eigenvalue, and
    ``total_var`` = trace of the covariance (the denominator for
    explained-variance ratios — returned here so callers never need a
    second corpus pass).

    Sign convention: each component's largest-|entry| coordinate is made
    positive (eigenvectors are sign-ambiguous; pinning the sign makes the
    fit reproducible across runs and layouts). Rows whose embedding is
    NULL are skipped; zero vectors are ordinary data for PCA (they pull
    the mean, unlike cosine ops where they are undefined).
    """
    from ..sources.tables import fan_out

    dim = _embedding_dim(embeddings)
    if dim == 0:
        return np.zeros(0), np.zeros((0, 0)), np.zeros(0), 0, 0.0
    emb = fan_out(embeddings.select("embedding").filter(F.col("embedding").isNotNull()))

    def partials(batches):
        n = 0
        s = np.zeros(dim, dtype=np.int64)
        g = np.zeros((dim, dim), dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            block = np.array(list(pdf["embedding"]), dtype=np.float64)
            q = np.rint(block * PCA_QUANT).astype(np.int64)
            n += len(q)
            s += q.sum(axis=0)
            g += q.T @ q
        if n:
            yield pd.DataFrame(
                {
                    "n": [n],
                    "s": [[int(x) for x in s]],
                    "g": [[int(x) for x in g.ravel()]],
                }
            )

    parts = emb.mapInPandas(
        partials, schema="n bigint, s array<bigint>, g array<bigint>"
    ).collect()
    n_tot = 0
    s_tot = [0] * dim
    g_tot = [0] * (dim * dim)
    for r in parts:  # exact Python-int fold — order-independent
        n_tot += r.n
        for i, x in enumerate(r.s):
            s_tot[i] += x
        for i, x in enumerate(r.g):
            g_tot[i] += x
    if n_tot < 2:
        return np.zeros(dim), np.zeros((dim, 0)), np.zeros(0), n_tot, 0.0
    s1 = np.array(s_tot, dtype=np.float64) / PCA_QUANT
    s2 = np.array(g_tot, dtype=np.float64).reshape(dim, dim) / (
        PCA_QUANT * PCA_QUANT
    )
    mean = s1 / n_tot
    cov = (s2 - n_tot * np.outer(mean, mean)) / (n_tot - 1)
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(eigvals)[::-1][:n_components]
    eigvals = np.maximum(eigvals[order], 0.0)
    comps = eigvecs[:, order]
    for j in range(comps.shape[1]):  # sign pin: largest-|entry| positive
        i = int(np.argmax(np.abs(comps[:, j])))
        if comps[i, j] < 0:
            comps[:, j] = -comps[:, j]
    return mean, comps, eigvals, n_tot, float(np.trace(cov))


def pca_project(
    embeddings: DataFrame,
    mean: np.ndarray,
    components: np.ndarray,
    eigvals: np.ndarray | None = None,
    eps: float = 1e-12,
) -> DataFrame:
    """Map-only projection → ``(vec_id, pca array<double>)``. With
    ``eigvals`` given, scales each axis by 1/√λ (whitening). The
    (dim × m) projection matrix rides the closure (a broadcast in
    cluster mode); no shuffle, no driver data."""
    W = components.copy()
    if eigvals is not None:
        W = W / np.sqrt(np.maximum(eigvals, eps))
    mu = mean.copy()

    def proj(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            block = np.array(list(pdf["embedding"]), dtype=np.float64)
            y = (block - mu) @ W
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "pca": [list(map(float, r)) for r in y]}
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        proj, schema="vec_id bigint, pca array<double>"
    )


def embedding_pca_variance(
    embeddings: DataFrame, n_components: int = PCA_COMPONENTS
) -> DataFrame:
    """Registry surface: one row per principal component —
    ``(component, eigenvalue, explained_pct, cum_explained_pct)``.
    Rows-only by design (an eigendecomposition is not SQL-expressible);
    tests pin it against an exact NumPy recompute of the same corpus."""
    spark = embeddings.sparkSession
    mean, comps, eigvals, n, total = pca_fit(embeddings, n_components)
    if n < 2 or comps.shape[1] == 0:
        return empty_df(
            spark, "component int, eigenvalue double, explained_pct double, "
            "cum_explained_pct double"
        )
    total = total or 1.0
    rows = []
    cum = 0.0
    for j in range(comps.shape[1]):
        ev = float(eigvals[j])
        cum += ev
        rows.append(
            (
                j,
                round(ev, 6),
                round(100.0 * ev / total, 4),
                round(100.0 * cum / total, 4),
            )
        )
    return local_df(
        spark, rows,
        "component int, eigenvalue double, explained_pct double, "
        "cum_explained_pct double",
    )


def pca_whitened_audit(
    embeddings: DataFrame, n_components: int = PCA_COMPONENTS
) -> DataFrame:
    """One-row audit proving the whitening transform: over the projected
    corpus, the whitened covariance must be ≈ I and the reconstruction
    residual equals the variance the dropped components carry. All sums
    integer-quantized (same fold discipline as the fit), so the audit is
    layout-deterministic.

    Output: ``(n_rows, n_components, max_abs_offdiag, max_diag_dev,
    mean_recon_err)`` — the first two exact, the rest rounded to 6."""
    spark = embeddings.sparkSession
    mean, comps, eigvals, n, _total = pca_fit(embeddings, n_components)
    schema = (
        "n_rows bigint, n_components int, max_abs_offdiag double, "
        "max_diag_dev double, mean_recon_err double"
    )
    if n < 2 or comps.shape[1] == 0:
        return empty_df(spark, schema)
    m = comps.shape[1]
    Wp = comps / np.sqrt(np.maximum(eigvals, 1e-12))  # whitening projection
    mu = mean

    from ..sources.tables import fan_out

    emb = fan_out(
        embeddings.select("embedding").filter(F.col("embedding").isNotNull())
    )

    def partials(batches):
        cnt = 0
        sy = np.zeros(m, dtype=np.int64)
        gy = np.zeros((m, m), dtype=np.int64)
        res = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            block = np.array(list(pdf["embedding"]), dtype=np.float64)
            x = block - mu
            y = x @ Wp
            recon = (x @ comps) @ comps.T  # un-whitened basis reconstruction
            r2 = ((x - recon) ** 2).sum(axis=1)
            qy = np.rint(y * PCA_QUANT).astype(np.int64)
            cnt += len(qy)
            sy += qy.sum(axis=0)
            gy += qy.T @ qy
            res += int(np.rint(r2.sum() * PCA_QUANT))
        if cnt:
            yield pd.DataFrame(
                {
                    "n": [cnt],
                    "sy": [[int(v) for v in sy]],
                    "gy": [[int(v) for v in gy.ravel()]],
                    "res": [res],
                }
            )

    parts = emb.mapInPandas(
        partials, schema="n bigint, sy array<bigint>, gy array<bigint>, res bigint"
    ).collect()
    n_tot, res_tot = 0, 0
    sy_tot = [0] * m
    gy_tot = [0] * (m * m)
    for r in parts:
        n_tot += r.n
        res_tot += r.res
        for i, v in enumerate(r.sy):
            sy_tot[i] += v
        for i, v in enumerate(r.gy):
            gy_tot[i] += v
    s1 = np.array(sy_tot, dtype=np.float64) / PCA_QUANT
    s2 = np.array(gy_tot, dtype=np.float64).reshape(m, m) / (PCA_QUANT**2)
    my = s1 / n_tot
    covy = (s2 - n_tot * np.outer(my, my)) / (n_tot - 1)
    off = covy - np.diag(np.diag(covy))
    row = (
        int(n_tot),
        int(m),
        round(float(np.abs(off).max()) if m > 1 else 0.0, 6),
        round(float(np.abs(np.diag(covy) - 1.0).max()), 6),
        round(res_tot / PCA_QUANT / n_tot, 6),
    )
    return local_df(spark, [row], schema)
