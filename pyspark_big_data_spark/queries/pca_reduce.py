"""PCA dimensionality reduction for the embedding pipeline.

The data-DEPENDENT counterpart to the hash/SRP projections already in
the engine: center the corpus, find the top-R principal directions,
and project every embedding to R dims — the standard pre-ANN shrink
when embeddings are not Matryoshka-trained (compare
queries/truncated_ann.py, which exploits trained prefix structure;
PCA *builds* that structure for arbitrary embeddings).

Distributed shape (the only one that survives 100 TB):
- mean + covariance in ONE Arrow mapInPandas pass emitting per-batch
  partial (count, sum, X^T X) blocks — dim*(dim+1) doubles per batch,
  reduced on the driver (a 64x64 matrix: trivially driver-sized);
- eigh of the dim x dim covariance on the driver (O(dim^3), constant);
- the R x dim component matrix rides a broadcast back; projection is
  R fixed-order dot products over flat codegen columns — scan speed,
  zero shuffles end to end.

No SQL oracle (eigendecomposition has no DuckDB twin): registered
rows-only; correctness is pinned in tests/test_pca.py against a
straight numpy PCA of the collected corpus (projections equal up to
per-component sign at test scale) plus the algebraic invariants
(orthonormal components, non-increasing explained variance, projecting
on more components never increases reconstruction error).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from pyspark_big_data_spark import fs
from pyspark_big_data_spark.functions import vectors as V
from pyspark_big_data_spark.io import read_table
from pyspark_big_data_spark.queries.registry import register

_R = 8  # output dimensionality


def corpus_mean_cov(emb: DataFrame, dim: int) -> tuple[np.ndarray, np.ndarray, int]:
    """(mean, covariance, n) via one partial-moments pass.

    Each Arrow batch contributes (n, colsum, X^T X); the driver reduces
    the partials and assembles cov = M2/n - mean mean^T. Numerically
    fine here because embeddings are O(1)-scaled; a shifted-moments
    variant drops in behind the same seam if inputs are wildly offset.
    """
    import pandas as pd

    def partials(batches):
        for pdf in batches:
            x = np.asarray(list(pdf["e"]), dtype=np.float64)
            if x.size == 0:
                continue
            yield pd.DataFrame(
                {
                    "n": [x.shape[0]],
                    "s": [x.sum(axis=0).tolist()],
                    "m2": [(x.T @ x).ravel().tolist()],
                }
            )

    rows = emb.select("e").mapInPandas(
        partials, schema="n long, s array<double>, m2 array<double>"
    ).collect()
    n = sum(r["n"] for r in rows)
    s = np.sum([np.array(r["s"]) for r in rows], axis=0)
    m2 = np.sum([np.array(r["m2"]).reshape(dim, dim) for r in rows], axis=0)
    mean = s / n
    cov = m2 / n - np.outer(mean, mean)
    return mean, cov, n


def principal_components(cov: np.ndarray, r: int) -> tuple[np.ndarray, np.ndarray]:
    """Top-r (eigenvalues, components) of a symmetric covariance,
    deterministically sign-fixed (largest-|.| coordinate positive) so
    reruns and engines agree on direction."""
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:r]
    comps = vecs[:, order].T  # r x dim
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return vals[order], comps


def pca_project(
    emb: DataFrame, dim: int, r: int = _R
) -> tuple[DataFrame, np.ndarray, np.ndarray]:
    """Project (vec_id, e) to r dims. Returns (projected_df, eigvals,
    components). The projection itself is r fixed-order flat-column
    dots — JVM codegen, no Python in the per-row path."""
    mean, cov, _ = corpus_mean_cov(emb, dim)
    vals, comps = principal_components(cov, r)
    flat = V.flatten_vec(emb, "e", dim, "_x", ["vec_id"])
    # center-and-dot folded into one linear form per component:
    # p_i = sum_j c_ij * (x_j - mu_j) = sum_j c_ij x_j - c_i . mu
    outs = []
    for i in range(r):
        acc = F.lit(-float(comps[i] @ mean))
        for j in range(dim):
            acc = acc + F.lit(float(comps[i, j])) * F.col(f"_x{j}")
        outs.append(acc.alias(f"p{i}"))
    return flat.select("vec_id", *outs), vals, comps


@register("embedding_pca_project", driver=False)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R={_R}-dim PCA projection of every embedding (rows-only: no SQL
    twin for eigh; see module docstring for the pytest oracle)."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    dim_row = emb.select(F.size("e").alias("d")).first()
    dim = dim_row["d"] if dim_row else 64
    out, _, _ = pca_project(emb, dim)
    return out.orderBy("vec_id")


# ---------------------------------------------------------------------------
# Incremental PCA: persisted mergeable moments
# ---------------------------------------------------------------------------
#
# The moments (n, colsum, X^T X) are EXACTLY mergeable — the property
# the batch pass above already exploits per Arrow batch. Persisting
# them gives the incremental story the dedup/ANN indexes have: each
# arriving batch folds its partials into a tiny parquet artifact
# (1 row: two numbers + dim + dim^2 doubles), and components re-derive
# from the artifact in O(dim^3) on the driver WITHOUT rescanning the
# corpus. At 100 TB the corpus is never re-read to refresh a
# projection; only new data is touched.


def update_moments(batch: DataFrame, dim: int, path: str) -> tuple[np.ndarray, np.ndarray, int]:
    """Fold one batch of (vec_id, e) into the persisted moments at
    ``path`` (absent = first batch); returns the UPDATED (mean, cov, n).

    The fold is numerically exact w.r.t. batching: partial sums add, so
    any split of the corpus into batches yields the same moments up to
    float addition order (asserted in tests/test_pca.py)."""
    spark = batch.sparkSession
    import pandas as pd

    def partials(batches):
        for pdf in batches:
            x = np.asarray(list(pdf["e"]), dtype=np.float64)
            if x.size == 0:
                continue
            yield pd.DataFrame(
                {
                    "n": [x.shape[0]],
                    "s": [x.sum(axis=0).tolist()],
                    "m2": [(x.T @ x).ravel().tolist()],
                }
            )

    rows = batch.select("e").mapInPandas(
        partials, schema="n long, s array<double>, m2 array<double>"
    ).collect()
    n = sum(r["n"] for r in rows)
    s = np.sum([np.array(r["s"]) for r in rows], axis=0) if rows else np.zeros(dim)
    m2 = (
        np.sum([np.array(r["m2"]).reshape(dim, dim) for r in rows], axis=0)
        if rows
        else np.zeros((dim, dim))
    )

    if fs.exists(spark, path):
        prev = spark.read.parquet(path).collect()[0]
        n += prev["n"]
        s = s + np.array(prev["s"])
        m2 = m2 + np.array(prev["m2"]).reshape(dim, dim)

    row = [(int(n), [float(v) for v in s], [float(v) for v in m2.ravel()])]
    upd = spark.createDataFrame(row, "n long, s array<double>, m2 array<double>")
    tmp = path.rstrip("/") + ".tmp"
    upd.coalesce(1).write.mode("overwrite").parquet(tmp)
    # swap, never delete-then-rename: a failed rename must leave the
    # previous moments in place, or the next batch sees none and
    # silently restarts the fold from zero
    fs.swap_dir(spark, tmp, path, "moments")

    mean = s / n
    cov = m2 / n - np.outer(mean, mean)
    return mean, cov, n
