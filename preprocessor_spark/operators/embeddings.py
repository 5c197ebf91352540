"""Embedding-column operators: normalization, int8 quantization, PCA.

The embedding column is ``array<float>`` (FIXTURES: embeddings.embedding,
64-dim). Three families:

- **L2 norm / int8 quantize** — pure JVM higher-order expressions
  (cheap per-row reductions; stays in codegen, engine-portable so the
  DuckDB oracle can mirror with list_* lambdas).
- **PCA** — the scale-safe two-phase shape: per-partition moment
  sketches (n, Σx, Σxxᵀ) via mapInPandas — one d×d matrix per partition,
  NOT per row — reduced driver-side (d=64 → 32 KiB each), eigendecomposed
  with numpy, then projection is a single Arrow-batched matmul per batch.
  This is exactly how a 1000-executor cluster does PCA over 100 TB: the
  only data movement is |partitions| fixed-size sketches.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def l2_norm_expr(vec: Column) -> Column:
    """||v||₂ as a JVM fold."""
    return F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x))


def quantize_int8_exprs(vec: Column) -> dict[str, Column]:
    """Symmetric per-row int8 quantization: scale = max|x| / 127,
    q_i = round(x_i/scale). Returns the quantized array plus the scale
    needed to dequantize (q·scale ≈ x, error ≤ scale/2)."""
    amax = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    scale = amax / F.lit(127.0)
    q = F.transform(
        vec,
        lambda x: F.when(amax > 0, F.round(x.cast("double") / scale).cast("int")).otherwise(
            F.lit(0)
        ),
    )
    return {"q": q, "scale": scale}


@dataclass(frozen=True)
class PCAModel:
    """Driver-held fitted state: column means and the top-k principal
    axes (rows of ``components``), eigenvalues in descending order."""

    mean: np.ndarray  # (d,)
    components: np.ndarray  # (k, d)
    explained_variance: np.ndarray  # (k,)

    @property
    def k(self) -> int:
        return self.components.shape[0]


def pca_fit(df: DataFrame, vec_col: str = "embedding", k: int = 8) -> PCAModel:
    """Fit PCA from distributed second-moment sketches.

    Each partition emits one (n, Σx, Σxxᵀ) sketch — constant size in the
    row count — so the driver reduce handles |partitions| rows of ~d²
    doubles. Covariance = Σxxᵀ/n − μμᵀ (sample-corrected n/(n−1)), then
    ``numpy.linalg.eigh``; sign fixed so each component's largest-|.|
    coordinate is positive (deterministic across runs/partitionings).
    """
    out_schema = "n long, s array<double>, ss array<double>"

    def _sketch(batches):
        n = 0
        s = None
        ss = None
        for pdf in batches:
            for v in pdf[vec_col]:
                if v is None:
                    continue
                x = np.asarray(v, dtype=np.float64)
                if s is None:
                    s = np.zeros_like(x)
                    ss = np.zeros((x.size, x.size))
                n += 1
                s += x
                ss += np.outer(x, x)
        if n:
            yield pd.DataFrame({"n": [n], "s": [s.tolist()], "ss": [ss.ravel().tolist()]})

    rows = df.select(vec_col).mapInPandas(_sketch, schema=out_schema).collect()
    if not rows:
        raise ValueError("pca_fit: no non-null vectors")
    n = sum(r["n"] for r in rows)
    d = len(rows[0]["s"])
    if k > d:
        raise ValueError(f"k={k} exceeds dimension {d}")
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    ss = np.sum([np.asarray(r["ss"]).reshape(d, d) for r in rows], axis=0)
    mean = s / n
    cov = (ss / n - np.outer(mean, mean)) * (n / max(n - 1, 1))
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T
    # Deterministic sign: flip so the max-|coeff| coordinate is positive.
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return PCAModel(mean=mean, components=comps, explained_variance=evals[order])


def pca_transform(
    df: DataFrame, model: PCAModel, vec_col: str = "embedding", out_col: str = "pca"
) -> DataFrame:
    """Project onto the fitted axes: one numpy matmul per Arrow batch."""
    mean = model.mean
    comps_t = model.components.T  # (d, k)

    @F.pandas_udf("array<double>")
    def _project(s: pd.Series) -> pd.Series:
        if s.empty:
            return pd.Series([], dtype=object)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in s])
        proj = (mat - mean) @ comps_t
        return pd.Series(list(proj))

    return df.withColumn(out_col, _project(F.col(vec_col)))
