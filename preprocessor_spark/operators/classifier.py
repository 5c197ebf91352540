"""Distributed text-quality classifier: hashed-n-gram logistic regression.

The fasttext-style linear quality filter is a standard stage of public
LLM-data pipelines (CCNet trains one against Wikipedia; Gopher/MassiveText,
LLaMA and Dolma all gate on a linear text classifier). The reference library
has no classifier surface at all — north-star addition.

Spark-first shape (the same two-phase pattern as the sketch PCA in
:mod:`preprocessor_spark.operators.embeddings`):

- **Featurize on executors**: hashing-trick char-n-gram counts → L2
  normalize, one dense float32 vector of dimension ``dim`` per doc, via an
  Arrow-batched pandas UDF. No vocabulary shuffle, no driver state — the
  hash IS the vocabulary (Weinberger et al. 2009, feature hashing).
- **Train with per-partition gradient sketches**: full-batch logistic
  regression; each iteration maps one ``mapInPandas`` pass over the cached
  feature table emitting a single (dim+2)-vector partial (Xᵀ(σ(Xw)−y)
  sum, loss sum, count) per partition → driver sums |partitions| sketches
  and takes a gradient step. This is exactly distributed full-batch GD on
  a 1000-executor cluster: data never moves, only |partitions| fixed-size
  gradient vectors per iteration.
- **Score on executors**: σ(x·w+b) per row, Arrow-batched.

Weak supervision: callers typically label with an existing heuristic gate
(e.g. the Gopher rules in :mod:`preprocessor_spark.operators.text`) or a
trusted-corpus-vs-crawl split, then apply the smooth learned score as the
filter — the CCNet recipe.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from preprocessor_spark.caching import register_persisted


# blake2b digest per DISTINCT n-gram, memoized per executor process: the
# naive per-occurrence hashing dominated the classifier queries' task time
# (one hash-object construction per character position). The digest is
# stored dim-independent (raw 32-bit int); `% dim` happens at use. Bounded
# so a pathological corpus cannot grow executor memory without limit —
# above the cap we still hash, we just stop remembering.
_NGRAM_MEMO: dict = {}
_NGRAM_MEMO_CAP = 1 << 20


def _feature_matrix(texts, dim: int, ngram: int = 3) -> np.ndarray:
    """Hashed char-n-gram count features, L2-normalized, dense (rows, dim).

    Bit-identical to hashing every occurrence: per-bucket values are sums
    of integer-valued counts (< 2^53, exact in float64), so accumulating
    per-distinct-n-gram counts instead of unit increments yields the same
    row, hence the same norm and the same normalized features.
    Deterministic across workers (hash = blake2b of the n-gram bytes)."""
    import hashlib
    from collections import Counter

    memo = _NGRAM_MEMO
    blake2b = hashlib.blake2b
    out = np.zeros((len(texts), dim), dtype=np.float64)
    for r, t in enumerate(texts):
        t = (t or "").lower()
        span = len(t) - ngram + 1
        if span <= 0:
            continue
        cnt = Counter([t[i : i + ngram] for i in range(span)])
        idx = np.empty(len(cnt), dtype=np.int64)
        vals = np.empty(len(cnt), dtype=np.float64)
        for j, (g, c) in enumerate(cnt.items()):
            h = memo.get(g)
            if h is None:
                h = int.from_bytes(blake2b(g.encode(), digest_size=4).digest(), "big")
                if len(memo) < _NGRAM_MEMO_CAP:
                    memo[g] = h
            idx[j] = h % dim
            vals[j] = c
        row = np.bincount(idx, weights=vals, minlength=dim)
        n = np.linalg.norm(row)
        if n > 0:
            row /= n
        out[r] = row
    return out


@dataclass(frozen=True)
class QualityClassifier:
    weights: np.ndarray  # (dim,)
    bias: float
    dim: int
    ngram: int
    losses: tuple[float, ...]  # per-iteration mean log-loss (training curve)


def fit_quality_classifier(
    df: DataFrame,
    text_col: str,
    label_col: str,
    dim: int = 1024,
    ngram: int = 3,
    iterations: int = 30,
    lr: float = 2.0,
    l2: float = 1e-4,
) -> QualityClassifier:
    """Full-batch logistic regression via per-partition gradient sketches.

    ``label_col`` must be 0/1. The featurized table is persisted once; every
    iteration is one narrow pass emitting |partitions| (dim+2)-vectors."""
    feat_schema = StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                {"name": "f", "type": {"type": "array", "elementType": "double", "containsNull": False}, "nullable": False, "metadata": {}},
                {"name": "y", "type": "double", "nullable": False, "metadata": {}},
            ],
        }
    )

    def _featurize(batches):
        for pdf in batches:
            X = _feature_matrix(pdf["__t"].tolist(), dim, ngram)
            yield pd.DataFrame({"f": list(X), "y": pdf["__y"].astype("float64")})

    feats = register_persisted(
        df.select(F.col(text_col).alias("__t"), F.col(label_col).cast("double").alias("__y"))
        .mapInPandas(_featurize, schema=feat_schema)
        .persist()
    )
    n_total = feats.count()  # materializes the cache; also the GD normalizer

    sketch_schema = StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                {"name": "g", "type": {"type": "array", "elementType": "double", "containsNull": False}, "nullable": False, "metadata": {}},
            ],
        }
    )

    w = np.zeros(dim, dtype=np.float64)
    b = 0.0
    losses: list[float] = []
    for _ in range(iterations):
        w_bc, b_bc = w.copy(), b  # closure-captured; shipped once per pass

        def _grad(batches):
            gw = np.zeros(dim + 2, dtype=np.float64)  # [grad_w | grad_b | loss]
            for pdf in batches:
                X = np.stack(pdf["f"].to_numpy())
                y = pdf["y"].to_numpy()
                z = X @ w_bc + b_bc
                p = 1.0 / (1.0 + np.exp(-z))
                err = p - y
                gw[:dim] += X.T @ err
                gw[dim] += err.sum()
                # numerically-stable log-loss: log(1+e^-|z|) + max(z,0) − zy
                gw[dim + 1] += float(
                    np.sum(np.log1p(np.exp(-np.abs(z))) + np.maximum(z, 0.0) - z * y)
                )
            yield pd.DataFrame({"g": [gw]})

        parts = feats.mapInPandas(_grad, schema=sketch_schema).collect()
        total = np.sum(np.stack([np.asarray(r["g"]) for r in parts]), axis=0)
        grad_w = total[:dim] / n_total + l2 * w
        grad_b = total[dim] / n_total
        losses.append(float(total[dim + 1] / n_total))
        w -= lr * grad_w
        b -= lr * grad_b
    feats.unpersist()
    return QualityClassifier(weights=w, bias=float(b), dim=dim, ngram=ngram, losses=tuple(losses))


def score_quality_udf(model: QualityClassifier):
    """text → σ(x·w+b) as an Arrow-batched pandas UDF."""
    from pyspark.sql.functions import pandas_udf

    w, b, dim, ngram = model.weights, model.bias, model.dim, model.ngram

    @pandas_udf("double")
    def _score(texts: pd.Series) -> pd.Series:
        X = _feature_matrix(texts.tolist(), dim, ngram)
        return pd.Series(1.0 / (1.0 + np.exp(-(X @ w + b))))

    return _score
