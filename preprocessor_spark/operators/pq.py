"""Product quantization (PQ) for embedding compression + ADC search.

The 100 TB story for vector search: a 768-dim float32 embedding is 3 KB;
its PQ code at m=8 subquantizers is **8 bytes** — a ~384× compression that
turns a petabyte vector corpus into a few terabytes of codes that scan at
memory bandwidth. Jégou et al., "Product Quantization for Nearest Neighbor
Search" (TPAMI 2011) — public method, re-derived here on Spark primitives.

Pieces:

- :func:`pq_train` — per-subspace k-means codebooks on a bounded,
  deterministic driver-side sample (same contract as
  ``similarity.ivf_train_centroids``: the codebooks are tiny, fully
  reproducible from (sample, seed), and persistable).
- :func:`pq_encode` — ONE Arrow-batched pass: normalize, split into m
  subvectors, vectorized argmin against each codebook → ``array<smallint>``
  codes. Pure projection, zero shuffles.
- :func:`pq_search_adc` — asymmetric distance computation: the query stays
  exact; each corpus code scores as ``sum_j LUT[q, j, code_j]`` where
  ``LUT[q, j, c] = <q_j, codebook[j][c]>``. The LUT tensor (Q × m × 256
  float32) broadcasts; the encoded corpus streams through one
  ``mapInPandas`` with per-batch top-k pruning — the same zero-shuffle
  shape as ``cosine_topk``, but each corpus row moves
  m bytes instead of 4·d.

Composes with IVF (``similarity.ivf_assign``): encode the assignments
frame once, store codes partitioned by cell, and ADC-scan only probed
cells — the standard IVF-PQ index.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from preprocessor_spark.operators.similarity import _normalized


def _unit_rows(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


def pq_train(
    corpus: DataFrame,
    vec_col: str,
    m: int = 8,
    n_codes: int = 256,
    sample_rows: int = 2048,
    kmeans_iters: int = 10,
    seed: int = 7,
) -> np.ndarray:
    """Train PQ codebooks → float64 array (m, n_codes, dim/m).

    Vectors are L2-normalized first (cosine regime — ADC inner products on
    normalized vectors approximate cosine). Each of the m subspaces gets an
    independent k-means on the driver-side sample; empty clusters keep
    their previous centroid (standard Lloyd's with dead-centroid freeze).
    """
    sample = np.array(
        [r[0] for r in corpus.select(vec_col).limit(sample_rows).collect()],
        dtype="float64",
    )
    if sample.ndim != 2 or not len(sample):
        raise ValueError("pq_train: empty or malformed vector sample")
    d = sample.shape[1]
    if d % m:
        raise ValueError(f"pq_train: dim {d} not divisible by m={m}")
    sample = _unit_rows(sample)
    dsub = d // m
    n_codes = min(n_codes, len(sample))
    rng = np.random.RandomState(seed)
    books = np.empty((m, n_codes, dsub), dtype="float64")
    for j in range(m):
        x = sample[:, j * dsub : (j + 1) * dsub]
        cents = x[rng.choice(len(x), n_codes, replace=False)].copy()
        # BIT-IDENTICAL fast Lloyd's (this loop dominated the 3 PQ queries'
        # driver-side cost — ~2.2 s of each). Three rewrites, each provably
        # reproducing the naive loop bit-for-bit:
        #  - |x|² rows hoisted out of the loop; d2 assembled with in-place
        #    adds in the SAME association order ((xx − 2s) + cn; IEEE
        #    a−b ≡ a+(−b) and fl(−2s) is the exact negation of fl(2s)),
        #  - per-cluster means only for clusters whose MEMBERSHIP changed
        #    (unchanged member set ⇒ identical numpy pairwise mean ⇒
        #    skipping the recompute is a no-op); members come from a
        #    stable argsort slice, which preserves the original row order
        #    the boolean mask produced,
        #  - stop when the assignment reaches a fixed point (unchanged
        #    assignment ⇒ unchanged means ⇒ every later iteration is a
        #    no-op).
        xx = (x * x).sum(axis=1, keepdims=True)
        prev = None
        for _ in range(kmeans_iters):
            # L2 argmin == argmax(2<x,c> - |c|^2); B×K distances
            d2 = -2.0 * (x @ cents.T)
            d2 += xx
            d2 += (cents * cents).sum(axis=1)[None, :]
            assign = d2.argmin(axis=1)
            if prev is not None and np.array_equal(assign, prev):
                break
            if prev is None:
                dirty = np.arange(n_codes)
            else:
                moved = assign != prev
                dirty = np.unique(
                    np.concatenate([assign[moved], prev[moved]])
                )
            order = np.argsort(assign, kind="stable")
            xs = x[order]
            sa = assign[order]
            starts = np.searchsorted(sa, dirty, side="left")
            ends = np.searchsorted(sa, dirty, side="right")
            for c, s, e in zip(dirty.tolist(), starts.tolist(), ends.tolist()):
                if e > s:
                    cents[c] = xs[s:e].mean(axis=0)
            prev = assign
        books[j] = cents
    return books


def _encode_mat(mat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Vectorized encoder: (B, d) unit rows → (B, m) int16 codes."""
    m, n_codes, dsub = books.shape
    b = mat.shape[0]
    codes = np.empty((b, m), dtype="int16")
    for j in range(m):
        x = mat[:, j * dsub : (j + 1) * dsub]
        d2 = (
            (x * x).sum(axis=1, keepdims=True)
            - 2.0 * (x @ books[j].T)
            + (books[j] * books[j]).sum(axis=1)[None, :]
        )
        codes[:, j] = d2.argmin(axis=1).astype("int16")
    return codes


def pq_encode(
    df: DataFrame,
    books: np.ndarray,
    vec_col: str,
    id_col: str,
    out_id: str = "neighbor_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Encode every vector to its PQ code: one Arrow-batched projection,
    zero shuffles. Output: (out_id, code_col array<smallint>)."""
    from pyspark.sql.functions import pandas_udf

    bks = books  # closure capture; tiny (m·256·dsub float64)

    @pandas_udf("array<smallint>")
    def _enc(vecs: pd.Series) -> pd.Series:
        mat = _unit_rows(np.array(vecs.tolist(), dtype="float64"))
        return pd.Series(list(_encode_mat(mat, bks)))

    base = _normalized(df, vec_col, id_col, out_id, "__v")
    return base.select(out_id, _enc(F.col("__v")).alias(code_col))


def pq_reconstruct(codes: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Decode (B, m) codes back to (B, d) approximate vectors (tests /
    re-ranking)."""
    m = books.shape[0]
    return np.concatenate([books[j][codes[:, j]] for j in range(m)], axis=1)


def pq_search_adc(
    index: DataFrame,
    books: np.ndarray,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    code_col: str = "pq_code",
) -> DataFrame:
    """ADC top-k over an encoded corpus → (query_id, neighbor_id,
    adc_score, rank). ``adc_score = <q, reconstruct(code)>`` up to float
    accumulation order (the LUT sum IS that inner product, re-associated
    per subspace; asserted ≤1e-12 in tests).

    The query side collects under the same 1M-row fail-fast guard as
    ``cosine_topk`` — the identical driver→executor
    movement a broadcast join performs — and the corpus streams through
    ONE mapInPandas with per-batch pruning: only batches × Q × k candidate
    rows reach the final ranking window. Ties break on the 1e-6-rounded
    score then neighbor id, same contract as every ANN operator here.
    """
    q = _normalized(queries, vec_col, id_col, "query_id", "__qv")
    qrows = q.limit(1_000_001).collect()
    if len(qrows) > 1_000_000:
        raise ValueError(
            "pq_search_adc: query side exceeds the 1M-row broadcast guard"
        )
    qids = np.array([r["query_id"] for r in qrows], dtype="int64")
    qmat = np.array([r["__qv"] for r in qrows], dtype="float64")
    m, n_codes, dsub = books.shape
    # LUT[q, j, c] = <q_j, books[j, c]>  (Q × m × n_codes)
    lut = np.einsum(
        "qjd,jcd->qjc", qmat.reshape(len(qids), m, dsub), books
    ).astype("float64")
    bc = index.sparkSession.sparkContext.broadcast((qids, lut))

    def _scan(batches):
        bqids, blut = bc.value
        nq = len(bqids)
        jidx = np.arange(m)
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.array(pdf[code_col].tolist(), dtype="int64")  # B×m
            # gather: scores[b, q] = sum_j blut[q, j, codes[b, j]]
            gathered = blut[:, jidx[None, :], codes]  # Q×B×m
            sims = gathered.sum(axis=2).T  # B×Q
            nids = pdf["neighbor_id"].to_numpy()
            sims[nids[:, None] == bqids[None, :]] = -np.inf
            kk = min(k, sims.shape[0])
            rs = np.round(sims, 6)
            qcols, ncols, scols = [], [], []
            for j in range(nq):
                order = np.lexsort((nids, -rs[:, j]))[:kk]
                sel = sims[order, j]
                fin = np.isfinite(sel)
                qcols.append(np.full(int(fin.sum()), bqids[j], dtype="int64"))
                ncols.append(nids[order][fin])
                scols.append(sel[fin])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(qcols),
                    "neighbor_id": np.concatenate(ncols),
                    "adc_score": np.concatenate(scols),
                }
            )

    pruned = index.mapInPandas(
        _scan, "query_id bigint, neighbor_id bigint, adc_score double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("adc_score"), 6).desc(), F.col("neighbor_id").asc()
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_score", "rank")
    )


def ivfpq_assign_encode(
    corpus: DataFrame,
    cents: np.ndarray,
    books: np.ndarray,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Build the IVF-PQ index frame: (neighbor_id, __cell, pq_code).
    Composes ``similarity.ivf_assign`` (cell routing) with PQ codes — at
    rest this is written ``partitionBy("__cell")``, so a probe reads only
    its cells' files AND each row is m bytes of code instead of the raw
    vector."""
    from pyspark.sql.functions import pandas_udf

    bks = books
    cmat = cents.T  # d×C

    @pandas_udf("struct<cell:int, code:array<smallint>>")
    def _assign_enc(vecs: pd.Series) -> pd.DataFrame:
        # ONE fused Arrow pass for cell routing + PQ encoding: the corpus
        # vectors used to cross the JVM→Python boundary twice (the
        # ivf_assign nearest-cell UDF, then the encode UDF re-reading
        # __cv) — data-sized traffic at any corpus scale (guide §4.1).
        # Arithmetic is kept call-for-call identical to the two-UDF path:
        # the same _unit_rows re-normalization of the JVM-normalized
        # input feeds BOTH the cell argsort (same np.argsort(-sims) call
        # ivf_assign's element_at(..., 1) read) and _encode_mat, so cells
        # and codes are bit-equal (asserted in tests/test_round6_ops.py).
        mat = _unit_rows(np.array(vecs.tolist(), dtype="float64"))
        sims = mat @ cmat  # B×C
        order = np.argsort(-sims, axis=1)
        return pd.DataFrame(
            {
                "cell": order[:, 0].astype("int32"),
                "code": list(_encode_mat(mat, bks)),
            }
        )

    # non-deterministic marking (as dedup.py's _jaccard): a probe-cell
    # filter on __cell otherwise pushes under the projection and the
    # optimizer DUPLICATES the UDF, encoding every corpus row twice. The
    # function is pure; the marking only stops that re-evaluation.
    _assign_enc = _assign_enc.asNondeterministic()

    base = _normalized(corpus, vec_col, id_col, "neighbor_id", "__cv")
    return base.select(
        "neighbor_id", _assign_enc(F.col("__cv")).alias("__ac")
    ).select(
        "neighbor_id",
        F.col("__ac.cell").alias("__cell"),
        F.col("__ac.code").alias("pq_code"),
    )


def ivfpq_search(
    index: DataFrame,
    cents: np.ndarray,
    books: np.ndarray,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_probe: int = 3,
    code_col: str = "pq_code",
    refine: DataFrame | None = None,
    refine_factor: int = 4,
) -> DataFrame:
    """The standard IVF-PQ search: each query ADC-scans ONLY its n_probe
    nearest cells' codes. Queries explode to probed cells and equi-join
    the index on the cell id (the same bucket-join shape as
    ``similarity.ivf_cosine_topk``, plus a probed-cell isin pushdown that
    becomes static partition pruning on a ``partitionBy("__cell")``
    layout); scores are the broadcast-LUT gather; top-k is a bounded keyed
    window. With ``n_probe >= n_cells`` the result equals the exhaustive
    :func:`pq_search_adc` exactly (asserted in tests).

    ``refine`` (IVFADC+R, Jégou et al.): pass the ORIGINAL corpus frame to
    re-rank each query's top ``k * refine_factor`` ADC candidates by exact
    cosine. The candidate set is |Q|·k·refine_factor rows — a bounded keyed
    join back to the raw vectors (at rest the corpus is id-addressable
    parquet, so this is a point-lookup join, not a rescan) — recovering the
    recall that m-byte codes quantize away while the ADC scan still touches
    only codes. The refined score column is exact ``cosine``."""
    from preprocessor_spark.caching import register_persisted
    from preprocessor_spark.operators.similarity import _nearest_cells_udf

    # one row per query: the collect below moves |Q| vectors, and the
    # probe join side explodes the cached cell lists
    q = _normalized(queries, vec_col, id_col, "query_id", "__qv").withColumn(
        "__cells", F.slice(_nearest_cells_udf(cents)(F.col("__qv")), 1, n_probe)
    )
    q = register_persisted(q.persist())
    # ONE collect serves the LUT build AND the probe-cell pushdown
    qrows = q.limit(1_000_001).collect()
    if len(qrows) > 1_000_000:
        raise ValueError("ivfpq_search: query side exceeds the 1M-row guard")
    by_qid: dict = {}
    for r in qrows:
        by_qid.setdefault(r["query_id"], r["__qv"])
    probed = sorted({c for r in qrows for c in r["__cells"]})
    index = index.filter(F.col("__cell").isin(probed))

    m, n_codes, dsub = books.shape
    qids = np.array(sorted(by_qid), dtype="int64")
    qmat = np.array([by_qid[int(i)] for i in qids], dtype="float64")
    lut = np.einsum("qjd,jcd->qjc", qmat.reshape(len(qids), m, dsub), books)
    pos = {int(i): n for n, i in enumerate(qids)}
    bc = index.sparkSession.sparkContext.broadcast((pos, lut))

    probes = q.select("query_id", F.explode("__cells").alias("__cell"))
    joined = (
        index.join(probes, "__cell")
        .select("query_id", "neighbor_id", code_col)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )

    def _score(batches):
        bpos, blut = bc.value
        jidx = np.arange(m)
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.array(pdf[code_col].tolist(), dtype="int64")  # B×m
            qrow = np.array([bpos[int(x)] for x in pdf["query_id"]], dtype="int64")
            scores = blut[qrow[:, None], jidx[None, :], codes].sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "adc_score": scores,
                }
            )

    scored = joined.mapInPandas(
        _score, "query_id bigint, neighbor_id bigint, adc_score double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("adc_score"), 6).desc(), F.col("neighbor_id").asc()
    )
    k_adc = k if refine is None else k * refine_factor
    ranked = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_adc)
        .select("query_id", "neighbor_id", "adc_score", "rank")
    )
    if refine is None:
        return ranked
    # The candidate set is bounded by |Q|·k·refine_factor BY CONSTRUCTION
    # (the rank window above), but the planner cannot see that — an
    # estimate-driven sort-merge join would shuffle the ENTIRE raw corpus
    # by id to serve a handful of point lookups (guide §3.1: pick the
    # strategy deliberately). Broadcast the candidate ids instead: the
    # corpus never shuffles, and the normalize expressions run only on the
    # matched candidate rows rather than every corpus row (same per-row
    # arithmetic on the same rows → identical cosines).
    cand = ranked.select(
        "query_id", F.col("neighbor_id").alias("__cand_nid")
    )
    matched = refine.join(F.broadcast(cand), F.col(id_col) == F.col("__cand_nid"))
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(vec_d, F.lit(0.0), lambda acc, x: acc + x * x))
    corp = matched.select(
        "query_id",
        F.col("__cand_nid").alias("neighbor_id"),
        F.transform(vec_d, lambda x: x / nrm).alias("__nv"),
    )
    qvecs = q.select("query_id", "__qv").distinct()
    exact = corp.join(F.broadcast(qvecs), "query_id").select(
        "query_id",
        "neighbor_id",
        F.aggregate(
            F.zip_with("__qv", "__nv", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("cosine"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cosine"), 6).desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
