"""Seeded input generators for the benchmark's workloads.

Every input is a pure function of ``(workload, seed, scale)``: the same seed
writes byte-identical parquet, and a different seed moves which rows carry
nulls, infinities, rare labels and duplicates while the shares stay fixed, so
the amount of work per pass does not drift with the seed. The library only
ever sees the parquet written here.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per workload and scale. "full" is what the timed runs use; "tiny"
#: keeps the smoke test fast. prep_temporal's full size is close to the
#: smallest that gives the ``hc`` column more than the library's
#: MAX_COLLECT_LABELS (10,000) labels, so fit takes its kept-labels path;
#: in alternating runs the median of six steady passes was 12% lower at
#: 11,000 rows than at 16,000.
SIZES = {
    "prep_temporal": {"full": 11_500, "tiny": 3_000},
    "llm_data": {"full": (300, 512), "tiny": (200, 256)},  # (documents, vectors)
}

NULL_SHARE = 0.05
INF_SHARE = 0.002
CAT_NULL_SHARE = 0.01
#: (column, number of labels, Zipf exponent) for the skewed categoricals;
#: the tails of c30, c200 and c3000 fall under the library's 2% rare-label
#: threshold
CATEGORICALS = [("c5", 5, 0.6), ("c30", 30, 1.0), ("c200", 200, 1.1), ("c3000", 3000, 1.2)]
#: ``hc``: HC_HEAVY labels share HC_HEAVY_SHARE of the rows, each above the
#: 2% threshold so the kept set is not empty; every other row has a label of
#: its own
HC_HEAVY = 3
HC_HEAVY_SHARE = 0.10
TIES_PER_TIMESTAMP = 4
TS_NULL_SHARE = 0.02

# The documents follow the generator of the sf0.1 ``documents`` table, as
# measured on its 5,000 rows: 30 words drawn uniformly (8,829 to 9,182
# occurrences each), 10 to 100 words per document, ``lang`` shares
# en 2,059 / zh 753 / es 744 / fr 742 / de 702, ``source`` round-robin over
# src0..src19, and near duplicates marked by edits that insert "dup".
WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
MIN_WORDS, MAX_WORDS = 10, 100
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_COUNTS = [2059, 753, 744, 742, 702]
N_SOURCES = 20
EXACT_DUP_SHARE = 0.06
NEAR_DUP_SHARE = 0.06
NEAR_DUP_EDIT_SHARE = 0.08
#: the sf0.1 ``embeddings`` table: 64-dim unit vectors with 10 labels
EMB_DIM = 64
EMB_CLUSTERS = 10
EMB_NEAR_DUP_SHARE = 0.05


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table so adding a column to one table never
    # shifts the random draws of another
    key = int.from_bytes(hashlib.sha256(f"{seed}/{stream}".encode()).digest()[:8], "little")
    return np.random.default_rng(key)


def _zipf_probs(n: int, a: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** a
    return p / p.sum()


def _labels(prefix: str, n: int) -> np.ndarray:
    width = len(str(n - 1))
    return np.array([f"{prefix}_{i:0{width}d}" for i in range(n)], dtype=object)


def _mask(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """Exactly round(n*share) positions, so shares never vary with the seed."""
    m = np.zeros(n, dtype=bool)
    m[rng.choice(n, size=int(round(n * share)), replace=False)] = True
    return m


def prep_table(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "prep")
    cols: dict[str, pa.Array] = {"id": pa.array(np.arange(n, dtype=np.int64))}
    draws = [
        lambda: rng.normal(0.0, 1.0, n),
        lambda: rng.normal(50.0, 12.0, n),
        lambda: rng.lognormal(1.0, 0.8, n),
        lambda: rng.exponential(3.0, n),
        lambda: rng.uniform(-10.0, 10.0, n),
        # two modes; a heavy tail such as Student-t(3) is left out because
        # quantile inverse_transform misses the 1e-3 round trip on its
        # sparsest tail values
        lambda: np.where(rng.random(n) < 0.4, rng.normal(-5.0, 1.0, n), rng.normal(5.0, 2.0, n)),
        lambda: rng.gamma(2.0, 2.0, n),
        lambda: rng.integers(0, 1000, n).astype(np.float64),
    ]
    for i, draw in enumerate(draws):
        x = draw()
        nulls = _mask(rng, n, NULL_SHARE)
        infs = _mask(rng, n, INF_SHARE) & ~nulls
        x[infs] = np.where(rng.random(int(infs.sum())) < 0.5, np.inf, -np.inf)
        cols[f"x{i}"] = pa.array(x, mask=nulls)
    for name, k, a in CATEGORICALS:
        v = _labels(name, k)[rng.choice(k, size=n, p=_zipf_probs(k, a))]
        cols[name] = pa.array(v, mask=_mask(rng, n, CAT_NULL_SHARE), type=pa.string())
    heavy = _mask(rng, n, HC_HEAVY_SHARE)
    hc = np.array([f"hc_u{i}" for i in rng.permutation(n)], dtype=object)
    hc[heavy] = _labels("hc", HC_HEAVY)[rng.integers(0, HC_HEAVY, int(heavy.sum()))]
    cols["hc"] = pa.array(hc, type=pa.string())
    cols["b0"] = pa.array(rng.random(n) < 0.3)
    cols["b1"] = pa.array(rng.random(n) < 0.7, mask=_mask(rng, n, CAT_NULL_SHARE))
    # seconds on a grid with TIES_PER_TIMESTAMP rows per instant on average,
    # shuffled, so the datetime sort sees ties and no order
    base = np.datetime64("2024-01-01T00:00:00")
    secs = rng.integers(0, max(1, n // TIES_PER_TIMESTAMP), n) * 7
    ts = (base + secs.astype("timedelta64[s]")).astype(str)
    ts = np.char.replace(ts, "T", " ").astype(object)
    cols["ts"] = pa.array(ts, mask=_mask(rng, n, TS_NULL_SHARE), type=pa.string())
    return pa.table(cols)


def documents_table(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "documents")
    n_exact = int(round(n * EXACT_DUP_SHARE))
    n_near = int(round(n * NEAR_DUP_SHARE))
    n_base = n - n_exact - n_near
    words = np.array(WORDS, dtype=object)
    texts: list[str] = []
    for _ in range(n_base):
        k = int(rng.integers(MIN_WORDS, MAX_WORDS + 1))
        texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    for _ in range(n_exact):
        texts.append(texts[int(rng.integers(0, n_base))])
    for _ in range(n_near):
        toks = texts[int(rng.integers(0, n_base))].split()
        edits = rng.random(len(toks)) < NEAR_DUP_EDIT_SHARE
        for j in np.flatnonzero(edits):
            toks[j] = "dup" if rng.random() < 0.5 else str(words[rng.integers(0, len(words))])
        texts.append(" ".join(toks))
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    lang_p = np.array(LANG_COUNTS) / sum(LANG_COUNTS)
    kind = np.array(["base"] * n_base + ["exact"] * n_exact + ["near"] * n_near)[order]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(rng.choice(np.array(LANGS, dtype=object), n, p=lang_p)),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    return table, kind


def embeddings_table(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "embeddings")
    centers = rng.normal(0.0, 1.0, (EMB_CLUSTERS, EMB_DIM))
    label = rng.integers(0, EMB_CLUSTERS, n)
    x = centers[label] + rng.normal(0.0, 0.6, (n, EMB_DIM))
    dups = _mask(rng, n, EMB_NEAR_DUP_SHARE)
    src = rng.integers(0, n, int(dups.sum()))
    x[dups] = x[src] + rng.normal(0.0, 0.01, (int(dups.sum()), EMB_DIM))
    label[dups] = label[src]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32)), pa.array(x.ravel())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(label.astype(np.int32)),
        }
    ), float(dups.mean())


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, as in the library's own test data
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _numeric_props(table: pa.Table) -> dict:
    x = np.concatenate(
        [table[c].to_numpy(zero_copy_only=False) for c in table.column_names if c.startswith("x")]
    )
    return {
        "null_share": round(float(np.isnan(x).mean()), 6),
        "inf_share": round(float(np.isinf(x).mean()), 6),
    }


def generate(workload: str, seed: int, scale: str, out_dir: str) -> dict:
    """Write the workload's parquet into ``out_dir``; return its properties."""
    os.makedirs(out_dir, exist_ok=True)
    if workload == "prep_temporal":
        n = SIZES[workload][scale]
        table = prep_table(seed, n)
        _write(table, os.path.join(out_dir, "prep.parquet"))
        props = {"rows": n, **_numeric_props(table)}
        props["labels"] = {
            c: len(set(table[c].drop_null().to_pylist())) for c in [c for c, _, _ in CATEGORICALS] + ["hc"]
        }
        ts = table["ts"].drop_null().to_numpy(zero_copy_only=False)
        props["ts_distinct_share"] = round(len(set(ts)) / max(1, len(ts)), 6)
    elif workload == "llm_data":
        n_docs, n_vecs = SIZES[workload][scale]
        docs, kind = documents_table(seed, n_docs)
        emb, emb_dup_share = embeddings_table(seed, n_vecs)
        _write(docs, os.path.join(out_dir, "documents.parquet"))
        _write(emb, os.path.join(out_dir, "embeddings.parquet"))
        props = {
            "rows": n_docs + n_vecs,
            "documents": n_docs,
            "exact_dup_share": round(float((kind == "exact").mean()), 6),
            "near_dup_share": round(float((kind == "near").mean()), 6),
            "vectors": n_vecs,
            "dim": EMB_DIM,
            "vector_near_dup_share": round(emb_dup_share, 6),
        }
    else:
        raise ValueError(f"unknown workload {workload!r}")
    props["input_sha256"] = input_hash(out_dir)
    return props


def input_hash(out_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(out_dir, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()
