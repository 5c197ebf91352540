"""Perceptual image hashing (dHash) + Hamming near-duplicate clustering.

Image-level dedup for multimodal training corpora: re-encodes, resizes,
and mild recompression change every byte of an image file but barely move
its PERCEPTUAL hash, so near-dup detection runs on 64-bit hashes instead
of pixels. This module implements difference hash (dHash — the
gradient-direction variant popularized by the pHash family): area-average
the grayscale image to a 9×8 grid, emit one bit per horizontal neighbor
pair (left < right), pack 64 bits row-major.

Identical hashes (exact re-uploads, same-render thumbnails) collapse to
one representative per distinct 64-bit value first, so the pairing work is
quadratic only in distinct hashes, never in duplication. Pairing mirrors
the SimHash pigeonhole machinery
(:mod:`preprocessor_spark.operators.dedup`): split the 64-bit hash into
``max_hamming + 1`` chunks — two hashes within ``max_hamming`` bits must
agree on at least one whole chunk — so candidates come from a plain
(chunk_idx, chunk_value) equi-join, then one JVM ``bit_count(a ^ b)``
recheck makes the pair set EXACT for the threshold. No cross product; the
per-bucket skew guard bounds pathological chunks the same way LSH
``max_bucket`` does.

Decoding is the pure-numpy :func:`decode_image` family (PNG/JPEG/GIF/
TIFF/BMP/PPM — see multimodal.py) over Arrow-batched ``mapInPandas``;
``decoder="fake"`` keeps the plumbing runnable on non-image payloads.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from preprocessor_spark.caching import register_persisted


def _area_pool(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Area-average resample to (out_h, out_w) — deterministic, pure numpy.

    Boundaries are the integer splits ``floor(i * n / out)``; every source
    pixel contributes to exactly one cell, so hashes are stable under the
    exact pixel content rather than an interpolation kernel choice.
    """
    h, w = img.shape
    ys = (np.arange(out_h + 1) * h) // out_h
    xs = (np.arange(out_w + 1) * w) // out_w
    # guard degenerate inputs smaller than the grid: clamp to >=1 px cells
    out = np.empty((out_h, out_w), dtype=np.float64)
    for r in range(out_h):
        y0, y1 = ys[r], max(ys[r + 1], ys[r] + 1)
        row = img[min(y0, h - 1) : min(y1, h), :]
        for c in range(out_w):
            x0, x1 = xs[c], max(xs[c + 1], xs[c] + 1)
            out[r, c] = float(row[:, min(x0, w - 1) : min(x1, w)].mean())
    return out


def dhash64(img: np.ndarray) -> int:
    """64-bit difference hash of a 2-D grayscale array (row-major bits,
    bit r*8+c set iff cell (r,c) < cell (r,c+1) on the 9-wide grid).
    Returned as a SIGNED 64-bit value (Spark BIGINT-compatible)."""
    g = _area_pool(np.asarray(img, dtype=np.float64), 8, 9)
    bits = g[:, :-1] < g[:, 1:]
    v = 0
    for pos, b in enumerate(bits.ravel()):
        if b:
            v |= 1 << pos
    return v - (1 << 64) if v >= 1 << 63 else v


def dhash64_batch(imgs: list[np.ndarray]) -> list[int]:
    """Batch dHash: same-shape images stack into one (N, h, w) array and
    pool via two ``np.add.reduceat`` passes instead of N×72 Python-loop
    slices. Bit-identical to :func:`dhash64` for integer-valued pixel
    grids (uint8 decoders): cell sums of integers ≤ 2^53 are exact in
    float64 regardless of summation order, so the mean and every ``<``
    comparison match the scalar path exactly. Shapes smaller than the
    9×8 grid fall back to the scalar clamped pooler."""
    out: list[int] = [0] * len(imgs)
    by_shape: dict[tuple[int, int], list[int]] = {}
    for i, a in enumerate(imgs):
        by_shape.setdefault(a.shape, []).append(i)
    for (h, w), idxs in by_shape.items():
        if h < 8 or w < 9:
            for i in idxs:
                out[i] = dhash64(imgs[i])
            continue
        stack = np.stack([np.asarray(imgs[i], dtype=np.float64) for i in idxs])
        ys = (np.arange(9) * h) // 8
        xs = (np.arange(10) * w) // 9
        s = np.add.reduceat(stack, ys[:-1], axis=1)
        s = np.add.reduceat(s, xs[:-1], axis=2)
        area = np.outer(np.diff(ys), np.diff(xs)).astype(np.float64)
        g = s / area
        bits = (g[:, :, :-1] < g[:, :, 1:]).reshape(len(idxs), 64)
        v = np.zeros(len(idxs), dtype=np.uint64)
        for pos in range(64):
            v |= bits[:, pos].astype(np.uint64) << np.uint64(pos)
        signed = v.view(np.int64)
        for j, i in enumerate(idxs):
            out[i] = int(signed[j])
    return out


DHASH_SCHEMA = "id bigint, dhash bigint, width int, height int"


def image_dhash(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    decoder: str = "auto",
) -> DataFrame:
    """(id, dhash, width, height) per image via Arrow-batched mapInPandas."""
    if decoder not in ("auto", "fake"):
        raise ValueError(f"decoder must be 'auto' or 'fake', got {decoder!r}")
    from preprocessor_spark.operators.multimodal import (
        _fake_decode_image,
        decode_image,
    )

    decode = decode_image if decoder == "auto" else _fake_decode_image

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            imgs = [decode(b) for b in pdf[binary_col]]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].values,
                    "dhash": dhash64_batch(imgs),
                    "width": [a.shape[1] for a in imgs],
                    "height": [a.shape[0] for a in imgs],
                }
            )

    return df.select(id_col, binary_col).mapInPandas(_hash, DHASH_SCHEMA)


def _rep_near_pairs(h: DataFrame, max_hamming: int, max_bucket: int) -> DataFrame:
    """Rep-level near pairs over DISTINCT hash values: (ra, rb, ha, hb,
    hamming) with hamming in [1, max_hamming] (0 is impossible across
    distinct hashes), each unordered hash pair once. ``h`` is the persisted
    (__id, __h) frame; the representative of a hash is its min member id."""
    n_chunks = max_hamming + 1
    base = 64 // n_chunks
    extra = 64 % n_chunks
    widths = [base + (1 if i < extra else 0) for i in range(n_chunks)]
    offs = [sum(widths[:i]) for i in range(n_chunks)]

    reps = h.groupBy("__h").agg(F.min("__id").alias("__id")).select("__id", "__h")
    # one explode instead of an n_chunks-way unionAll: the union form
    # re-ran the reps groupBy once per chunk, and the unpersisted result
    # was then consumed three more times (bucket sizing + both self-join
    # sides) — at 5 consumers the distinct-hash aggregation executed 12×
    # per query (guide §2.4). The persisted explode computes it once.
    chunk_structs = [
        F.struct(
            F.lit(i).alias("__ci"),
            F.shiftright(F.col("__h"), o)
            .bitwiseAND(F.lit((1 << w) - 1))
            .alias("__cv"),
        )
        for i, (o, w) in enumerate(zip(offs, widths))
    ]
    chunks = register_persisted(
        reps.select(
            "__id", "__h", F.explode(F.array(*chunk_structs)).alias("__c")
        )
        .select("__id", "__h", "__c.__ci", "__c.__cv")
        .persist()
    )

    sizes = chunks.groupBy("__ci", "__cv").agg(F.count(F.lit(1)).alias("__n"))
    kept = chunks.join(
        F.broadcast(sizes.filter(F.col("__n") > max_bucket)),
        ["__ci", "__cv"],
        "left_anti",
    )
    a = kept.select(
        F.col("__ci"),
        F.col("__cv"),
        F.col("__id").alias("ra"),
        F.col("__h").alias("ha"),
    )
    b = kept.select(
        F.col("__ci"),
        F.col("__cv"),
        F.col("__id").alias("rb"),
        F.col("__h").alias("hb"),
    )
    return (
        a.join(b, ["__ci", "__cv"])
        .filter(F.col("ra") < F.col("rb"))
        .select(
            "ra",
            "rb",
            "ha",
            "hb",
            F.bit_count(
                F.col("ha").bitwiseXOR(F.col("hb"))
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def phash_neardup_clusters(
    hashes: DataFrame,
    id_col: str = "id",
    hash_col: str = "dhash",
    max_hamming: int = 3,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Cluster-level image dedup.

    Returns ONE row per image, at any duplication factor:
    ``(id, cluster, cluster_size, keep)`` with ``cluster`` the smallest
    member id of its Hamming-≤threshold connected component and ``keep``
    true exactly for that canonical representative — the
    ``minhash_dedup_corpus`` shape (dedup.py:359).

    Scale plan: member pairs NEVER materialize. Connected components run
    over the rep-level near-pair graph only (one node per DISTINCT hash
    value — duplication-factor-independent), and members inherit their
    component through the exact-hash → representative map (one keyed
    join). Because a hash's representative is its min member id and
    components label by min rep id, the component label IS the cluster's
    global min member id — no second pass needed.
    """
    from preprocessor_spark.operators.graph import connected_components

    h = register_persisted(
        hashes.select(
            F.col(id_col).alias("__id"), F.col(hash_col).alias("__h")
        ).persist()
    )
    reps = h.groupBy("__h").agg(F.min("__id").alias("__rid"))
    rep_pairs = _rep_near_pairs(h, max_hamming, max_bucket)
    cc = connected_components(rep_pairs, "ra", "rb")
    member = h.join(reps, "__h").join(
        cc.withColumnRenamed("id", "__rid"),
        "__rid",
        "left",
    ).select(
        "__id",
        F.coalesce(F.col("component"), F.col("__rid")).alias("cluster"),
    )
    sizes = member.groupBy("cluster").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        member.join(sizes, "cluster")
        .select(
            F.col("__id").alias(id_col),
            "cluster",
            "cluster_size",
            (F.col("__id") == F.col("cluster")).alias("keep"),
        )
    )


def _bucket_grid(bucket: int) -> np.ndarray:
    """8×9 grid of per-row DISTINCT levels {0.1..0.9} keyed by bucket.

    Per-row rank transform guarantees every horizontal neighbor pair
    differs by >= 0.1 — far above the render noise — so the dHash bit
    pattern is a deterministic function of the bucket alone."""
    rng = np.random.RandomState((bucket * 2654435761) % (2**31 - 1))
    grid = np.empty((8, 9), dtype=np.float64)
    for r in range(8):
        ranks = rng.rand(9).argsort().argsort()
        grid[r] = (ranks + 1) / 10.0
    return grid


def render_bucket_pgm(bucket: int, noise_seed: int) -> bytes:
    """Deterministic 63×48 PGM: the bucket's grid up-sampled 6×7 with
    per-seed pixel noise (σ=0.004 ≪ the 0.1 level margin). Same bucket ⇒
    identical dHash; different buckets ⇒ independent bit patterns. This is
    the executor-side image-fixture renderer for graded runs (the same
    role the WARC shard synthesizer plays for web ingestion) — real
    corpora skip it and feed stored payload bytes straight to
    :func:`image_dhash`."""
    grid = _bucket_grid(bucket)
    img = np.kron(grid, np.ones((6, 7)))
    rng = np.random.RandomState(noise_seed % (2**31 - 1))
    img = np.clip(img + rng.normal(0, 0.004, img.shape), 0.0, 1.0)
    u8 = np.clip(np.round(img * 255.0), 0, 255).astype(np.uint8)
    h, w = u8.shape
    return b"P5\n%d %d\n255\n" % (w, h) + u8.tobytes()


def render_bucket_images(
    df: DataFrame,
    id_col: str,
    bucket_col: str,
    out_col: str = "payload",
) -> DataFrame:
    """(id, bucket) → (id, payload) PGM bytes, Arrow-batched, zero shuffle."""

    def _render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].values,
                    out_col: [
                        render_bucket_pgm(int(b), int(i))
                        for b, i in zip(pdf[bucket_col], pdf[id_col])
                    ],
                }
            )

    return df.select(id_col, bucket_col).mapInPandas(
        _render, f"id bigint, {out_col} binary"
    )
