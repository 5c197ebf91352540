"""Property-based tests (hypothesis) for the engine's pure-math operators.

Each property runs a bounded number of examples (Spark round-trips are
~0.5 s each); the generators bias toward the edge cases that matter:
empty docs, overlap 0, chunk boundaries landing exactly on the token
count, vectors with zero/extreme coordinates.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@st.composite
def chunk_params(draw):
    chunk_tokens = draw(st.integers(min_value=2, max_value=8))
    overlap = draw(st.integers(min_value=0, max_value=chunk_tokens - 1))
    n_tokens = draw(st.integers(min_value=0, max_value=40))
    return n_tokens, chunk_tokens, overlap


@settings(**_SETTINGS)
@given(chunk_params())
def test_chunking_covers_every_token_exactly(spark, params):
    from preprocessor_spark.operators.chunking import chunk_documents

    n, chunk_tokens, overlap = params
    stride = chunk_tokens - overlap
    text = " ".join(f"w{i}" for i in range(n))
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    chunks = sorted(
        chunk_documents(df, chunk_tokens=chunk_tokens, overlap=overlap).collect(),
        key=lambda r: r["chunk_id"],
    )
    if n == 0:
        assert chunks == []
        return
    # chunk i starts at i*stride; sizes bounded by chunk_tokens
    seen: set[str] = set()
    for i, r in enumerate(chunks):
        toks = r["chunk_text"].split(" ") if r["chunk_text"] else []
        assert r["chunk_id"] == i
        assert toks == [f"w{j}" for j in range(i * stride, min(i * stride + chunk_tokens, n))]
        assert 1 <= r["n_chunk_tokens"] <= chunk_tokens
        new = set(toks) - seen
        assert new, "a chunk must contribute at least one new token"
        seen |= set(toks)
    # full coverage, tail included
    assert seen == {f"w{j}" for j in range(n)}


@st.composite
def float_vectors(draw):
    dim = draw(st.integers(min_value=1, max_value=16))
    vals = draw(
        st.lists(
            st.floats(
                min_value=-1e4, max_value=1e4, allow_nan=False, allow_infinity=False, width=32
            ),
            min_size=dim,
            max_size=dim,
        )
    )
    return vals


@settings(**_SETTINGS)
@given(float_vectors())
def test_quantize_dequantize_error_bound(spark, vec):
    from preprocessor_spark.operators.embeddings import quantize_int8_exprs

    df = spark.createDataFrame([(1, vec)], "vec_id bigint, embedding array<float>")
    e = quantize_int8_exprs(F.col("embedding"))
    row = df.select(
        "embedding", e["q"].alias("embedding_q8"), e["scale"].alias("embedding_scale")
    ).collect()[0]
    x = np.asarray(row["embedding"], dtype=np.float64)  # float32-rounded input
    q = np.asarray(row["embedding_q8"], dtype=np.float64)
    s = row["embedding_scale"]
    assert np.abs(q).max() <= 127
    if np.abs(x).max() == 0:
        assert s == 0 and (q == 0).all()
    else:
        assert np.abs(q * s - x).max() <= s / 2 + 1e-9
        # the max-|.| coordinate quantizes to exactly ±127
        j = int(np.argmax(np.abs(x)))
        assert abs(q[j]) == 127


@settings(**_SETTINGS)
@given(
    st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=30),
    st.integers(min_value=1, max_value=300),
)
def test_concat_chop_layout_is_gapless(spark, token_counts, ctx_len):
    """The packing layout is exactly the exclusive running sum: pack/offset
    recomputed from scratch must match, and the layout has no gaps."""
    from preprocessor_spark.operators.chunking import pack_concat_chop

    rows = [(i, n) for i, n in enumerate(token_counts)]
    df = spark.createDataFrame(rows, "doc_id bigint, n_tokens bigint")
    out = (
        pack_concat_chop(df, ctx_len=ctx_len, buckets=1)
        .orderBy("doc_id")
        .collect()
    )
    cum = 0
    for r in out:
        assert r["pack_id"] == cum // ctx_len
        assert r["start_offset"] == cum % ctx_len
        cum += r["n_tokens"]


@settings(**_SETTINGS)
@given(
    st.dictionaries(
        st.sampled_from(["train", "val", "test", "holdout"]),
        st.floats(min_value=0.05, max_value=1.0),
        min_size=2,
        max_size=4,
    )
)
def test_hash_split_fractions_partition_the_space(spark, raw):
    """Any normalized fraction dict yields a total, disjoint assignment whose
    realized proportions are within 1/10000-granularity expectations."""
    from preprocessor_spark.operators.splits import hash_split

    total = sum(raw.values())
    splits = {k: v / total for k, v in raw.items()}
    # repair float drift so the validator's 1e-9 check passes
    first = next(iter(splits))
    splits[first] += 1.0 - sum(splits.values())

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    out = hash_split(df, "doc_id", splits)
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000
    assert set(counts) <= set(splits)
    for k, frac in splits.items():
        got = counts.get(k, 0) / 2000
        assert abs(got - frac) < 0.05


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
            max_size=200,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_normalize_text_idempotent(spark, texts):
    """normalize(normalize(x)) == normalize(x) for arbitrary unicode input —
    the cleanup chain is a projection onto its own fixed-point set."""
    from preprocessor_spark.operators.text import normalize_text_expr

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id bigint, text string")
    once = df.select("id", normalize_text_expr(F.col("text"), lowercase=True).alias("n1"))
    twice = once.select("id", normalize_text_expr(F.col("n1"), lowercase=True).alias("n2"))
    j = once.join(twice, "id")
    assert j.filter(F.col("n1") != F.col("n2")).count() == 0


@st.composite
def merge_scenario(draw):
    """Target rows + CDC batch with updates/inserts/deletes over a small
    key space (forces key collisions, source-only deletes, null values)."""
    tkeys = draw(st.lists(st.integers(0, 8), min_size=0, max_size=8, unique=True))
    skeys = draw(st.lists(st.integers(0, 12), min_size=0, max_size=8, unique=True))
    target = [(k, draw(st.integers(-5, 5)), float(draw(st.integers(0, 9)))) for k in tkeys]
    source = [
        (
            k,
            draw(st.one_of(st.none(), st.integers(-5, 5))),
            float(draw(st.integers(0, 9))),
            draw(st.booleans()),
        )
        for k in skeys
    ]
    return target, source


@given(merge_scenario())
@settings(**_SETTINGS)
def test_merge_upsert_matches_dict_model(spark, scenario):
    """merge_upsert (broadcast decomposition AND full-outer fallback) must
    equal the obvious dict model: delete wins, matched updates, unmatched
    non-deletes insert, untouched rows persist."""
    from preprocessor_spark.operators.merge import merge_upsert

    target_rows, source_rows = scenario
    model = {k: (v, p) for k, v, p in target_rows}
    for k, v, p, dele in source_rows:
        if dele:
            model.pop(k, None)
        else:
            model[k] = (v, p)

    t = spark.createDataFrame(target_rows or [(None, None, None)], "id int, v int, p double")
    if not target_rows:
        t = t.filter("id IS NOT NULL")
    s = spark.createDataFrame(
        source_rows or [(None, None, None, None)], "id int, v int, p double, deleted boolean"
    )
    if not source_rows:
        s = s.filter("id IS NOT NULL")

    for bcast in (True, False):
        got = {
            r["id"]: (r["v"], r["p"])
            for r in merge_upsert(
                t, s, ["id"], delete_col="deleted", broadcast_source=bcast
            ).collect()
        }
        assert got == model, f"broadcast={bcast}"
