"""Distributed BPE (byte-pair-encoding) vocabulary training + tokenization.

Training-data pipelines need a *trained* subword tokenizer to budget token
counts, pack sequences, and price corpora — the reference library has no
tokenizer at all (its only text surface is categorical encoding,
``clearbox_preprocessor/utils/categorical_transformer.py``), so this module
is north-star surface, not parity.

The scale split follows how production BPE trainers (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units"; HF
tokenizers) actually work: BPE merges are computed over the **word-frequency
table**, never the raw corpus. So:

- **Spark does the corpus-proportional work**: one split+explode+groupBy
  shuffle produces (word, count). At 100 TB this is the same one-shuffle
  shape as any term count; uniques follow Heaps' law (≪ corpus) and a
  (min_freq, max_words) cap bounds the driver table like the IVF centroid
  sample in :mod:`preprocessor_spark.operators.similarity`.
- **The driver does the vocabulary-proportional work**: the classic merge
  loop over ≤ ``max_words`` (word, count) pairs — O(num_merges · uniques),
  independent of corpus size.
- **Encoding goes back to the executors**: an Arrow-batched pandas UDF
  applies the fitted merge ranks per word with an LRU word→tokens memo
  (word frequencies are Zipfian, so the memo hit rate is ~1).

Determinism: pair ties break on the lexicographically smallest pair, so the
same corpus always yields the same merge sequence on any cluster layout.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

END = "</w>"  # end-of-word marker: lets merges distinguish suffixes


def words_expr(text_col: Column, lowercase: bool = True) -> Column:
    """Whitespace word split as a JVM expression (empty tokens dropped)."""
    t = F.lower(text_col) if lowercase else text_col
    return F.filter(F.split(t, r"\s+"), lambda w: w != "")


def word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(word, n) corpus term frequencies — ONE keyed shuffle."""
    return (
        df.select(F.explode(words_expr(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@dataclass(frozen=True)
class BPEModel:
    """Fitted merge sequence. ``ranks`` is derived (merge → priority)."""

    merges: tuple[tuple[str, str], ...]
    ranks: dict[tuple[str, str], int] = field(default_factory=dict, compare=False)

    def __post_init__(self):  # derive ranks once
        object.__setattr__(
            self, "ranks", {pair: i for i, pair in enumerate(self.merges)}
        )

    @property
    def vocab(self) -> set[str]:
        out = {a + b for a, b in self.merges}
        for a, b in self.merges:
            out.update((a, b))
        return out


def _merge_word(symbols: tuple[str, ...], ranks: dict[tuple[str, str], int]) -> tuple[str, ...]:
    """Apply fitted merges to one symbol sequence, best-rank-first (the
    standard BPE encode order — identical to training order, so encoding a
    training word reproduces its training segmentation)."""
    syms = list(symbols)
    while len(syms) > 1:
        best_rank, best_i = None, -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return tuple(syms)


def train_bpe(
    df: DataFrame,
    text_col: str,
    num_merges: int = 200,
    min_freq: int = 1,
    max_words: int = 200_000,
) -> BPEModel:
    """Fit a BPE merge sequence from the corpus word-frequency table.

    ``min_freq``/``max_words`` bound the driver table (top words by count
    desc, word asc — deterministic); the merge loop is pure Python over that
    bounded table."""
    wc = (
        word_counts(df, text_col)
        .filter(F.col("n") >= min_freq)
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(max_words)
        .collect()
    )
    # word → (symbol tuple, count)
    table: dict[tuple[str, ...], int] = {}
    for row in wc:
        table[tuple(row["word"]) + (END,)] = table.get(tuple(row["word"]) + (END,), 0) + row["n"]

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, n in table.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + n
        if not pair_counts:
            break
        # deterministic: max count, then lexicographically smallest pair
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pair_counts[best] < 2:
            break  # every remaining pair is unique — no compression left
        merges.append(best)
        merged = best[0] + best[1]
        new_table: dict[tuple[str, ...], int] = {}
        for syms, n in table.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == best[0] and syms[i + 1] == best[1]:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_table[key] = new_table.get(key, 0) + n
        table = new_table
    return BPEModel(merges=tuple(merges))


def bpe_encode_udf(model: BPEModel):
    """text → array<string> BPE tokens, Arrow-batched, with a per-worker
    word→tokens memo (Zipfian corpora hit the memo almost always)."""
    from pyspark.sql.functions import pandas_udf

    ranks = dict(model.ranks)

    @pandas_udf("array<string>")
    def _encode(texts: pd.Series) -> pd.Series:
        memo: dict[str, tuple[str, ...]] = {}
        out = []
        for t in texts:
            toks: list[str] = []
            for w in (t or "").lower().split():
                hit = memo.get(w)
                if hit is None:
                    hit = _merge_word(tuple(w) + (END,), ranks)
                    if len(memo) < 1_000_000:
                        memo[w] = hit
                toks.extend(hit)
            out.append(toks)
        return pd.Series(out)

    return _encode


def bpe_token_stats(
    df: DataFrame, text_col: str, id_col: str, model: BPEModel, group_col: str | None = None
) -> DataFrame:
    """Per-group token accounting with the fitted tokenizer: docs, BPE
    tokens, whitespace words, chars-per-token compression."""
    enc = bpe_encode_udf(model)
    per_doc = df.select(
        F.col(id_col),
        *( [F.col(group_col)] if group_col else [] ),
        F.size(enc(F.col(text_col))).alias("n_bpe_tokens"),
        F.size(words_expr(F.col(text_col))).alias("n_words"),
        F.length(F.col(text_col)).alias("n_chars"),
    )
    keys = [group_col] if group_col else []
    agg = per_doc.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
        F.sum("n_words").alias("total_words"),
        F.round(
            F.sum("n_chars").cast("double") / F.sum("n_bpe_tokens").cast("double"), 6
        ).alias("chars_per_token"),
    )
    return agg
