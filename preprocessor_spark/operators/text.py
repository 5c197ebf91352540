"""Text-analysis operators for training-data pipelines.

North-star extensions (no reference counterpart): language ID, quality
scoring, token counting, document fingerprinting. All pure JVM column
expressions — regex + higher-order array functions — so they run inside
whole-stage codegen with zero Python on the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny built-in stopword lists for the n-gram/stopword language heuristic.
# Deliberately small: the point is the Spark-shaped scoring, not lexicography.
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "a", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "que"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "im"],
}


def tokens_expr(text: Column) -> Column:
    """Whitespace tokenization."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def token_count_expr(text: Column) -> Column:
    return F.size(tokens_expr(text))


# Normalization patterns are RE2-compatible (no backrefs/lookarounds) so the
# DuckDB oracle can run the IDENTICAL chain; \s is avoided because Java and
# RE2 disagree on vertical tab — control chars are stripped first, then an
# explicit [ \t\r\n\f] class collapses runs.
_HTML_TAG_RE = r"<[^>]{0,500}>"
_URL_RE = r"""https?://[^ \t\r\n\x0b\f<>"']+"""
_CTRL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
_WS_RUN_RE = r"[ \t\r\n\f]+"
# curly quotes / dashes / NBSP → ASCII equivalents
_PUNCT_FROM = "\u2018\u2019\u201c\u201d\u2013\u2014\u00a0"
_PUNCT_TO = "''\"\"-- "


def normalize_text_expr(
    text: Column,
    lowercase: bool = False,
    strip_html: bool = True,
    strip_urls: bool = True,
) -> Column:
    """Canonical text cleanup for training corpora: HTML tags and URLs out,
    control characters out, unicode punctuation folded to ASCII, whitespace
    runs collapsed, edges trimmed, optional lowercasing.

    Pure JVM regexp_replace/translate chain — whole-stage codegen, no
    Python. At 100 TB this is a map-only stage: no shuffle, fully pushdown-
    transparent for downstream filters."""
    c = text
    if strip_html:
        c = F.regexp_replace(c, _HTML_TAG_RE, " ")
    if strip_urls:
        c = F.regexp_replace(c, _URL_RE, " ")
    c = F.regexp_replace(c, _CTRL_RE, " ")
    c = F.translate(c, _PUNCT_FROM, _PUNCT_TO)
    c = F.regexp_replace(c, _WS_RUN_RE, " ")
    c = F.trim(c)
    if lowercase:
        c = F.lower(c)
    return c


def corpus_report(
    df: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """One-call per-source corpus health report: doc/token/char volumes,
    quality-score stats, language mix (top language + its share), Gopher
    pass rate. Single scan → single keyed shuffle; the per-doc exprs reuse
    the codegen building blocks above."""
    q = quality_exprs(F.col(text_col))
    g = gopher_rules_exprs(F.col(text_col))
    per_doc = df.select(
        F.col(source_col).alias("source"),
        q["n_tokens"].alias("n_tokens"),
        q["n_chars"].alias("n_chars"),
        quality_score_expr(F.col(text_col)).alias("quality"),
        lang_id_expr(F.col(text_col)).alias("lang"),
        g["gopher_pass"].cast("int").alias("gopher_ok"),
    )
    lang_mode = F.mode("lang").alias("top_lang")
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
        F.round(F.min("quality"), 6).alias("min_quality"),
        lang_mode,
        F.round(F.avg(F.col("gopher_ok").cast("double")), 6).alias("gopher_pass_rate"),
    )


def cross_doc_line_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-level boilerplate-line removal (the C4/RefinedWeb recipe):
    drop every non-empty line that appears verbatim in >= ``min_docs``
    distinct documents (navigation chrome, cookie banners, legal footers),
    then rebuild each document from its surviving lines in order.

    Shape: posexplode lines → distinct-doc count per line → anti-join →
    order-preserving reassembly. Three keyed shuffles over line-sized rows.
    Scale note: the groupBy key is the line text here for engine-exact
    parity with the DuckDB oracle; at 100 TB you would pre-hash the line
    (xxhash64) so the count shuffle moves 8-byte keys — identical topology,
    smaller exchange.

    Returns (id, text, n_lines_kept, n_lines_dropped)."""
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.filter(F.split(F.col(text_col), r"\n"), lambda ln: F.trim(ln) != "")
        ).alias("__pos", "__line"),
    )
    counts = lines.groupBy("__line").agg(
        F.count_distinct("__id").alias("__nd")
    )
    boiler = counts.filter(F.col("__nd") >= min_docs).select("__line")
    kept = lines.join(boiler, "__line", "left_anti")
    dropped = lines.join(boiler, "__line", "left_semi")
    rebuilt = kept.groupBy("__id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
        ).alias(text_col),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    n_dropped = dropped.groupBy("__id").agg(F.count(F.lit(1)).alias("n_lines_dropped"))
    ids = df.select(F.col(id_col).alias("__id")).distinct()
    return (
        ids.join(rebuilt, "__id", "left")
        .join(n_dropped, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(text_col, F.lit("")).alias(text_col),
            F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
            F.coalesce("n_lines_dropped", F.lit(0)).alias("n_lines_dropped"),
        )
    )


def quality_exprs(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio quality signals."""
    toks = tokens_expr(text)
    n_tok = F.size(toks)
    n_chars = F.length(text)
    punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0))
    stop_en = F.array(*[F.lit(w) for w in _STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_en, F.lower(t))))
    mean_word_len = F.when(
        n_tok > 0,
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double") / n_tok,
    )
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_tokens": n_tok.cast("bigint"),
        "mean_word_len": mean_word_len,
        "punct_ratio": F.when(n_chars > 0, punct.cast("double") / n_chars).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(n_tok > 0, n_stop.cast("double") / n_tok).otherwise(F.lit(0.0)),
    }


def quality_score_expr(text: Column) -> Column:
    """Composite [0,1] quality score from the signals above — a simple,
    deterministic policy (long-enough, low punctuation, some stopwords)."""
    q = quality_exprs(text)
    len_ok = F.least(q["n_tokens"].cast("double") / F.lit(20.0), F.lit(1.0))
    punct_ok = F.greatest(F.lit(1.0) - q["punct_ratio"] * 5.0, F.lit(0.0))
    stop_ok = F.least(q["stopword_ratio"] * 5.0, F.lit(1.0))
    return (len_ok * 0.4 + punct_ok * 0.3 + stop_ok * 0.3).alias("quality_score")


def lang_id_expr(text: Column) -> Column:
    """Stopword-overlap language heuristic: score each language by the
    fraction of tokens in its stopword list; argmax wins, 'und' if no hits."""
    toks = F.transform(tokens_expr(text), lambda t: F.lower(t))
    scores = []
    for lang, words in _STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        score = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
        scores.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def gopher_rules_exprs(
    text: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
) -> dict[str, Column]:
    """Gopher-style document quality rules (the public heuristics from the
    Gopher / MassiveText filtering recipe), each as a boolean column plus a
    combined ``gopher_pass``. Pure JVM expressions — regex counts and array
    reductions inside whole-stage codegen; zero Python on the hot path.

    Rules: word count in [min,max]; mean word length in [3,10]; hash/ellipsis
    symbol-to-word ratio <= 0.1; <90% of lines starting with a bullet; <30%
    of lines ending with an ellipsis; >=80% of words containing an alphabetic
    character; >=2 stopword hits.
    """
    toks = tokens_expr(text)
    n_words = F.size(toks)
    nw = F.when(n_words > 0, n_words.cast("double"))  # null-safe denominator
    mean_wl = (
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double") / nw
    )
    n_symbols = F.size(F.regexp_extract_all(text, F.lit(r"#|\.\.\.|…"), 0))
    lines = F.filter(F.split(text, r"\n"), lambda ln: F.trim(ln) != "")
    n_lines = F.size(lines)
    nl = F.when(n_lines > 0, n_lines.cast("double"))
    bullet_lines = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"^(\*|-|•|\d+\.)\s"))
    )
    ellipsis_lines = F.size(F.filter(lines, lambda ln: F.trim(ln).rlike(r"(\.\.\.|…)$")))
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    stop_en = F.array(*[F.lit(w) for w in _STOPWORDS["en"]])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(stop_en, F.lower(t))))
    rules = {
        "rule_word_count": n_words.between(min_words, max_words),
        "rule_mean_word_len": mean_wl.between(min_mean_word_len, max_mean_word_len),
        "rule_symbol_ratio": (n_symbols.cast("double") / nw) <= max_symbol_word_ratio,
        "rule_bullet_lines": F.coalesce(
            (bullet_lines.cast("double") / nl) <= max_bullet_line_ratio, F.lit(True)
        ),
        "rule_ellipsis_lines": F.coalesce(
            (ellipsis_lines.cast("double") / nl) <= max_ellipsis_line_ratio, F.lit(True)
        ),
        "rule_alpha_words": (alpha_words.cast("double") / nw) >= min_alpha_word_ratio,
        "rule_stopwords": stop_hits >= min_stopword_hits,
    }
    combined = None
    for c in rules.values():
        combined = c if combined is None else combined & c
    rules = {k: F.coalesce(v, F.lit(False)) for k, v in rules.items()}
    rules["gopher_pass"] = F.coalesce(combined, F.lit(False))
    return rules


def gopher_filter(df: DataFrame, text_col: str, **thresholds) -> DataFrame:
    """Keep only documents passing every Gopher rule."""
    rules = gopher_rules_exprs(F.col(text_col), **thresholds)
    return df.filter(rules["gopher_pass"])


# PII patterns kept RE2-compatible (no backrefs / lookaround) so every
# engine in the pipeline — Spark (Java regex), DuckDB (RE2), re2-based
# scrubbers — applies the SAME redaction.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\+\d[\d().-]{7,}\d",
    "cc16": r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b",
}


def pii_count_exprs(text: Column) -> dict[str, Column]:
    """Per-category PII match counts (regexp_count — JVM, codegen)."""
    return {
        f"n_{name}": F.regexp_count(text, F.lit(pat)).cast("bigint").alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    }


def redact_pii(
    df: DataFrame, text_col: str, token: str = "<PII>", patterns: dict[str, str] | None = None
) -> DataFrame:
    """Replace every PII match with ``token`` — chained regexp_replace,
    one projection, no Python. Pattern order is deterministic (dict order);
    email runs before phone so the digits inside an address aren't half
    eaten by the phone pattern."""
    out = F.col(text_col)
    for pat in (patterns or PII_PATTERNS).values():
        out = F.regexp_replace(out, pat, token)
    return df.withColumn(text_col, out)


def repetition_exprs(text: Column, ngram: int = 2) -> dict[str, Column]:
    """Within-document repetition signals (the Gopher repetition-removal
    family): duplicate-line fraction, duplicate-line character fraction,
    and the fraction of characters covered by the most frequent word
    n-gram. Pure JVM array expressions.

    The top-gram count sorts the gram array and takes the longest run of
    equal adjacent elements — O(g log g) per document (the naive
    distinct×filter formulation is O(g²): ~400 s for 5k docs of 2k tokens
    at sf0.1 vs ~1 s for this one, same exact result). Cost is per-row,
    embarrassingly parallel, no shuffle.
    """
    lines = F.filter(F.split(text, r"\n"), lambda ln: F.trim(ln) != "")
    n_lines = F.size(lines)
    nl = F.when(n_lines > 0, n_lines.cast("double"))
    dist_lines = F.array_distinct(lines)
    line_chars = F.aggregate(lines, F.lit(0), lambda a, x: a + F.length(x))
    dist_chars = F.aggregate(dist_lines, F.lit(0), lambda a, x: a + F.length(x))
    lc = F.when(line_chars > 0, line_chars.cast("double"))

    toks = F.transform(tokens_expr(text), lambda t: F.lower(t))
    n_tok = F.size(toks)
    # word n-grams as joined strings: positions 1 .. n_tok-ngram+1
    n_grams = F.greatest(n_tok - F.lit(ngram - 1), F.lit(0))
    grams = F.when(
        n_grams > 0,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.concat_ws(" ", F.slice(toks, i, ngram)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # most-frequent-gram count == longest run of equal adjacent elements in
    # the SORTED gram array (one pass, no distinct×filter quadratic blowup)
    sorted_grams = F.array_sort(grams)
    top_count = F.aggregate(
        sorted_grams,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda s, x: F.struct(
            x.alias("prev"),
            F.when(x == s["prev"], s["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                s["best"],
                F.when(x == s["prev"], s["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda s: s["best"],
    )
    # chars covered by the top n-gram ≈ top_count · mean gram length; use
    # token-count coverage (engine-portable, length-free): tokens inside
    # repeated occurrences of the top gram / total tokens.
    top_token_frac = F.when(
        n_tok > 0, (top_count * ngram).cast("double") / n_tok.cast("double")
    ).otherwise(F.lit(0.0))
    return {
        "dup_line_frac": F.coalesce(
            (n_lines - F.size(dist_lines)).cast("double") / nl, F.lit(0.0)
        ),
        "dup_line_char_frac": F.coalesce(
            (line_chars - dist_chars).cast("double") / lc, F.lit(0.0)
        ),
        f"top_{ngram}gram_token_frac": top_token_frac,
    }


def fingerprint_expr(text: Column) -> Column:
    """Order-insensitive document fingerprint: sorted distinct lowercased
    tokens, joined and hashed (xxhash64). Robust to token reordering /
    duplication — a cheap canonical fingerprint for clustering."""
    toks = F.array_sort(F.array_distinct(F.transform(tokens_expr(text), lambda t: F.lower(t))))
    return F.xxhash64(F.concat_ws(" ", toks))


def rolling_hash_fingerprint_udf():
    """Winnowing-style fingerprint: min polynomial rolling hash over byte
    8-grams of the lowercased, whitespace-collapsed text, computed per
    Arrow batch as ONE sliding-window matmul per doc (numpy). A
    per-character JVM xxhash64 expression measured ~20× slower on long
    documents.
    """
    import re

    from pyspark.sql.functions import pandas_udf

    # weights built in exact Python ints then reduced mod 2^64 — the same
    # wrapping values the old scalar int64 multiply produced, minus its
    # per-import RuntimeWarning (intentional wrap, now explicit)
    window = 8
    base = 1000003
    w_py = [pow(base, window - 1 - i, 1 << 64) for i in range(window)]
    weights = np.array(w_py, dtype=np.uint64).view(np.int64)
    ws = re.compile(r"\s+")

    def _fp(text: str):
        if text is None:
            return None
        norm = ws.sub(" ", text.lower()).encode("utf-8", "ignore")
        if len(norm) < window:
            norm = norm.ljust(window, b"\0")
        arr = np.frombuffer(norm, dtype=np.uint8).astype(np.int64)
        view = np.lib.stride_tricks.sliding_window_view(arr, window)
        return int((view * weights[None, :]).sum(axis=1).min())

    @pandas_udf("long")
    def _udf(s: pd.Series) -> pd.Series:
        return s.map(_fp)

    return _udf


# ---------------------------------------------------------------------------
# HTML → text extraction (the step after WARC ingestion)
# ---------------------------------------------------------------------------
#
# Crawled payloads are HTML; the training corpus wants visible text. This is
# the regex core of boilerplate strippers (script/style/comment removal,
# block-level tags → line breaks, remaining tags dropped, common entities
# decoded, whitespace normalized) as a chain of JVM regexp_replace calls —
# whole-stage codegen, no Python — with every pattern chosen from the
# RE2-compatible subset so the DuckDB oracle can run the byte-identical
# chain (inline (?is) flags work in both engines; no backreferences).
# Numeric character references need chr() and are out of regex reach — they
# pass through untouched (documented; a pandas-UDF pass can finish the job
# where full fidelity matters).

_HTML_ENTITIES = (
    ("&nbsp;", " "),
    ("&amp;", "&"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
)

# ordered (pattern, replacement) regex chain — identical in DuckDB
HTML_TEXT_STEPS = [
    (r"(?is)<script[^>]*>.*?</script>", " "),
    (r"(?is)<style[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"(?i)</?(p|div|br|h[1-6]|li|ul|ol|tr|td|th|table|blockquote|section|article|header|footer)[^>]*>", "\n"),
    (r"<[^>]+>", " "),
]


def html_text_expr(html: Column) -> Column:
    """Visible text of an HTML column: tags/script/style/comments removed,
    block boundaries become newlines, common named entities decoded,
    horizontal whitespace squeezed, blank-line runs collapsed, trimmed."""
    out = html
    for pat, rep in HTML_TEXT_STEPS:
        out = F.regexp_replace(out, pat, rep)
    for ent, ch in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    out = F.regexp_replace(out, r"[ \t\r\f]+", " ")
    out = F.regexp_replace(out, r" ?\n ?", "\n")
    out = F.regexp_replace(out, r"\n{2,}", "\n")
    # trim() strips only spaces in both engines; newlines need the regex
    out = F.regexp_replace(out, r"^\n+|\n+$", "")
    return F.trim(out)


def extract_html_text(df: DataFrame, html_col: str, out_col: str = "text") -> DataFrame:
    """Narrow projection adding ``out_col`` = visible text of ``html_col``."""
    return df.withColumn(out_col, html_text_expr(F.col(html_col)))


_HREF_PATTERN = r"""(?i)<a\s[^>]*href\s*=\s*["']([^"'#<>]+)"""


def links_expr(html: Column) -> Column:
    """All href targets of anchor tags, in document order (case-insensitive
    tag/attribute match, fragment part excluded by the character class).
    RE2-compatible pattern → the DuckDB twin is the identical
    ``regexp_extract_all(html, pattern, 1)``."""
    return F.regexp_extract_all(html, F.lit(_HREF_PATTERN), 1)


def extract_links(
    df: DataFrame,
    html_col: str,
    base_host_col: str | None = None,
    out_col: str = "link",
) -> DataFrame:
    """Explode every document into its outgoing links — the crawl-frontier
    step between HTML extraction and URL canonicalization
    (``operators.urls.parse_urls`` composes downstream).

    Non-navigational schemes (javascript:, mailto:, tel:, data:) are
    dropped; with ``base_host_col``, root-relative hrefs (``/path``)
    absolutize to ``https://<base_host><path>`` (the only relative form the
    synthetic corpora emit; full RFC 3986 reference resolution is
    deliberately out of scope). Narrow plan: regexp project + posexplode —
    zero shuffles, scales as a pure map at any corpus size.
    """
    exploded = df.select(
        "*", F.posexplode(links_expr(F.col(html_col))).alias("__pos", "__raw")
    )
    raw = F.col("__raw")
    bad = raw.rlike(r"(?i)^(javascript|mailto|tel|data):")
    if base_host_col is not None:
        resolved = (
            F.when(raw.startswith("/"),
                   F.concat(F.lit("https://"), F.col(base_host_col), raw))
            .otherwise(raw)
        )
    else:
        resolved = raw
    return (
        exploded.filter(~bad)
        .withColumn(out_col, resolved)
        .withColumn("link_pos", F.col("__pos").cast("int"))
        .drop("__pos", "__raw")
    )
