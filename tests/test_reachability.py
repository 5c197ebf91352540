"""Every library function is reached from non-test code, or is kept on
purpose with a reason.

An AST walk, no Spark. The roots are ``__spark_entry__.py``, ``bench.py``,
``preprocessor_spark_daemon.py``, every file under ``perfbench/`` and
``scripts/``, and the top-level statements of every library module (which
hold the package exports). A top-level def or class of the library is
reached when a reached body names it, and the walk repeats until nothing
new is reached.

Naming over-approximates calling: any ``Name``, attribute, imported name,
or string constant spelled as a (dotted) identifier counts as naming EVERY
library def of that name, in any module. Docstrings do not count. So a def
this walk calls unreached really is unreachable from non-test code.

``KEEP`` lists the unreached defs that stay, each with its reason. Helpers
that only a kept def calls are reached through it and need no entry.
"""

from __future__ import annotations

import ast
import functools
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "preprocessor_spark")
ROOT_FILES = ("__spark_entry__.py", "bench.py", "preprocessor_spark_daemon.py")
ROOT_DIRS = ("perfbench", "scripts")

_TEST_FIXTURE = "encoder that builds test fixtures for its decoder"
_TEST_REFERENCE = "reference the tests check other code against"

KEEP = {
    # test fixtures and references
    "operators.jpeg.encode_jpeg_progressive": _TEST_FIXTURE,
    "operators.tiff.encode_tiff_jpeg": _TEST_FIXTURE,
    "operators.flac.encode_flac_verbatim": _TEST_FIXTURE,
    "operators.linreg.ridge_fit": _TEST_REFERENCE + " (the OLS/ridge fits)",
    "operators.pq.pq_reconstruct": _TEST_REFERENCE + " (ADC score = reconstruction dot)",
    "plans.formatted_plan": "the tests' plan reader",
    "operators.ts_spectral._series_features": "the tests' hook into the per-series feature math",
    # the only implementation of their feature
    "operators.media_meta.image_header_meta": "header-only image format/size/bit-depth sniffing",
    "operators.media_meta.audio_header_meta": "header-only FLAC/WAV metadata sniffing",
    "operators.multimodal.resize_images": "image resize + PGM/JPEG re-encode",
    "operators.multimodal.decode_avi_mjpeg": "MJPEG-only frame view that refuses uncompressed AVI",
    "operators.als.als_predict_topk": "top-k recommendations from fitted ALS factors",
    "operators.benford.benford_mad": "Benford conformity score over the per-group report",
    "operators.chunking.pack_first_fit": "first-fit-decreasing sequence packing",
    "operators.contamination.decontaminate": "drop documents that share eval n-grams",
    "operators.dedup.evaluate_pair_quality": "precision/recall of a pair set against ground truth",
    "operators.dedup.substring_dup_pairs": "verbatim shared-window document pairs",
    "operators.drift.categorical_drift_report": "PSI over categorical levels",
    "operators.layout.quantize_minmax": "min/max quantization that feeds z-ordering",
    "operators.layout.zorder_cluster": "Morton-curve data layout",
    "operators.matrix_profile.query_similarity_count": "tsfresh query_similarity_count",
    "operators.sampling.apply_temperature_mix": "plan and apply a temperature mix in one call",
    "operators.skew.salted_join": "salted join for skewed keys",
    "operators.splits.neardup_safe_split": "split that keeps near-duplicate clusters together",
    "operators.text.corpus_report": "per-source corpus health report",
    "operators.text.gopher_filter": "keep documents passing every Gopher rule",
    "sources.read_avro": "Avro read with the pure-Python fallback",
    "sources.write_avro": "Avro write with the pure-Python fallback",
    "sources.read_binary_files": "raw-file ingest for the media pipeline",
    "sources.write_bucketed": "bucketed table writes",
    "sources.write_partitioned": "aligned Hive-partitioned writes",
    "sources.compact_parquet": "small-file compaction",
    "sources.write_jsonl": "sharded JSON-Lines export",
    "sources.delta.delta_history": "Delta commit history",
    "sources.iceberg.iceberg_snapshots": "Iceberg snapshot listing",
    "sources.warc.parse_warc_records": "parse a whole WARC buffer at once",
    "streaming.screen_stream_against_corpus": "streaming dedup against a corpus hash index",
}

_IDENT = re.compile(r"^[A-Za-z_][\w.:]*$")


def _names(node: ast.AST) -> set[str]:
    """Every identifier ``node`` could use to reach a def (see module doc)."""
    docs = set()
    for n in ast.walk(node):
        if isinstance(n, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            first = n.body[0] if n.body else None
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                docs.add(id(first.value))
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif isinstance(n, ast.ImportFrom) and n.module:
            out.update(n.module.split("."))
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and id(n) not in docs
            and _IDENT.match(n.value)
        ):
            out.update(re.findall(r"\w+", n.value))
    return out


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _library() -> tuple[dict[str, ast.AST], set[str]]:
    """(qualified name → top-level def, names used at module level)."""
    defs: dict[str, ast.AST] = {}
    names: set[str] = set()
    for dirpath, _, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            mod = os.path.relpath(path, PKG)[: -len(".py")].replace(os.sep, ".")
            mod = mod.removesuffix("__init__").rstrip(".")
            for st in _parse(path).body:
                if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    defs[f"{mod}.{st.name}" if mod else st.name] = st
                    # decorators and defaults run at import time
                    for d in st.decorator_list:
                        names |= _names(d)
                    if not isinstance(st, ast.ClassDef):
                        for d in st.args.defaults + st.args.kw_defaults:
                            if d is not None:
                                names |= _names(d)
                else:
                    names |= _names(st)
    return defs, names


def _root_names() -> set[str]:
    paths = [os.path.join(ROOT, f) for f in ROOT_FILES]
    for d in ROOT_DIRS:
        for dirpath, _, files in os.walk(os.path.join(ROOT, d)):
            paths += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    names: set[str] = set()
    for p in paths:
        names |= _names(_parse(p))
    return names


@functools.lru_cache(maxsize=None)
def _graph() -> tuple[dict[str, set[str]], frozenset[str]]:
    """(qualified def → names its body uses, names the roots use)."""
    defs, names = _library()
    return {q: _names(node) for q, node in defs.items()}, frozenset(names | _root_names())


def _unreached(extra_roots) -> list[str]:
    uses, root_names = _graph()
    by_name: dict[str, list[str]] = {}
    for q in uses:
        by_name.setdefault(q.rsplit(".", 1)[-1], []).append(q)
    reached = {q for q in extra_roots if q in uses}
    todo = set(root_names).union(*(uses[q] for q in reached))
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        seen.add(name)
        for q in by_name.get(name, ()):
            if q not in reached:
                reached.add(q)
                todo |= uses[q] - seen
    return sorted(set(uses) - reached)


def test_every_library_def_is_reached_or_kept():
    unreached = _unreached(KEEP)
    assert not unreached, (
        "library defs that no non-test code reaches; delete them, or add "
        f"each to KEEP with its reason: {unreached}"
    )


def test_every_keep_entry_is_still_unreached():
    stale = sorted(set(KEEP) - set(_unreached(())))
    assert not stale, f"KEEP entries that are reached or gone; drop them: {stale}"
