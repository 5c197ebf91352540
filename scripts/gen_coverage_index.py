"""Regenerate the per-query registry index at the bottom of COVERAGE.md.

The prose sections above the marker are hand-maintained family
traceability; this index is the machine-checked contract that every
registry entry (`__spark_entry__.queries()`) is documented — the
symmetric half of `tests/test_queries.py::test_graded_window_contract`.
`tests/test_coverage_doc.py` fails if the index drifts behind the code.

Usage: python scripts/gen_coverage_index.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

MARKER = "## Registry index (generated)"


def build_index() -> str:
    import __spark_entry__ as entry

    queries = entry.queries()
    oracles = entry.oracle_sql()
    window = set(list(queries)[:50])
    lines = [
        MARKER,
        "",
        "One row per `queries()` entry (regenerate with "
        "`python scripts/gen_coverage_index.py`). *grading*: **driver** = in "
        "the 50-query driver window (DuckDB rows+schema+hash), **local** = "
        "same oracle replayed by `tests/test_queries.py` at sf0.001, "
        "**rows-only** = no SQL oracle by design (approximate / hash-family "
        "/ pandas-UDF float math) — each carries invariant or property "
        "tests instead.",
        "",
        "| query | grading | summary |",
        "|---|---|---|",
    ]
    for name, fn in queries.items():
        if name in window:
            grading = "driver"
        elif name in oracles:
            grading = "local"
        else:
            grading = "rows-only"
        doc = (fn.__doc__ or "").strip().replace("\n", " ")
        doc = " ".join(doc.split())
        if len(doc) > 220:
            doc = doc[:217] + "..."
        doc = doc.replace("|", "\\|")
        lines.append(f"| `{name}` | {grading} | {doc} |")
    lines.append("")
    return "\n".join(lines)


def main() -> None:
    path = os.path.join(REPO, "COVERAGE.md")
    text = open(path).read()
    head = text.split(MARKER)[0].rstrip() + "\n\n"
    open(path, "w").write(head + build_index())
    print(f"wrote registry index ({path})")


if __name__ == "__main__":
    main()
