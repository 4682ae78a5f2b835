"""Regenerate the machine-derived parts of QUERIES.md from the registry.

QUERIES.md has three zones:
  1. a hand-maintained prose header (the window contract) whose COUNTS ("N registered queries; M with DuckDB
     oracles ... the K oracle-backed queries past the window") are
     machine-owned,
  2. the per-query table — fully machine-owned: one row per registered
     query, summary = first sentence of its registration docstring,
  3. the hand-maintained "## Bench tiers" section.

A hand-kept table drifts from the registry (its counts go stale as soon
as a head is registered), so this script is the single owner of zones
1-counts and 2, with a CI
staleness test (``tests/test_bench.py::test_queries_md_table_is_fresh``)
asserting that regeneration is a no-op on the committed file.

Usage:
    python scripts/gen_queries_md.py           # rewrite QUERIES.md in place
    python scripts/gen_queries_md.py --check   # exit 1 if committed file is stale
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES_MD = os.path.join(REPO, "QUERIES.md")
TABLE_HEADER = "| query | tags | oracle | what it does |\n|---|---|---|---|\n"
MAX_SUMMARY = 110


def _summary(doc: str) -> str:
    """First sentence of the docstring, whitespace-collapsed, capped."""
    text = " ".join(doc.split())
    # sentence end: ". " not inside an abbreviation we care about
    m = re.search(r"\.\s", text)
    first = text[: m.start() + 1] if m else text
    if len(first) > MAX_SUMMARY:
        first = first[: MAX_SUMMARY - 1].rstrip() + "…"
    return first.replace("|", "\\|")


def render() -> str:
    from gmall_flink_parent_spark import plans

    specs = plans.all_queries()
    n_total = len(specs)
    n_oracle = sum(1 for s in specs.values() if s.oracle is not None)
    n_past = sum(
        1 for s in specs.values() if s.oracle is not None and s.past_window
    )

    with open(QUERIES_MD, encoding="utf-8") as fh:
        doc = fh.read()

    # zone 1: machine-owned counts inside the hand-maintained prose
    doc = re.sub(
        r"^\d+ registered queries; \d+ with DuckDB oracles",
        f"{n_total} registered queries; {n_oracle} with DuckDB oracles",
        doc,
        count=1,
        flags=re.M,
    )
    doc = re.sub(
        r"the \d+ oracle-backed queries past the window",
        f"the {n_past} oracle-backed queries past the window",
        doc,
        count=1,
    )

    # zone 2: the table, regenerated wholesale
    rows = [
        f"| `{n}` | {' '.join(s.tags)} | {'✓' if s.oracle else 'rows-only'} "
        f"| {_summary(s.doc)} |"
        for n, s in sorted(specs.items())
    ]
    table = TABLE_HEADER + "\n".join(rows) + "\n"
    start = doc.index(TABLE_HEADER)
    end = doc.index("\n## Bench tiers", start)
    doc = doc[:start] + table + doc[end:]
    return doc


def main() -> int:
    check = "--check" in sys.argv
    new = render()
    with open(QUERIES_MD, encoding="utf-8") as fh:
        old = fh.read()
    if new == old:
        print("QUERIES.md: fresh")
        return 0
    if check:
        import difflib

        sys.stdout.writelines(
            difflib.unified_diff(
                old.splitlines(True), new.splitlines(True),
                "QUERIES.md(committed)", "QUERIES.md(regenerated)", n=0,
            )
        )
        print("QUERIES.md: STALE — run python scripts/gen_queries_md.py")
        return 1
    with open(QUERIES_MD, "w", encoding="utf-8") as fh:
        fh.write(new)
    print("QUERIES.md: rewritten")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
