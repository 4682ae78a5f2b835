"""One-command, test-guarded driver-window rotation.

The round driver hash-checks the FIRST 50 registry entries; the window
contract (pinned in ``tests/test_oracle_parity.py``) keeps exactly 50
oracle-backed queries at ``past_window=False``. Each round the window
rotates: a few long-green mature heads move behind the window
(``past_window=True`` added to their ``@register`` call) and the same
number of newest flagships move in (flag removed). Five manual
rotations had the identical shape; this script makes the sixth and
later ones a single command:

    python scripts/rotate_window.py \
        --promote sql_order_wide_surface,source_js_divergence \
        --retire pricing_summary,props_json_extract \
        [--dry-run] [--check [SF_DIR]]

Steps:
  1. locate each query's ``@register(`` block in the package source
     (exactly one match required; promoted blocks must currently carry
     ``past_window=True``, retired blocks must not);
  2. flip the annotations in place;
  3. re-import the registry in a clean subprocess and assert the window
     shape: exactly 50 oracle-backed past_window=False entries, the
     promoted names inside the first 50, the retired names behind them;
  4. with ``--check``, run the driver-sim correctness gate over the NEW
     window (all 50 heads, Spark vs DuckDB at SF_DIR, default
     /root/testdata/sf0.01) via the same oracle harness the local
     parity suite uses.

Exit nonzero (and restore the original sources on step-1/2 failures)
if anything is off.
"""

from __future__ import annotations

import argparse
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "gmall_flink_parent_spark")
ENTRY_FILES = [os.path.join(REPO, "__spark_entry__.py")]

PAST_WINDOW_LINE = "    past_window=True,\n"


def _package_files() -> list[str]:
    out = list(ENTRY_FILES)
    for root, _dirs, files in os.walk(PKG):
        out.extend(os.path.join(root, f) for f in files if f.endswith(".py"))
    return out


def _find_register_block(name: str) -> tuple[str, re.Match]:
    """Return (path, match) for the unique @register block of `name`.

    The match spans from ``@register(`` through the closing ``)`` line
    directly above the decorated ``def``.
    """
    multi = re.compile(
        r"@register\(\s*\n\s*\"" + re.escape(name) + r"\",\n(?:.*\n)*?\)\n(?=def )",
    )
    single = re.compile(
        r"@register\(\"" + re.escape(name) + r"\",[^\n]*\)\n(?=def )",
    )
    hits: list[tuple[str, re.Match]] = []
    for path in _package_files():
        with open(path, encoding="utf-8") as fh:
            text = fh.read()
        for pat in (multi, single):
            for m in pat.finditer(text):
                hits.append((path, m))
    if len(hits) != 1:
        raise SystemExit(
            f"rotate_window: expected exactly one @register block for "
            f"{name!r}, found {len(hits)}"
        )
    return hits[0]


def _flip(name: str, promote: bool, dry_run: bool) -> str:
    path, m = _find_register_block(name)
    block = m.group(0)
    single_line = block.startswith('@register("')
    if promote:
        if PAST_WINDOW_LINE not in block and "past_window=True" not in block:
            raise SystemExit(
                f"rotate_window: {name!r} has no past_window=True to remove "
                f"(already in-window?) in {path}"
            )
        if single_line:
            new_block = block.replace(", past_window=True", "", 1)
        else:
            new_block = block.replace(PAST_WINDOW_LINE, "", 1)
    else:
        if "past_window=True" in block:
            raise SystemExit(
                f"rotate_window: {name!r} already carries past_window=True "
                f"(already retired?) in {path}"
            )
        if single_line:
            new_block = block[: block.rfind(")\n")] + ", past_window=True)\n"
        else:
            # insert directly before the closing ")\n" of the call
            new_block = block[: block.rfind(")\n")] + PAST_WINDOW_LINE + ")\n"
    if not dry_run:
        with open(path, encoding="utf-8") as fh:
            text = fh.read()
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(text[: m.start()] + new_block + text[m.end():])
    return path


_SHAPE_CHECK = """
import sys; sys.path.insert(0, {repo!r})
from gmall_flink_parent_spark import plans
specs = list(plans.all_queries().values())
windowed = [s for s in specs if s.oracle is not None and not s.past_window]
assert len(windowed) == 50, f"window holds {{len(windowed)}} != 50"
first_50 = {{s.name for s in specs[:50]}}
assert first_50 == {{s.name for s in windowed}}
promoted = {promoted!r}
retired = {retired!r}
missing = [n for n in promoted if n not in first_50]
assert not missing, f"promoted names missing from window: {{missing}}"
still_in = [n for n in retired if n in first_50]
assert not still_in, f"retired names still in window: {{still_in}}"
by_name = {{s.name: s for s in specs}}
for n in retired:
    assert by_name[n].oracle is not None and by_name[n].past_window, n
print("window shape OK: 50 in-window; promoted in, retired behind")
"""

_WINDOW_CHECK = """
import sys; sys.path.insert(0, {repo!r}); sys.path.insert(0, {tests!r})
import duckdb
from gmall_flink_parent_spark import plans
from gmall_flink_parent_spark.session import get_spark
from oracle_harness import assert_arrow_schema_matches, assert_matches_oracle
sf_dir = {sf_dir!r}
spark = get_spark(app_name="rotate-window-check")
con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    con.execute(
        f"CREATE VIEW {{t}} AS SELECT * FROM '{{sf_dir}}/{{t}}.parquet'")
specs = list(plans.all_queries().values())[:50]
fails = []
for s in specs:
    try:
        df = s.fn(spark.sparkSession if hasattr(spark, "sparkSession") else spark,
                  sf_dir)
        assert_arrow_schema_matches(df, con, s.oracle, s.name)
        n = assert_matches_oracle(df, con, s.oracle, s.name)
        print(f"  {{s.name}}: OK ({{n}} rows)")
    except AssertionError as exc:
        fails.append(s.name)
        print(f"  {{s.name}}: FAIL {{exc}}")
if fails:
    raise SystemExit(f"window check failed: {{fails}}")
print("driver-sim window check: 50/50 OK")
"""


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--promote", required=True, help="comma-separated names")
    ap.add_argument("--retire", required=True, help="comma-separated names")
    ap.add_argument("--dry-run", action="store_true")
    ap.add_argument(
        "--check",
        nargs="?",
        const="/root/testdata/sf0.01",
        default=None,
        metavar="SF_DIR",
        help="after flipping, oracle-verify the full new 50-window",
    )
    args = ap.parse_args()
    promote = [n for n in args.promote.split(",") if n]
    retire = [n for n in args.retire.split(",") if n]
    if len(promote) != len(retire):
        raise SystemExit(
            f"rotate_window: promote ({len(promote)}) and retire "
            f"({len(retire)}) counts must match — the window holds exactly 50"
        )
    for name in promote:
        path = _flip(name, promote=True, dry_run=args.dry_run)
        print(f"promote {name}: past_window=True removed ({path})")
    for name in retire:
        path = _flip(name, promote=False, dry_run=args.dry_run)
        print(f"retire  {name}: past_window=True added ({path})")
    if args.dry_run:
        print("dry run: sources untouched")
        return 0
    shape = subprocess.run(
        [sys.executable, "-c",
         _SHAPE_CHECK.format(repo=REPO, promoted=promote, retired=retire)],
        capture_output=True, text=True,
    )
    sys.stdout.write(shape.stdout)
    if shape.returncode != 0:
        sys.stderr.write(shape.stderr)
        return 1
    if args.check:
        check = subprocess.run(
            [sys.executable, "-c",
             _WINDOW_CHECK.format(
                 repo=REPO, tests=os.path.join(REPO, "tests"), sf_dir=args.check)],
        )
        if check.returncode != 0:
            return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
