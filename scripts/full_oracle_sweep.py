"""Oracle-check registered queries against DuckDB at any scale factor.

The local test suite checks oracle parity at sf0.001 (speed) and the
round driver checks its 50-query window at sf0.01. With no query names
this script closes the remaining gap by running EVERY registered query —
past-window entries included; with names it checks just those (the
per-change loop). Same comparison as the harness: row count + Arrow
schema + column-sorted, type-normalized value hash vs DuckDB; rows-only
queries get a nonempty check.

Usage:
    python scripts/full_oracle_sweep.py [--sf SF_DIR] [NAME ...]

Default SF_DIR: /root/testdata/sf0.01 (the driver's correctness scale).
Prints one line per query and exits nonzero on any mismatch.
"""

from __future__ import annotations

import argparse
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "tests"))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="queries to check (default: all)")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    import duckdb

    from gmall_flink_parent_spark import plans
    from gmall_flink_parent_spark.session import get_spark
    from oracle_harness import assert_arrow_schema_matches, assert_matches_oracle

    spark = get_spark("full-oracle-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    specs = plans.all_queries()
    failures: list[tuple[str, str]] = []
    for name in args.names or specs:
        spec = specs[name]
        try:
            if spec.oracle is None:
                n = spec.fn(spark, args.sf).count()
                assert n > 0, "rows-only query returned 0 rows"
                print(f"{name} OK rows-only ({n})", flush=True)
            else:
                # build the frame ONCE: both assertions execute it, and a
                # second spec.fn() call would re-run the whole query at
                # the larger SFs this script exists to cover
                df = spec.fn(spark, args.sf)
                n = assert_matches_oracle(df, con, spec.oracle, name=name)
                assert_arrow_schema_matches(df, con, spec.oracle, name=name)
                print(f"{name} OK ({n})", flush=True)
        except Exception as ex:  # noqa: BLE001 — report every query, then fail
            failures.append((name, str(ex)[:300]))
            print(f"{name} FAIL {str(ex)[:160]}", flush=True)

    print(f"\n{len(failures)} failures" if failures else "\nall queries green")
    for name, err in failures:
        print(f"  {name}: {err}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
