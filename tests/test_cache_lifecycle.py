"""Scoped caches must not leak across registered queries.

Round-2 verdict: `clusters` (_minhash_pairs), `probed`
(simhash_near_dup) and `part` (user_value_distribution) were persisted
and never unpersisted — a ~50-query driver session accumulated every
query's cached frames. The registry now drains the previous query's
scoped caches when the next query is constructed, and exposes
``release_caches()`` for end-of-session cleanup.
"""

from __future__ import annotations

from gmall_flink_parent_spark import plans
from gmall_flink_parent_spark.registry import release_caches

# Every registered query that persists an intermediate frame, and the
# number of scoped caches it is allowed to hold while live.
CACHING = {
    "dedup_minhash_lsh": 1,
    "dedup_cascade_verify": 1,
    "simhash_near_dup": 1,
    "user_value_distribution": 1,
    # one live cache each: positions.ordered_positions' stamped frame
    "packed_training_stream": 1,
    "token_budget_select": 1,
}


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_scoped_caches_released_between_queries(spark, sf_dir):
    qmap = plans.query_map()
    release_caches()
    base = _n_persistent(spark)
    for name, budget in CACHING.items():
        qmap[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        # While a query is live its own scoped caches (and nothing else)
        # may be materialized — the previous query's were drained at
        # construction time.
        assert _n_persistent(spark) - base <= budget, name
    release_caches()
    assert _n_persistent(spark) <= base


def test_release_caches_idempotent(spark, sf_dir):
    release_caches()
    release_caches()


def test_cached_query_still_correct_after_drain(spark, duck, sf_dir):
    # Draining between queries must not change results: run two caching
    # queries back-to-back and oracle-check the second.
    from tests.oracle_harness import assert_matches_oracle

    qmap = plans.query_map()
    qmap["dedup_minhash_lsh"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    spec = plans.all_queries()["simhash_near_dup"]
    assert_matches_oracle(
        spec.fn(spark, sf_dir), duck, spec.oracle, name="simhash_near_dup"
    )
    release_caches()
