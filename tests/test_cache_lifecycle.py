"""Cache lifetimes: ``registry.py`` is the one owner of persist and release.

A query-lifetime cache (``scoped_persist``) lives until its thread
constructs the next query (a ``query_scope`` function, which every
registered query is), so a ~50-query driver session does not
accumulate every query's cached frames. Caches are owned per thread: a
query built on one thread never releases another live thread's caches.
``release_caches()`` drops every thread's caches at end of run, and
block-lifetime caches (``cached``) end with their ``with`` block. A
Spark-free guard keeps every persist and release inside the registry.
"""

from __future__ import annotations

import pathlib
import threading

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


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_scoped_caches_released_between_queries(spark, sf_dir):
    qmap = plans.query_map()
    release_caches()
    base = len(_persistent_ids(spark))
    for name, budget in CACHING.items():
        qmap[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        # While a query is live its own scoped caches (and nothing else)
        # may be materialized — the previous query's were drained at
        # construction time.
        assert len(_persistent_ids(spark)) - base <= budget, name
    release_caches()
    assert len(_persistent_ids(spark)) <= base


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


def test_query_built_on_another_thread_keeps_this_threads_caches(
    spark, duck, sf_dir
):
    # While this thread holds a materialized caching head, a query built
    # on a second thread must release none of its caches; the next query
    # built here releases both its own and the exited thread's.
    from tests.oracle_harness import assert_matches_oracle

    specs = plans.all_queries()
    base = _persistent_ids(spark)
    held = specs["user_value_distribution"].fn(spark, sf_dir)
    held.write.format("noop").mode("overwrite").save()
    held_ids = _persistent_ids(spark) - base
    assert held_ids

    built = {}

    def build_other() -> None:
        df = specs["simhash_near_dup"].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        built["df"] = df

    other = threading.Thread(target=build_other)
    other.start()
    other.join()
    assert "df" in built, "the second thread raised"
    assert held_ids <= _persistent_ids(spark)
    for name, df in (
        ("user_value_distribution", held),
        ("simhash_near_dup", built["df"]),
    ):
        assert_matches_oracle(df, duck, specs[name].oracle, name=name)

    specs["pricing_summary"].fn(spark, sf_dir)
    assert not _persistent_ids(spark) - base


def test_persist_and_release_live_only_in_registry():
    """Every persist and release goes through ``registry.py``'s two
    lifetimes; the one other ``release_caches()`` is the pipeline's
    end-of-run cleanup."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "gmall_flink_parent_spark"
    needles = (".persist(", ".unpersist(", "release_caches(")
    found = {
        (p.relative_to(pkg).as_posix(), needle)
        for p in pkg.rglob("*.py")
        for needle in needles
        if needle in p.read_text(encoding="utf-8")
    }
    assert found == {("registry.py", needle) for needle in needles} | {
        ("pipeline.py", "release_caches(")
    }
    assert (pkg / "pipeline.py").read_text(encoding="utf-8").count(
        "release_caches()"
    ) == 1
