"""Registry of named queries with their DuckDB oracle SQL.

Each operator module registers its public queries here. A query is a
callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) an
equivalent ANSI-SQL string DuckDB can run over the same parquet tables.
The driver's correctness gate compares the two (row count + schema +
order-insensitive value hash), so **column names and value types must
match exactly** — every computed column is aliased identically on both
sides, money aggregates go through DECIMAL on both sides, and floating
outputs are rounded identically on both sides.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# ------------------------------------------------------- cache lifecycle
#
# Registered queries are lazy — with one deliberate exception: a query
# that passes ``eager=True`` here (the MinHash family) runs its cache
# fill at CONSTRUCTION time, so constructing those queries executes the
# signature jobs even if the caller only wants ``.schema``/``.explain``.
# That is the accepted price of the concurrent-consumer fix documented
# below; everything else materializes only when the caller acts. Either
# way the caller materializes the RESULT after construction, so a query
# that persists an intermediate frame has no point in its own body at
# which it could unpersist (the cache would be dropped before/while
# used). The pool below defers release to the next registered query's
# construction — matching the construct → materialize → next-query
# cadence the driver and bench run — with `release_caches()` for
# explicit cleanup at session end. Without this, a ~50-query driver
# session accumulates every query's cached frames in executor storage.

_LIVE_CACHES: list[DataFrame] = []


def scoped_persist(df: DataFrame, eager: bool = False) -> DataFrame:
    """Persist ``df`` with query-scoped lifetime.

    The frame stays cached while its query is materialized and is
    unpersisted when the NEXT registered query is constructed (or on
    ``release_caches()``).

    ``eager=True`` materializes the cache NOW with a ``count()``. Use it
    when the first downstream action is a single job with **several
    concurrent consumers** of the cache (e.g. a self-join's two shuffle-map
    stages): a lazily-filled cache makes those stages race on the block
    locks — each partition is computed once but every other consumer
    *blocks* on it, serializing what should be parallel stages (measured
    ~2× on the MinHash band join at sf0.1). The eager count costs one
    extra pass over the *reduced* frame only, and the fill job runs
    cluster-wide with no contention.
    """
    out = df.persist()
    _LIVE_CACHES.append(out)
    if eager:
        out.count()
    return out


def release_caches() -> None:
    """Unpersist every scoped cache (idempotent, safe to call anytime)."""
    while _LIVE_CACHES:
        _LIVE_CACHES.pop().unpersist()


def retain_latest() -> None:
    """Unpersist every scoped cache EXCEPT the most recently persisted.

    The downstream-stage cadence: a stage that persists a frame derived
    from an earlier persisted frame should fill its cache eagerly WHILE
    the upstream cache is still alive (one execution of the shared
    subtree), then call this — leaving exactly one live cache, same
    end-state as ``release_caches()``-then-persist but without
    recomputing the upstream lineage during the fill (measured ~12% on
    the composed mix→order→pack chain at sf0.1)."""
    while len(_LIVE_CACHES) > 1:
        _LIVE_CACHES.pop(0).unpersist()


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # None → non-SQL-expressible; driver does rows-only check
    tags: tuple[str, ...]
    doc: str
    past_window: bool = False  # True → sorted after the driver's 50-query window


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    past_window: bool = False,
):
    """Decorator: register ``fn`` as a named query with its oracle SQL.

    ``past_window=True`` places an oracle-backed query behind the
    50-query correctness window (the first 50 registry entries): it
    sorts after every windowed oracle-backed query, and its hash parity
    is enforced by the local oracle suite
    (``tests/test_oracle_parity.py``). The window rotates:
    ``scripts/rotate_window.py`` sets the flag on long-green heads it
    retires and clears it on the heads it promotes, keeping exactly 50
    oracle-backed queries unflagged.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Drop the previous query's scoped caches before building
            # this one — by now the caller has taken its action(s).
            release_caches()
            return fn(spark, sf_dir)

        _REGISTRY[name] = QuerySpec(
            name, scoped, oracle, tuple(tags), (fn.__doc__ or "").strip(), past_window
        )
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    """Registry snapshot, oracle-backed queries first.

    The round driver checks the first 50 registry entries; emitting
    oracle-backed queries ahead of rows-only ones (stable within each
    group by registration order) keeps the checked window entirely
    hash-oracled regardless of module import order. Oracle-backed
    queries beyond the 50th (``past_window=True``) sort directly after
    the windowed ones so the driver's long-green rows keep their slots;
    their parity is enforced by ``tests/test_oracle_parity.py``.
    """
    ordered = sorted(
        _REGISTRY.values(), key=lambda s: (s.oracle is None, s.past_window)
    )
    return {s.name: s for s in ordered}


def query_map() -> dict[str, QueryFn]:
    return {n: s.fn for n, s in all_queries().items()}


def oracle_map() -> dict[str, str]:
    return {n: s.oracle for n, s in all_queries().items() if s.oracle is not None}
