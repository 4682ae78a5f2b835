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
import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# ------------------------------------------------------- cache lifecycle
#
# This module is the one place that persists and releases a frame. A
# cache has one of two lifetimes:
#
# - Block lifetime (``cached``): the frame is unpersisted when its
#   ``with`` block exits, error or not. For work that finishes inside
#   one call: a micro-batch body, a store upsert or compaction, a
#   fixpoint round.
# - Query lifetime (``scoped_persist``): the caller materializes the
#   RESULT after construction, so a query that persists an intermediate
#   frame has no point in its own body at which it could unpersist.
#   The cache lives until the same thread constructs its next query —
#   any ``query_scope`` function, which every registered query is —
#   matching the construct → materialize → next-query cadence the
#   driver and bench run. Without this, a ~50-query driver session
#   accumulates every query's cached frames in executor storage.
#
# Query-lifetime caches are owned by the constructing thread: building
# a query releases that thread's previous caches and those of threads
# that have exited, never the caches of a live thread, so queries
# built side by side on one session do not evict each other.
# ``release_caches()`` drops every thread's caches (end-of-run
# cleanup). A query that passes ``eager=True`` fills its cache at
# CONSTRUCTION time, so constructing it executes the fill job even if
# the caller only wants ``.schema``/``.explain``; everything else
# materializes only when the caller acts.

_LIVE_CACHES: dict[threading.Thread, list[DataFrame]] = {}
_LOCK = threading.Lock()


@contextmanager
def cached(df: DataFrame) -> Iterator[DataFrame]:
    """Persist ``df`` for the ``with`` block; unpersisted on exit."""
    out = df.persist()
    try:
        yield out
    finally:
        out.unpersist()


def scoped_persist(df: DataFrame, eager: bool = False) -> DataFrame:
    """Persist ``df`` with query lifetime.

    The frame stays cached while its query is materialized and is
    unpersisted when the calling thread constructs its NEXT query (or on
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
    with _LOCK:
        _LIVE_CACHES.setdefault(threading.current_thread(), []).append(out)
    if eager:
        out.count()
    return out


def _release(owned: Callable[[threading.Thread], bool]) -> None:
    """Unpersist the caches of every thread ``owned`` selects."""
    with _LOCK:
        drop = [df for t in list(_LIVE_CACHES) if owned(t)
                for df in _LIVE_CACHES.pop(t)]
    for df in drop:
        df.unpersist()


def release_caches() -> None:
    """Unpersist every thread's query-lifetime caches (idempotent)."""
    _release(lambda t: True)


def query_scope(fn: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
    """Decorator: constructing ``fn``'s query first releases the calling
    thread's previous query-lifetime caches (and those of exited
    threads) — by now the caller has taken its action(s)."""

    @functools.wraps(fn)
    def scoped(*args, **kwargs) -> DataFrame:
        me = threading.current_thread()
        _release(lambda t: t is me or not t.is_alive())
        return fn(*args, **kwargs)

    return scoped


def retain_latest() -> None:
    """Unpersist the calling thread's caches EXCEPT the most recent one.

    The downstream-stage cadence: a stage that persists a frame derived
    from an earlier persisted frame should fill its cache eagerly WHILE
    the upstream cache is still alive (one execution of the shared
    subtree), then call this — leaving exactly one live cache, same
    end-state as releasing first and then persisting, but without
    recomputing the upstream lineage during the fill (measured ~12% on
    the composed mix→order→pack chain at sf0.1)."""
    with _LOCK:
        own = _LIVE_CACHES.get(threading.current_thread(), [])
        drop = own[:-1]
        del own[:-1]
    for df in drop:
        df.unpersist()


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

        doc = (fn.__doc__ or "").strip()
        _REGISTRY[name] = QuerySpec(
            name, query_scope(fn), oracle, tuple(tags), doc, past_window
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
