"""Unit tests for the benchmark's pure logic (no JVM needed).

Run from the repo root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import math
import os
import sys
from types import SimpleNamespace

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402
import queries  # noqa: E402
import stats  # noqa: E402


# ---------------------------------------------------------------- tail rule


@pytest.mark.parametrize("n,p", [(100, 90), (1000, 99), (200, 95), (60, 83), (20, 50), (5, 50)])
def test_tail_percentile_known_sizes(n, p):
    assert stats.tail_percentile(n) == p


def test_tail_percentile_leaves_ten_samples_beyond_and_is_the_highest():
    for n in range(1, 2000):
        p = stats.tail_percentile(n)
        beyond = n - math.ceil(n * p / 100)
        if p > 50:
            assert beyond >= 10, n
        if p < 99:
            assert n - math.ceil(n * (p + 1) / 100) < 10, n


def test_tail_reads_the_chosen_percentile():
    values = list(range(1, 101))  # 1..100
    p, v = stats.tail(values)
    assert p == 90
    assert v == pytest.approx(stats.percentile(values, 90))
    assert stats.median([3, 1, 2]) == 2


def test_geomean_weighs_each_query_the_same():
    assert stats.geomean([0.1, 10.0]) == pytest.approx(1.0)
    assert stats.geomean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        stats.geomean([])


# ------------------------------------------------------- open-loop accounting


def test_open_loop_schedule_is_fixed_rate():
    due = stats.open_loop_schedule(100.0, 4.0, 5)
    assert due == [100.0, 100.25, 100.5, 100.75, 101.0]


def test_latency_counts_from_due_time_not_send_time():
    due = stats.open_loop_schedule(0.0, 1.0, 3)  # 0, 1, 2
    sent = [0.0, 2.5, 2.6]  # the generator stalled 1.5 s before the second send
    done = [0.5, 3.0, 3.1]
    assert stats.latency_from_due(due, done) == pytest.approx([0.5, 2.0, 1.1])
    assert stats.lateness(due, sent) == pytest.approx([0.0, 1.5, 0.6])


def test_lateness_is_never_negative():
    assert stats.lateness([1.0, 2.0], [0.9, 2.0]) == [0.0, 0.0]


# ------------------------------------------------------------ seed -> draw


def _specs(names, module="gmall_flink_parent_spark.operators.x", tags=()):
    return {n: SimpleNamespace(fn=SimpleNamespace(__module__=module), tags=tags) for n in names}


def test_run_order_is_determined_by_seed():
    names = [f"q{i}" for i in range(12)]
    assert queries.run_order(names, 7) == queries.run_order(list(reversed(names)), 7)
    assert sorted(queries.run_order(names, 7)) == sorted(names)
    assert any(queries.run_order(names, 7) != queries.run_order(names, s) for s in range(8, 12))


def test_fixed_heads_filter_package_and_iterative_tag():
    specs = {
        **_specs([f"op{i}" for i in range(30)]),
        **_specs([f"fn{i}" for i in range(30)], module="gmall_flink_parent_spark.functions.y"),
        **_specs(["loop"], tags=("iterative",)),
    }
    heads = queries.fixed_heads(specs, "warehouse_queries")
    assert len(heads) == queries.HEADS["warehouse_queries"]
    assert all(h.startswith("op") for h in heads)
    assert queries.fixed_heads(specs, "curation_queries") == sorted(
        queries.fixed_heads(specs, "curation_queries")
    )
    assert all(h.startswith("fn") for h in queries.fixed_heads(specs, "curation_queries"))


def test_fixed_heads_stable_when_an_unselected_head_goes():
    base = _specs([f"op{i}" for i in range(40)])
    heads = queries.fixed_heads(base, "warehouse_queries")
    for gone in [n for n in sorted(base) if n not in heads][:5]:
        rest = {k: v for k, v in base.items() if k != gone}
        assert queries.fixed_heads(rest, "warehouse_queries") == heads


# ----------------------------------------------------------- seed -> slice


def test_generate_is_determined_by_seed():
    a = datagen.generate(5, 0.001)
    b = datagen.generate(5, 0.001)
    c = datagen.generate(6, 0.001)
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["events"].equals(c["events"])


def test_generated_types_match_the_engine_fixtures():
    t = datagen.generate(1, 0.001)
    assert str(t["events"].schema.field("ts").type) == "timestamp[us]"
    assert str(t["nation"].schema.field("n_nationkey").type) == "int32"
    assert str(t["embeddings"].schema.field("embedding").type) == "list<item: float>"
    assert t["lineitem"].num_rows > t["orders"].num_rows


def test_slices_are_determined_by_seed_and_cover_the_table():
    t = datagen.generate(3, 0.001)["events"]
    bounds = datagen.time_bounds([t], ["ts"], 7)
    s1 = datagen.slice_by_time(t, "ts", bounds)
    s2 = datagen.slice_by_time(datagen.generate(3, 0.001)["events"], "ts", bounds)
    assert len(s1) == 7
    assert all(x.equals(y) for x, y in zip(s1, s2))
    assert sum(s.num_rows for s in s1) == t.num_rows


def _ts(table, col):
    return table.column(col).cast("int64").to_numpy()


def test_slices_keep_event_time_order():
    tables = datagen.generate(9, 0.001)
    ev = tables["events"]
    slices = datagen.slice_by_time(ev, "ts", datagen.time_bounds([ev], ["ts"], 9))
    prev_max = None
    for s in slices:
        ts = _ts(s, "ts")
        if len(ts):
            assert np.all(np.diff(ts) >= 0), "a slice is not time-sorted"
            if prev_max is not None:
                assert ts.min() >= prev_max, "a slice reaches back past its predecessor"
            prev_max = ts.max()


def test_order_and_lineitem_slices_share_event_time_bounds():
    tables = datagen.generate(4, 0.001)
    o, li = tables["orders"], tables["lineitem"]
    bounds = datagen.time_bounds([o, li], ["o_orderdate", "l_shipdate"], 6)
    for k, (so, sl) in enumerate(
        zip(
            datagen.slice_by_time(o, "o_orderdate", bounds),
            datagen.slice_by_time(li, "l_shipdate", bounds),
        )
    ):
        for ts in (_ts(so, "o_orderdate"), _ts(sl, "l_shipdate")):
            if len(ts):
                assert bounds[k] <= ts.min() and ts.max() < bounds[k + 1] or k == 5
