"""The ordered-position primitive (``gmall_flink_parent_spark/positions.py``).

Its positions and running sums must not depend on the physical plan:
the shuffle partition count, AQE, or whether AQE may re-partition the
cached stamped frame.
"""

from __future__ import annotations

import contextlib
import hashlib
import pathlib

import numpy as np
import pandas as pd
import pytest

from gmall_flink_parent_spark import plans
from gmall_flink_parent_spark.positions import ordered_positions, running_sum
from gmall_flink_parent_spark.registry import release_caches

VARIANTS = {
    "shuffle.partitions=1": {"spark.sql.shuffle.partitions": "1"},
    "shuffle.partitions=7": {"spark.sql.shuffle.partitions": "7"},
    "shuffle.partitions=64": {"spark.sql.shuffle.partitions": "64"},
    "aqe off": {"spark.sql.adaptive.enabled": "false"},
    "cached plan fixed": {
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "false"
    },
}


def test_running_sum_kernel_carries_offset_across_batches_in_int64():
    big = 2**31 - 1
    batches = [
        pd.DataFrame({"k": [0, 1], "w": np.array([big, big], dtype="int32")}),
        pd.DataFrame({"k": [2, 3], "w": np.array([big, 5], dtype="int32")}),
    ]
    out = list(running_sum("w")(iter(batches)))
    assert [list(pdf["k"]) for pdf in out] == [[0, 1], [2, 3]]
    assert all(pdf["cum_in_part"].dtype == np.int64 for pdf in out)
    # the second batch starts from the first one's total, and the sums
    # pass 2^31 without wrapping
    assert [int(v) for pdf in out for v in pdf["cum_in_part"]] == [
        0,
        big,
        2 * big,
        3 * big,
    ]


def test_ordered_positions_rejects_unsupported_groups():
    # checked before Spark is touched: a group must lead the sort key,
    # and the running sum does not restart at group boundaries
    with pytest.raises(ValueError, match="must lead"):
        ordered_positions(None, ["k", "g"], group=["g"])
    with pytest.raises(ValueError, match="takes no group"):
        ordered_positions(None, ["g", "k"], group=["g"], weight="w")


def test_mid_stamp_lives_only_in_positions_module():
    """Every ``__mid`` position stamp is made and decoded in
    ``positions.py``, so its bit layout has one owner."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "gmall_flink_parent_spark"
    needles = ("monotonically_increasing_id", '"__mid"')
    found = {
        (p.relative_to(pkg).as_posix(), needle)
        for p in pkg.rglob("*.py")
        for needle in needles
        if needle in p.read_text(encoding="utf-8")
    }
    assert found == {("positions.py", needle) for needle in needles}


@contextlib.contextmanager
def _confs(spark, confs):
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _digest(df) -> str:
    return hashlib.sha256(repr(_rows(df)).encode()).hexdigest()


def _results(spark, sf_dir, frame) -> dict:
    release_caches()  # a live cache from the last run would be reused
    grouped = ordered_positions(frame, ["g", "k"], group=["g"])
    weighted = ordered_positions(frame, ["k"], weight="w")
    out = {
        "grouped": _rows(grouped.select("g", "k", "pos", "n")),
        "weighted": _rows(weighted.select("k", "pos", "n", "cum_before", "total")),
    }
    qmap = plans.query_map()
    for name in ("packed_training_stream", "user_value_distribution"):
        out[name] = _digest(qmap[name](spark, sf_dir))
    release_caches()
    return out


def test_positions_are_plan_invariant(spark, sf_dir):
    keys = [(i * 7919) % 1009 for i in range(600)]  # 600 distinct keys
    frame = spark.createDataFrame(
        [(k, k % 3, 1 + k % 11) for k in keys], "k long, g long, w int"
    )
    pdf = pd.DataFrame(
        {"k": keys, "g": [k % 3 for k in keys], "w": [1 + k % 11 for k in keys]}
    )

    want = _results(spark, sf_dir, frame)
    ref = pdf.sort_values(["g", "k"])
    ref_pos = ref.groupby("g").cumcount()
    ref_n = ref.groupby("g")["k"].transform("size")
    assert want["grouped"] == sorted(zip(ref["g"], ref["k"], ref_pos, ref_n)), (
        "grouped positions differ from the pandas reference"
    )
    ref = pdf.sort_values("k")
    n, total = len(ref), ref["w"].sum()
    cum = ref["w"].cumsum() - ref["w"]
    assert want["weighted"] == sorted(
        (k, i, n, c, total) for i, (k, c) in enumerate(zip(ref["k"], cum))
    ), "running sums differ from the pandas reference"

    for label, confs in VARIANTS.items():
        with _confs(spark, confs):
            got = _results(spark, sf_dir, frame)
        for part, value in want.items():
            assert got[part] == value, f"{part} differs under {label}"
