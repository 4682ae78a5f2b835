"""Global position and running sum in sort order, without a single-reducer window.

The one home of the ``__mid`` idiom behind the training-order, packing,
token-budget and value-distribution heads:

1. range-partition on the sort key (Spark samples the bounds; each
   partition sorts locally — never a single-reducer total sort), then
   stamp ``__mid = monotonically_increasing_id()`` over the sorted
   partitions: (partition id << 33) | record number within the partition;
2. fold the stamped frame into ONE #partitions-row summary per
   (partition, optional group): row count, optional weight sum, and the
   group's first record number in the partition;
3. a window over that tiny summary gives each partition its exclusive
   offset and each group its total, and rides a broadcast join back;
4. position = offset + record number − the group's first record number.
   A weighted running sum adds one Arrow pass (``running_sum``) that
   accumulates the weight within each partition, in order.

A ``row_number`` or ``SUM OVER`` window over the data would either sort
everything on one task (unpartitioned) or re-shuffle the full frame on
the partition id to prove a clustering the range exchange already made.

The stamped frame is persisted (query-scoped): the summary and the
output both read it, and without one materialization the two could
re-run the range exchange with different sampled bounds and disagree on
partition membership. Positions do not depend on where the bounds fall,
nor on AQE merging adjacent cached partitions (``session.py``), as long
as the sort key is unique.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gmall_flink_parent_spark.registry import scoped_persist

_MID = "__mid"
_RECORD_BITS = 33  # monotonically_increasing_id: partition id << 33 | record number


def running_sum(weight: str):
    """The Arrow ``mapInPandas`` kernel: adds ``cum_in_part``, the
    exclusive running sum of ``weight`` down one partition's batches."""

    def cumsum(batches):
        offset = 0
        for pdf in batches:
            # accumulate in int64 (``cum_in_part`` is declared long): a
            # partition's running total of an int32 weight passes 2^31
            w = pdf[weight].astype("int64")
            pdf = pdf.assign(cum_in_part=offset + w.cumsum() - w)
            offset += int(w.sum())
            yield pdf

    return cumsum


def ordered_positions(
    df: DataFrame,
    sort_cols: Sequence[str],
    group: Sequence[str] = (),
    weight: str | None = None,
    eager: bool = False,
) -> DataFrame:
    """``df``'s columns plus ``pos`` (0-based position in ``sort_cols``
    order within ``group``) and ``n`` (the group's row count); with a
    ``weight`` column instead of a group also ``cum_before`` (the
    exclusive running sum of ``weight`` in that order) and ``total``
    (the weight sum).

    ``group`` must lead ``sort_cols``, so that each group is contiguous
    within a partition. ``sort_cols`` should be unique: ties take an
    arbitrary but consistent order. ``eager`` fills the stamped frame's
    cache now (``scoped_persist``).
    """
    group = list(group)
    if list(sort_cols[: len(group)]) != group:
        raise ValueError(f"group {group} must lead sort_cols {list(sort_cols)}")
    if group and weight:
        # the kernel's running sum crosses group boundaries in a partition
        raise ValueError("a weighted running sum takes no group")
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    part = scoped_persist(
        df.repartitionByRange(n_parts, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .withColumn(_MID, F.monotonically_increasing_id()),
        eager=eager,
    )
    pid = F.shiftright(_MID, _RECORD_BITS)
    record = F.col(_MID).bitwiseAND(F.lit((1 << _RECORD_BITS) - 1))

    aggs = [F.count(F.lit(1)).alias("cnt")]
    if weight:
        aggs.append(F.sum(F.col(weight).cast("long")).alias("wsum"))
    if group:  # without a group every partition's first record number is 0
        aggs.append(F.min(record).alias("first_off"))
    by_pid = Window.partitionBy(*group).orderBy("pid")
    before = by_pid.rowsBetween(Window.unboundedPreceding, -1)
    whole = by_pid.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cols = ["pid", *group, *(["first_off"] if group else [])]
    sums = [("cnt", "off", "n")] + ([("wsum", "w_off", "total")] if weight else [])
    for v, off, tot in sums:
        cols += [
            F.coalesce(F.sum(v).over(before), F.lit(0)).alias(off),
            F.sum(v).over(whole).alias(tot),
        ]
    offsets = part.groupBy(pid.alias("pid"), *group).agg(*aggs).select(*cols)

    body = part
    if weight:
        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in part.schema.fields
        ) + ", cum_in_part long"
        body = part.mapInPandas(running_sum(weight), schema=schema)
    pos = F.col("off") + record
    if group:
        pos = pos - F.col("first_off")
    out = [pos.alias("pos"), "n"]
    if weight:
        out += [(F.col("w_off") + F.col("cum_in_part")).alias("cum_before"), "total"]
    return (
        body.withColumn("pid", pid)
        .join(F.broadcast(offsets), ["pid", *group])
        .select(*df.columns, *out)
    )
