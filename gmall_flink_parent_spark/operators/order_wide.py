"""OrderWide — the reference's flagship wide-table build (EP3).

Reference semantics (``gmall-realtime/.../app/dwm/OrderWideApp.java``):

- stream-stream interval join order_info ⋈ order_detail on order id within
  a ±5 ms event-time band (``OrderWideApp.java:134-141``),
- six chained async dimension enrichments (user, province, sku, spu,
  category, trademark) via Redis-cached Phoenix point lookups
  (``OrderWideApp.java:149-251``, ``app/func/DimAsyncFunction.java:23-63``),
- derived scalar columns: epoch ts from ``create_time``
  (``OrderWideApp.java:82-83``), age from birthday
  (``OrderWideApp.java:157-159``), day-grain date strings
  (``BaseLogTask.java:76``).

Spark-first design: the per-record async lookup machinery (thread pool +
Redis cache + 60 s timeouts) collapses into **broadcast hash joins** —
Catalyst plans one stage where the reference needed six network round
trips per record. The fact-fact join is a plain shuffle equi-join (AQE
picks sort-merge vs shuffled-hash at runtime); at 100 TB both fact sides
shuffle-partition on the order key while every dim ships to executors
once. The batch analog maps order_info→orders, order_detail→lineitem,
user/province dims→customer/nation/region, sku/trademark→part/supplier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_parent_spark.registry import register
from gmall_flink_parent_spark.sources.tables import fan_out, gated_broadcast, load_table

_BAND = """
    o_orderkey = l_orderkey AND
    l_shipdate >= o_orderdate AND
    l_shipdate <= o_orderdate + INTERVAL 30 DAYS
"""

ORDER_COLS = ("o_orderkey", "o_orderdate", "o_orderpriority")


def band_join(orders: DataFrame, lineitem: DataFrame, how: str) -> DataFrame:
    """orders ⋈ lineitem on the order key within the [0, +30 d]
    ship-date band — the one place the band and its watermarks live.

    Reference: ``OrderWideApp.java:134-141`` joins order_info ⋈
    order_detail within a ±5 ms band under 3 s watermarks (W5). The
    watermark belongs to the band it bounds (VLDB 2021, PAPERS.md), so
    both sides are watermarked here for batch and streaming frames
    alike. On a streaming frame Spark evicts join state once the
    watermark proves the band can no longer match; on a batch frame the
    optimizer drops the watermark (``EliminateEventTimeWatermark``) and
    the join is the key equi-join with the band as a post-join residual
    — shuffle only on the key, no cross product.
    """
    o = orders.withWatermark("o_orderdate", "3 seconds")
    d = lineitem.withWatermark("l_shipdate", "3 seconds")
    return o.join(d, F.expr(_BAND), how)


def _detail_rows(joined: DataFrame, *keys: str) -> DataFrame:
    return joined.select(
        *keys,
        "l_linenumber",
        "o_orderdate",
        "l_shipdate",
        F.col("l_extendedprice").cast("decimal(18,2)").cast("double").alias("extended_price"),
    )


def interval_join_frame(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """INNER band join: one row per in-band (order, detail) pair. Batch
    head: ``order_detail_interval_join``."""
    return _detail_rows(band_join(orders, lineitem, "inner"), "o_orderkey")


def interval_join_outer_frame(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """LEFT OUTER band join: the inner rows plus one null-padded row per
    order whose band holds no detail. Batch head:
    ``order_detail_interval_join_outer``."""
    return _detail_rows(band_join(orders, lineitem, "left"), "o_orderkey")


def interval_join_full_frame(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """FULL OUTER band join: the outer rows plus one null-order row per
    detail no order's band claims; both keys kept. Batch head:
    ``order_detail_interval_join_full``."""
    return _detail_rows(band_join(orders, lineitem, "full"), "o_orderkey", "l_orderkey")


def semi_join_frame(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """LEFT SEMI band join: each order with at least one in-band detail,
    once, order columns only. Batch head: ``order_detail_semi_join``."""
    return band_join(orders, lineitem, "left_semi").select(*ORDER_COLS)


def enrich(wide: DataFrame, spark: SparkSession, sf_dir: str, key: str, *extra) -> DataFrame:
    """The OrderWide dim enrichment chain over a joined orders ×
    lineitem frame: five size-gated broadcast dims, five LEFT joins and
    the wide output columns, led by ``key`` and ``l_linenumber`` and
    followed by ``extra``.

    Left joins keep the reference's pass-through-on-missing-dim
    behavior (``app/func/DimAsyncFunction.java:40-55`` never drops the
    row). On a streaming ``wide`` these are stream-static joins: each
    micro-batch hash-joins against the dim snapshot, so the dims hold
    no state.
    """
    # nation/region are bounded dims (always broadcast); customer/part/
    # supplier grow with the fact data, so their hints ride the parquet
    # size gate — at a scale where they stop fitting, the hint drops and
    # AQE picks the strategy instead of being overridden into an OOM.
    customer = gated_broadcast(spark, sf_dir, "customer")
    nation = gated_broadcast(spark, sf_dir, "nation")
    region = gated_broadcast(spark, sf_dir, "region")
    part = gated_broadcast(spark, sf_dir, "part")
    supplier = gated_broadcast(spark, sf_dir, "supplier")
    return (
        wide.join(customer, F.col("o_custkey") == F.col("c_custkey"), "left")
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"), "left")
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"), "left")
        .join(part, F.col("l_partkey") == F.col("p_partkey"), "left")
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"), "left")
        .select(
            key,
            "l_linenumber",
            F.date_format("o_orderdate", "yyyyMMdd").alias("order_ymd"),
            "o_orderpriority",
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
            F.col("p_name").alias("part_name"),
            F.col("s_name").alias("supplier_name"),
            # decimal casts fix the money scale; DOUBLE only at the output edge
            F.col("l_quantity").cast("decimal(18,2)").cast("double").alias("quantity"),
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            .cast("decimal(18,4)")
            .cast("double")
            .alias("revenue"),
            F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("total_price"),
            *extra,
        )
    )


ORDER_WIDE_ORACLE = """
SELECT l.l_orderkey,
       l.l_linenumber,
       strftime(o.o_orderdate, '%Y%m%d') AS order_ymd,
       o.o_orderpriority,
       c.c_custkey,
       c.c_name,
       c.c_mktsegment,
       n.n_name AS nation_name,
       r.r_name AS region_name,
       p.p_name AS part_name,
       s.s_name AS supplier_name,
       CAST(CAST(l.l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS quantity,
       CAST(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
       CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
       CAST(datediff('day', CAST(o.o_orderdate AS DATE), DATE '2026-01-01') AS INTEGER)
           AS order_age_days
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
LEFT JOIN customer c ON o.o_custkey   = c.c_custkey
LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
LEFT JOIN region r   ON n.n_regionkey = r.r_regionkey
LEFT JOIN part p     ON l.l_partkey   = p.p_partkey
LEFT JOIN supplier s ON l.l_suppkey   = s.s_suppkey
"""


@register("order_wide_enriched", oracle=ORDER_WIDE_ORACLE, tags=("J1", "J2", "P3", "P7", "P8"))
def order_wide_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join + 5-way broadcast dim enrichment (OrderWideApp batch analog).

    Dims are explicitly broadcast — the reference's per-record
    Redis/Phoenix lookup (J2/J3, ``utils/DimUtil.java:31-87``) becomes a
    map-side hash join with zero extra shuffles. Left joins preserve the
    reference's pass-through-on-missing-dim behavior
    (``app/func/DimAsyncFunction.java:40-55`` never drops the row).

    The fact side rides ``fan_out``: with every join broadcast the whole
    6-join + wide-projection pipeline is ONE map stage, and a
    single-split scan (the bench tables are one parquet row group)
    would run it on one core (guide §2.6 idle capacity). The guard
    makes this a structural no-op at real scale, where the scan itself
    has ≥ cores splits. Measured 0.72× at sf0.1, interleaved min-of-5.
    """
    lineitem = fan_out(spark, load_table(spark, sf_dir, "lineitem"))
    orders = load_table(spark, sf_dir, "orders")
    return enrich(
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "inner"),
        spark,
        sf_dir,
        "l_orderkey",
        F.datediff(F.lit("2026-01-01").cast("date"), F.to_date("o_orderdate"))
        .cast("int")
        .alias("order_age_days"),
    )


INTERVAL_JOIN_ORACLE = """
SELECT o.o_orderkey,
       l.l_linenumber,
       o.o_orderdate,
       l.l_shipdate,
       CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS extended_price
FROM orders o
JOIN lineitem l
  ON o.o_orderkey = l.l_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
"""


@register("order_detail_interval_join", oracle=INTERVAL_JOIN_ORACLE, tags=("J1", "W5"))
def order_detail_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time band join — batch analog of the ±5 ms interval join.

    Reference: ``OrderWideApp.java:134-141`` joins order_info ⋈
    order_detail where detail.ts ∈ [info.ts − 5 ms, info.ts + 5 ms]. The
    batch analog uses a [0, +30 d] ship-date band on the same order key.
    Physically this is the equi-join on the key with the band as a
    post-join residual filter — no cross product, shuffle only on the
    key, so it scales like any equi-join. The same
    ``interval_join_frame`` runs on streams, where the watermarks bound
    the join state.
    """
    return interval_join_frame(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


SEMI_JOIN_ORACLE = """
SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority
FROM orders o
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate >= o.o_orderdate
      AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
)
"""


@register(
    "order_detail_semi_join",
    oracle=SEMI_JOIN_ORACLE,
    tags=("J1", "W5", "semi-anti"),
    past_window=True,
)
def order_detail_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SEMI form of the event-time band join: orders with at least
    one detail inside the [0, +30 d] band, emitted once, order columns
    only — the "did the join partner ever arrive" question that the
    inner form answers with a fan-out and the outer form with NULL
    padding. Physically a LEFT SEMI equi-join with the band residual:
    the probe side short-circuits on first match, so no detail columns
    are materialized and the output is bounded by |orders| regardless
    of details-per-order. On streams the same ``semi_join_frame`` is
    Spark's stream-stream left-semi join under the band's watermarks (state
    drops an order as soon as one in-band match commits, the cheapest
    state profile of the three join forms).
    """
    return semi_join_frame(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


ANTI_JOIN_ORACLE = """
SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority
FROM orders o
WHERE NOT EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate >= o.o_orderdate
      AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
)
"""


@register(
    "order_detail_anti_join",
    oracle=ANTI_JOIN_ORACLE,
    tags=("J1", "W5", "semi-anti", "X4"),
    past_window=True,
)
def order_detail_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANTI form of the event-time band join: orders with NO detail
    inside the [0, +30 d] band — the join-level statement of the
    reference's CEP timeout branch (``UserJumpDetailApp.java``'s
    within-timeout split, X4): the partner never arrived before the
    deadline. Completes the four-form family (inner fan-out, outer
    null-pad, semi once-if-matched, anti once-if-never). Physically a
    LEFT ANTI equi-join with the band residual — build side probes and
    discards on first match, output bounded by |orders|. Streaming
    twin: ``streaming/jobs.py::order_wide_anti_stream``, where the row
    emits only once the WATERMARK proves no in-band detail can still
    arrive — the exact Flink timeout-side semantics, expressed as a
    built-in join instead of custom timers.
    """
    return band_join(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem"), "left_anti"
    ).select(*ORDER_COLS)


FULL_INTERVAL_JOIN_ORACLE = """
SELECT o.o_orderkey,
       l.l_orderkey,
       l.l_linenumber,
       o.o_orderdate,
       l.l_shipdate,
       CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS extended_price
FROM orders o
FULL JOIN lineitem l
  ON o.o_orderkey = l.l_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
"""


@register(
    "order_detail_interval_join_full",
    oracle=FULL_INTERVAL_JOIN_ORACLE,
    tags=("J1", "W5", "outer", "full"),
    past_window=True,
)
def order_detail_interval_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER event-time band join — the last cell of the join-form
    matrix (inner / left-outer / semi / anti / full): BOTH preserved
    sides at once, so one result carries the never-shipped orders
    (null detail columns) AND the out-of-band shipments no order's
    window claims (null order columns) — the reconciliation view a
    late-data audit reads, where either null region is a data-quality
    finding. Both key columns are kept (they differ exactly on the
    preserved rows). Physically still the equi-join with the band as a
    residual, null-padding both sides. On streams the same
    ``interval_join_full_frame`` is a full-outer stream-stream join,
    emitting each preserved row at watermark closure.
    """
    return interval_join_full_frame(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


PRICING_SUMMARY_ORACLE = """
SELECT l_returnflag,
       l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       CAST(COUNT(*) AS BIGINT) AS count_order,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2024-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("pricing_summary", oracle=PRICING_SUMMARY_ORACLE, tags=("agg", "dws"), past_window=True)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary — the DWS aggregation surface.

    The reference's DWS layer is absent (SURVEY §2.6) but pointed to by
    ``bean/TableProcess.java:15`` (SINK_TYPE_CK); this supplies the
    windowless grouped-aggregate capability. Money goes through DECIMAL
    (SURVEY §1.2 — money must not be float): per-row arithmetic in
    double, cast to DECIMAL once, then exact decimal SUM so the result
    is partition-order-independent — a 100 TB requirement, since
    float summation order varies run to run. (Decimal exactness is also
    what makes the ``fan_out`` parallelism repair below value-safe: the
    partial sums are order-independent under any partitioning.)

    ``fan_out``: the filter + per-row decimal arithmetic + partial
    aggregate all run in the scan stage, which on a one-row-group input
    is a single task (guide §2.6); the repair is a no-op at real scale.
    Measured 0.79× at sf0.1, interleaved min-of-5.
    """
    lineitem = fan_out(spark, load_table(spark, sf_dir, "lineitem"))
    return pricing_summary_merge(pricing_summary_partials(lineitem))


def pricing_summary_partials(lineitem: DataFrame) -> DataFrame:
    """Q1's filter and per-row measures reduced to (returnflag,
    linestatus) partials: exact decimal sums of quantity, base, discount
    price and charge, plus the row count. Decimal sums and counts are
    associative, so any partition of the rows into batches merges to the
    one-shot totals — the rows ``pricing_summary_store_job`` lands per
    micro-batch."""
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("2024-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty_part"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("base_part"),
            F.sum(disc_price.cast("decimal(18,6)")).alias("disc_part"),
            F.sum(charge.cast("decimal(18,6)")).alias("charge_part"),
            F.count(F.lit(1)).alias("n_part"),
        )
    )


def pricing_summary_merge(partials: DataFrame) -> DataFrame:
    """Merge ``pricing_summary_partials`` rows into the Q1 output: the
    decimal sums and counts add exactly, and the DOUBLE casts and the
    6-digit avg_qty rounding happen only after the merge, at the output
    edge, for stable driver hashing."""
    qty = F.sum("qty_part").cast("double")
    n = F.sum("n_part").cast("long")
    return partials.groupBy("l_returnflag", "l_linestatus").agg(
        qty.alias("sum_qty"),
        F.sum("base_part").cast("double").alias("sum_base_price"),
        F.sum("disc_part").cast("double").alias("sum_disc_price"),
        F.sum("charge_part").cast("double").alias("sum_charge"),
        n.alias("count_order"),
        F.round(qty / n, 6).alias("avg_qty"),
    )


OUTER_INTERVAL_JOIN_ORACLE = """
SELECT o.o_orderkey,
       l.l_linenumber,
       o.o_orderdate,
       l.l_shipdate,
       CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS extended_price
FROM orders o
LEFT JOIN lineitem l
  ON o.o_orderkey = l.l_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
"""


@register(
    "order_detail_interval_join_outer",
    oracle=OUTER_INTERVAL_JOIN_ORACLE,
    tags=("J1", "W5", "outer"),
)
def order_detail_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER event-time band join — the unmatched-order side the
    inner form (``order_detail_interval_join``) drops: an order with no
    detail inside its [0, +30 d] band keeps its row with null detail
    columns. That null row IS the alerting signal real order-wide
    pipelines watch for (an order that never shipped), so the outer
    form completes J1 rather than decorating it.

    Physically identical to the inner head — equi-join on the key, the
    band as a residual — plus null-padding for the preserved side;
    still shuffle-on-key only. On streams the same
    ``interval_join_outer_frame`` emits the null row once the
    watermark proves the band can no longer match — Flink's interval
    join cannot do outer at all (SURVEY §2.5 notes the reference
    drops unmatched rows), so this is a capability the Spark engine
    ADDS over the reference.
    """
    return interval_join_outer_frame(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
