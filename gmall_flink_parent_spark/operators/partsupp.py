"""Derived partsupp-analog table + exact-topology TPC-H shapes.

The test corpus has no partsupp table (TESTDATA.md), so the round-10
Q2/Q9/Q11/Q16/Q20 heads price supply cost from observed lineitems —
faithful shapes, non-TPC-H cost basis. This module closes that gap
(VERDICT r10 next-round #5) with a DETERMINISTIC derived partsupp:

- **pairs** = the 4-per-part TPC-H-style supplier spread
  ``(p_partkey + p_partkey div S + k * max(1, S div 4)) mod S`` for
  k ∈ 0..3 (distinct for any S ≥ 4: (k₁−k₂)·stride < S), UNIONed with
  every (l_partkey, l_suppkey) pair OBSERVED in lineitem — so every
  lineitem joins exactly one partsupp row (Q9/Q20's topology) while
  every part still has ≥ 4 priced suppliers (Q2/Q11/Q16's topology);
- **pricing** = md5-derived (the one hash Spark and DuckDB compute
  identically; same idiom as the mixture/curation families):
  ``ps_availqty = md5int('aq:pk:sk') % 9999 + 1`` and
  ``ps_supplycost = (md5int('sc:pk:sk') % 99901 + 100) / 100`` as
  DECIMAL(12,2) ∈ [1.00, 1000.00].

Everything is a pure function of the input tables — no RNG, no state —
so the DuckDB oracle rebuilds the identical table from the same
parquet and the driver's hash compare is exact. At scale: the spread
is a 4× explode of the part scan, the observed pairs are one distinct
shuffle at (part, supplier) grain (≈ |partsupp|, the same cardinality
TPC-H materializes), and the pricing is codegen column math — no
driver participation beyond the 1-value supplier count (bounded dim).

Reference parity: the reference's DWS/ADS joins never price inventory
(no partsupp in gmall either); these heads are the analytic-SQL
surface extension, with the observed-lineitem variants retained as the
domain-faithful siblings (``regional_cheapest_supplier``,
``nation_profit_rollup``, ``important_part_stock``,
``part_supplier_variety``, ``dominant_part_suppliers``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from gmall_flink_parent_spark.registry import register, scoped_persist
from gmall_flink_parent_spark.sources.tables import gated_broadcast, load_table

# DuckDB-side construction — prefixed to every oracle in this module.
# ps_pairs mirrors partsupp_frame() term by term; both engines floor
# the integer divisions (all operands non-negative) and both compute
# md5 over the same 'prefix:pk:sk' key string.
PARTSUPP_CTE = """
WITH ps_pairs AS (
    SELECT p.p_partkey AS ps_partkey,
           (p.p_partkey + p.p_partkey // s.cnt
            + k.k * GREATEST(1, s.cnt // 4)) % s.cnt AS ps_suppkey
    FROM part p
    CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS cnt FROM supplier) s
    CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS k) k
    UNION
    SELECT l_partkey, l_suppkey FROM lineitem
),
partsupp AS (
    SELECT ps_partkey, ps_suppkey,
           CAST(CAST('0x' || substr(md5('aq:' || CAST(ps_partkey AS VARCHAR)
                    || ':' || CAST(ps_suppkey AS VARCHAR)), 1, 8) AS BIGINT)
                % 9999 + 1 AS INTEGER) AS ps_availqty,
           CAST((CAST('0x' || substr(md5('sc:' || CAST(ps_partkey AS VARCHAR)
                    || ':' || CAST(ps_suppkey AS VARCHAR)), 1, 8) AS BIGINT)
                 % 99901 + 100) / 100.0 AS DECIMAL(12,2)) AS ps_supplycost
    FROM ps_pairs
)
"""


def _md5_long(prefix: str) -> F.Column:
    """First 8 md5 hex digits of 'prefix:pk:sk' as a long — identical
    to the oracle's CAST('0x' || substr(md5(...), 1, 8) AS BIGINT)."""
    key = F.concat_ws(
        ":",
        F.lit(prefix),
        F.col("ps_partkey").cast("string"),
        F.col("ps_suppkey").cast("string"),
    )
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")


def partsupp_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived partsupp table (see module docstring).

    The supplier count is the only driver-side value (one count on a
    bounded dim — the same class of scalar as the row-count-gated
    broadcast switch in ``functions/dedup.py``); everything else is
    declarative: a 4× explode of the part scan, one distinct over the
    union with observed lineitem pairs, codegen md5 pricing.
    """
    n_supp = load_table(spark, sf_dir, "supplier").count()
    stride = max(1, n_supp // 4)
    spread = (
        load_table(spark, sf_dir, "part")
        .select(F.col("p_partkey").alias("ps_partkey"))
        .select(
            "ps_partkey",
            F.explode(F.array(*[F.lit(k) for k in range(4)])).alias("k"),
        )
        .select(
            "ps_partkey",
            (
                (
                    F.col("ps_partkey")
                    + F.expr(f"ps_partkey DIV {n_supp}")
                    + F.col("k") * F.lit(stride)
                )
                % F.lit(n_supp)
            )
            .cast("long")
            .alias("ps_suppkey"),
        )
    )
    observed = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    )
    pairs = spread.unionByName(observed).distinct()
    return pairs.select(
        "ps_partkey",
        "ps_suppkey",
        (_md5_long("aq") % 9999 + 1).cast("int").alias("ps_availqty"),
        ((_md5_long("sc") % 99901 + 100) / F.lit(100.0))
        .cast("decimal(12,2)")
        .alias("ps_supplycost"),
    )


PARTSUPP_SYNTH_ORACLE = (
    PARTSUPP_CTE
    + """
SELECT ps_partkey, ps_suppkey, ps_availqty,
       CAST(ps_supplycost AS DOUBLE) AS ps_supplycost
FROM partsupp
"""
)


@register(
    "partsupp_synth",
    oracle=PARTSUPP_SYNTH_ORACLE,
    tags=("table", "tpch", "partsupp"),
    past_window=True,
)
def partsupp_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived partsupp table itself, registered so the driver
    hash-pins the CONSTRUCTION — every downstream ``*_partsupp`` head
    inherits a verified cost basis. supplycost crosses the comparison
    boundary as double (exact: ≤ 6 significant digits)."""
    return partsupp_frame(spark, sf_dir).select(
        "ps_partkey",
        "ps_suppkey",
        "ps_availqty",
        F.col("ps_supplycost").cast("double").alias("ps_supplycost"),
    )


CHEAPEST_PARTSUPP_ORACLE = (
    PARTSUPP_CTE
    + """
SELECT CAST(s.s_acctbal AS DOUBLE) AS s_acctbal, s.s_name, n.n_name,
       p.p_partkey, p.p_type, CAST(ps.ps_supplycost AS DOUBLE) AS cost
FROM partsupp ps
JOIN part p ON p.p_partkey = ps.ps_partkey AND p.p_type = 'LARGE'
JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
WHERE ps.ps_supplycost = (
    SELECT min(ps2.ps_supplycost)
    FROM partsupp ps2
    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
    JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
    JOIN region r2 ON r2.r_regionkey = n2.n_regionkey AND r2.r_name = 'EUROPE'
    WHERE ps2.ps_partkey = p.p_partkey
)
ORDER BY s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
LIMIT 100
"""
)


@register(
    "regional_cheapest_supplier_partsupp",
    oracle=CHEAPEST_PARTSUPP_ORACLE,
    tags=("join", "tpch", "decorrelation", "partsupp"),
    past_window=True,
)
def regional_cheapest_supplier_partsupp(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q2 on the derived partsupp — the EXACT topology: the
    correlated min runs over ``ps_supplycost`` (a table attribute, as
    in the benchmark) instead of observed lineitem prices. Same
    decorrelation as the sibling head: grouped MIN per part over
    in-region partsupp rows, joined back on (part, cost) so ties keep
    every minimum-cost supplier; DECIMAL costs make the equality
    engine-exact; the total order (acctbal desc, nation, supplier,
    part) is tie-free, so the top-100 is deterministic and compiles to
    TakeOrderedAndProject."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    region_suppliers = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps = scoped_persist(
        partsupp_frame(spark, sf_dir)
        .join(
            gated_broadcast(
                spark, sf_dir, "supplier", region_suppliers.select("s_suppkey")
            ),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .select("ps_partkey", "ps_suppkey", "ps_supplycost")
    )
    best = ps.groupBy(F.col("ps_partkey").alias("b_partkey")).agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "LARGE")
        .select("p_partkey", "p_type")
    )
    return (
        ps.join(
            best,
            (F.col("ps_partkey") == F.col("b_partkey"))
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .join(
            gated_broadcast(spark, sf_dir, "part", p),
            F.col("ps_partkey") == F.col("p_partkey"),
        )
        .join(
            gated_broadcast(spark, sf_dir, "supplier", region_suppliers),
            F.col("ps_suppkey") == F.col("s_suppkey"),
        )
        .select(
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            F.col("ps_supplycost").cast("double").alias("cost"),
        )
        .orderBy(
            F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"), F.asc("p_partkey")
        )
        .limit(100)
    )


NATION_PROFIT_PARTSUPP_ORACLE = (
    PARTSUPP_CTE
    + """
SELECT n.n_name AS nation,
       CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                - ps.ps_supplycost
                  * CAST(l.l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS profit
FROM lineitem l
JOIN partsupp ps ON ps.ps_partkey = l.l_partkey AND ps.ps_suppkey = l.l_suppkey
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY n.n_name, YEAR(o.o_orderdate)
"""
)


@register(
    "nation_profit_rollup_partsupp",
    oracle=NATION_PROFIT_PARTSUPP_ORACLE,
    tags=("join", "tpch", "partsupp"),
    past_window=True,
)
def nation_profit_rollup_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 on the derived partsupp — the exact topology: the cost
    term is ``ps_supplycost × l_quantity`` joined on BOTH keys
    (l_partkey, l_suppkey), which the pairs construction guarantees
    matches every lineitem exactly once. The join order puts the
    partsupp composite-key join first (it never changes cardinality),
    then the filtering part join, then supplier/nation dims, then the
    one fact-fact shuffle on the order key — identical shuffle
    inventory to the sibling head. Revenue (38,4) and cost
    (12,2)×(9,2)→(22,4) stay exact DECIMAL inside the sum; only the
    finished profit casts to double."""
    ps = partsupp_frame(spark, sf_dir).select(
        "ps_partkey", "ps_suppkey", "ps_supplycost"
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    cost = F.col("ps_supplycost") * F.col("l_quantity").cast("decimal(9,2)")
    return (
        li.join(
            ps,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(
            gated_broadcast(spark, sf_dir, "part", p),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            gated_broadcast(spark, sf_dir, "supplier", s),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(rev - cost).cast("double").alias("profit"))
    )


IMPORTANT_STOCK_PARTSUPP_ORACLE = (
    PARTSUPP_CTE
    + """,
val AS (
    SELECT ps.ps_partkey,
           CAST(SUM(ps.ps_supplycost
                    * CAST(ps.ps_availqty AS DECIMAL(9,0))) AS DECIMAL(20,4)) AS v
    FROM partsupp ps
    JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_3'
    GROUP BY ps.ps_partkey
),
stats AS (
    SELECT CAST(SUM(v) AS DECIMAL(30,4)) AS total,
           CAST(COUNT(*) AS DECIMAL(12,0)) AS n
    FROM val
)
SELECT ps_partkey, CAST(v AS DOUBLE) AS part_value
FROM val, stats
WHERE v * n * CAST(2 AS DECIMAL(2,0)) > CAST(3 AS DECIMAL(2,0)) * total
"""
)


@register(
    "important_part_stock_partsupp",
    oracle=IMPORTANT_STOCK_PARTSUPP_ORACLE,
    tags=("join", "tpch", "scalar-subquery", "partsupp"),
    past_window=True,
)
def important_part_stock_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 on the derived partsupp — the exact measure:
    ``ps_supplycost × ps_availqty`` summed per part over one nation's
    partsupp rows (the benchmark's inventory value, not an
    observed-lineitem proxy). The threshold keeps the sibling's
    scale-stable 1.5×-mean form, cross-multiplied in exact DECIMAL
    (``2·v·n > 3·Σv``) so neither engine divides; the (total, n)
    scalars are a 1-row broadcast over the persisted per-part frame."""
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    nation_suppliers = s.join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    v = F.col("ps_supplycost") * F.col("ps_availqty").cast("decimal(9,0)")
    val = scoped_persist(
        partsupp_frame(spark, sf_dir)
        .join(
            gated_broadcast(spark, sf_dir, "supplier", nation_suppliers),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy("ps_partkey")
        .agg(F.sum(v).cast("decimal(20,4)").alias("v"))
    )
    stats = val.agg(
        F.sum("v").cast("decimal(30,4)").alias("total"),
        F.count(F.lit(1)).cast("decimal(12,0)").alias("n"),
    )
    return (
        val.crossJoin(F.broadcast(stats))
        .filter(
            F.col("v") * F.col("n") * F.lit(2).cast("decimal(2,0)")
            > F.lit(3).cast("decimal(2,0)") * F.col("total")
        )
        .select("ps_partkey", F.col("v").cast("double").alias("part_value"))
    )


SUPPLIER_VARIETY_PARTSUPP_ORACLE = (
    PARTSUPP_CTE
    + """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(COUNT(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
FROM partsupp ps
JOIN part p ON p.p_partkey = ps.ps_partkey
WHERE p.p_brand <> 'Brand#4'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
  AND ps.ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
"""
)


@register(
    "part_supplier_variety_partsupp",
    oracle=SUPPLIER_VARIETY_PARTSUPP_ORACLE,
    tags=("join", "tpch", "distinct-agg", "semi-anti", "partsupp"),
    past_window=True,
)
def part_supplier_variety_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 on the derived partsupp — distinct suppliers per
    (brand, type, size) counted over partsupp ROWS (the benchmark's
    supply relationships) rather than shipment observations. Same
    decorrelation as the sibling: the NOT IN denylist becomes a LEFT
    ANTI join, the part filters push into the scan ahead of the
    size-gated broadcast, and the distinct count is Spark's two-phase
    partial-distinct aggregate."""
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#4")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        partsupp_frame(spark, sf_dir)
        .join(
            gated_broadcast(spark, sf_dir, "supplier", bad),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(
            gated_broadcast(spark, sf_dir, "part", p),
            F.col("ps_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt"))
    )


EXCESS_STOCK_PARTSUPP_ORACLE = (
    PARTSUPP_CTE
    + """
SELECT s.s_name, n.n_name
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE s.s_suppkey IN (
    SELECT ps.ps_suppkey
    FROM partsupp ps
    JOIN part p ON p.p_partkey = ps.ps_partkey
               AND p.p_name LIKE 'small%' AND p.p_size <= 10
    WHERE CAST(ps.ps_availqty AS DECIMAL(18,2)) > 300 * (
        SELECT SUM(CAST(l.l_quantity AS DECIMAL(18,2)))
        FROM lineitem l
        WHERE l.l_partkey = ps.ps_partkey AND l.l_suppkey = ps.ps_suppkey
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1997-01-01'
    )
)
ORDER BY s.s_name
"""
)


@register(
    "excess_stock_suppliers_partsupp",
    oracle=EXCESS_STOCK_PARTSUPP_ORACLE,
    tags=("join", "tpch", "decorrelation", "semi-anti", "partsupp"),
    past_window=True,
)
def excess_stock_suppliers_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 EXACT shape on the derived partsupp: suppliers whose
    available stock of some small part exceeds a multiple of that
    pair's quantity shipped in one year — the correlated
    scalar-aggregate inside a nested IN, which the sibling
    ``dominant_part_suppliers`` (no availqty column to compare
    against) could only approximate with a share-of-mean test.

    Q20's literal 0.5 multiplier assumes TPC-H's coupling of availqty
    to yearly volume; this corpus decouples them (availqty ~
    md5-uniform on [1, 9999], pair-year quantity ~ 26 at every SF), so
    0.5× is vacuously true for every shipped pair. The multiplier is
    rescaled to 300 ≈ availqty-midpoint / year-qty-median — measured
    48%/52% supplier selectivity at sf0.01/sf0.1, so BOTH branches of
    the comparison stay live at every scale factor. Shape unchanged.

    Decorrelation: the correlated SUM becomes one (part, supplier)
    aggregate over the year's lineitems, INNER-joined to partsupp —
    inner is exactly Q20's semantics, because a pair with no shipments
    makes the scalar subquery NULL and ``x > NULL`` filters the row.
    The threshold multiplies in exact DECIMAL (no division), the
    part-name/size filter prunes partsupp via a size-gated broadcast
    semi-join BEFORE the aggregate join, and the final IN is a
    left-semi join onto supplier. Ordered by s_name (unique per
    supplier) so the result is totally ordered."""
    year_qty = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("year_qty"))
    )
    small_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("small") & (F.col("p_size") <= 10))
        .select("p_partkey")
    )
    excess_pairs = (
        partsupp_frame(spark, sf_dir)
        .join(
            gated_broadcast(spark, sf_dir, "part", small_parts),
            F.col("ps_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(
            year_qty,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .filter(
            F.col("ps_availqty").cast("decimal(18,2)")
            > F.lit(300) * F.col("year_qty")
        )
        .select("ps_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        s.join(excess_pairs, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name")
        .orderBy("s_name")
    )
