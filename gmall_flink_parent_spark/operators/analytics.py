"""Analytic-SQL surface: distribution window functions and set operations.

The reference exposes no window functions or set operations (SURVEY
§2.6: "grouping-sets/cube/rollup, sorts, limits, top-k, set operations
… are absent"), but its DWS layer — the one the snapshot points to and
doesn't contain — is exactly where they'd live. Catalyst gives them for
free (SURVEY §2.5 note); these queries pin the semantics under the
DuckDB oracle so a reference user gets the full analytic surface, not
just the operators the Flink code happened to hand-build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_flink_parent_spark.positions import ordered_positions
from gmall_flink_parent_spark.registry import register, scoped_persist
from gmall_flink_parent_spark.sources.tables import fan_out, gated_broadcast, load_table

VALUE_DIST_ORACLE = """
SELECT event_type, user_id, CAST(spend AS DOUBLE) AS spend,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist() OVER w, 6) AS cume,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile
FROM (
    SELECT event_type, user_id, SUM(CAST(value AS DECIMAL(18,2))) AS spend
    FROM events
    GROUP BY event_type, user_id
)
WINDOW w AS (PARTITION BY event_type ORDER BY spend, user_id)
"""


def value_distribution_frame(spend: DataFrame) -> DataFrame:
    """Per-type spend distribution over a (event_type, user_id, spend)
    frame: percent_rank, cume_dist, quartiles —
    computed as a two-pass range-partition rank, NOT a per-type window.

    Frame-level core shared by the batch ``user_value_distribution``
    query and the ``user_value_distribution_from_store`` final pass
    over ``topk_spend_job``'s partial store (``streaming/jobs.py``) —
    one store, many heads.

    A naive ``Window.partitionBy(event_type)`` puts ALL users of one
    type on one task (~5 types ⇒ ≤5 tasks sort users-per-type rows); at
    100 TB that single task is the plan's ceiling. Instead:

    1. range-partition the (event_type, user_id) aggregates on the full
       sort key — every partition holds a contiguous key range, bounded
       by rows/partitions, regardless of type cardinality;
    2. per-(range, type) row counts + first-row offsets (a
       partitions×types-sized frame) give each range's cumulative
       offset and each type's total via a window over that TINY
       summary frame;
    3. global position = within-range local offset + broadcast offset
       (``positions.ordered_positions`` — NOT a ``row_number`` window,
       which would re-shuffle the full frame on (pid, type) to prove a
       clustering the range exchange already produced).

    Because (spend, user_id) is unique within a type (the aggregate's
    grain), the order is total: rank == position ``p``,
    so percent_rank = (p-1)/(n-1), cume_dist = p/n, and ntile(4)
    follows arithmetically (first n mod 4 buckets get ⌈n/4⌉ rows) — no
    per-type sort task ever sees more than one range partition.
    """
    # The stamped frame is the REDUCED one (one row per (type, user)),
    # persisted lazily: the scan + aggregate + range shuffle run once.
    ranked = ordered_positions(
        spend, ["event_type", "spend", "user_id"], group=["event_type"]
    )
    p = F.col("pos") + 1
    n = F.col("n")
    big, small, rem = (n / 4).cast("long") + 1, (n / 4).cast("long"), n % 4
    quartile = F.when(p <= big * rem, F.ceil(p / big)).otherwise(
        rem + F.ceil((p - big * rem) / small)
    )
    return ranked.select(
        "event_type",
        "user_id",
        F.col("spend").cast("double").alias("spend"),
        F.round(
            F.when(n > 1, (p - 1).cast("double") / (n - 1)).otherwise(0.0), 6
        ).alias("pct_rank"),
        F.round(p.cast("double") / n, 6).alias("cume"),
        quartile.cast("int").alias("quartile"),
    )


@register("user_value_distribution", oracle=VALUE_DIST_ORACLE, tags=("dws", "window-fn"), past_window=True)
def user_value_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type spend distribution (percent_rank / cume_dist / ntile)
    over the shared ``spend_by_type_user`` grain — the scalable
    two-pass rank lives in ``value_distribution_frame``."""
    from gmall_flink_parent_spark.operators.windows import spend_by_type_user

    return value_distribution_frame(
        spend_by_type_user(load_table(spark, sf_dir, "events"))
    )


SEMI_ANTI_ORACLE = """
SELECT c.c_custkey, c.c_mktsegment,
       CASE WHEN EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
            THEN 'active' ELSE 'dormant' END AS status
FROM customer c
"""


# rotated out of the driver window (round 10): long-green since round 1;
# the semi/anti shape is in-window via supplier_wait_chain's harder form
@register(
    "customer_order_status",
    oracle=SEMI_ANTI_ORACLE,
    tags=("join", "semi-anti", "unbenched"),
    past_window=True,
)
def customer_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti-join surface: customers labeled by order existence.

    ``left_semi`` + ``left_anti`` are first-class Catalyst join types —
    each is one equi-join shuffle that never materializes the orders
    payload (the probe side contributes existence only), which is the
    scalable form of EXISTS/NOT EXISTS at fact-table cardinality.
    """
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    order_keys = load_table(spark, sf_dir, "orders").select("o_custkey")
    active = customer.join(
        order_keys, customer.c_custkey == order_keys.o_custkey, "left_semi"
    ).withColumn("status", F.lit("active"))
    dormant = customer.join(
        order_keys, customer.c_custkey == order_keys.o_custkey, "left_anti"
    ).withColumn("status", F.lit("dormant"))
    return active.unionByName(dormant)


OVERLAP_ORACLE = """
WITH v AS (SELECT DISTINCT user_id, strftime(ts, '%Y%m%d') AS ymd
           FROM events WHERE event_type = 'view'),
     p AS (SELECT DISTINCT user_id, strftime(ts, '%Y%m%d') AS ymd
           FROM events WHERE event_type = 'purchase')
SELECT 'view_no_purchase' AS segment, user_id, ymd
FROM (SELECT * FROM v EXCEPT SELECT * FROM p)
UNION ALL
SELECT 'view_and_purchase' AS segment, user_id, ymd
FROM (SELECT * FROM v INTERSECT SELECT * FROM p)
"""


# rotated out of the driver window (round 10): long-green since round 1;
# hash parity still enforced by the local sweep
@register(
    "engaged_user_overlap",
    oracle=OVERLAP_ORACLE,
    tags=("dws", "set-op"),
    past_window=True,
)
def engaged_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-day browse/buy overlap via EXCEPT / INTERSECT / UNION ALL.

    Set operations compile to aggregates and left-anti/left-semi joins
    under Catalyst — the same shuffle-on-key shape as any equi-join, so
    they scale like the joins they desugar to. Both branches share the
    one scan of ``events`` (two filters off it), and each set op keys on
    the (user_id, ymd) pair.
    """
    events = load_table(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyyMMdd").alias("ymd")
    v = events.filter(F.col("event_type") == "view").select("user_id", day).distinct()
    p = events.filter(F.col("event_type") == "purchase").select("user_id", day).distinct()
    return (
        v.subtract(p)
        .select(F.lit("view_no_purchase").alias("segment"), "user_id", "ymd")
        .unionByName(
            v.intersect(p).select(
                F.lit("view_and_purchase").alias("segment"), "user_id", "ymd"
            )
        )
    )


# ------------------------------------------------------------- funnel

_FUNNEL_STEPS = ("view", "click", "purchase")
_FUNNEL_HORIZON_H = 72  # each step must follow the previous within 72 h

FUNNEL_ORACLE = f"""
WITH e AS (
    SELECT user_id, event_type, ts FROM events
), t1 AS (
    SELECT user_id, min(ts) AS t FROM e
    WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY user_id
), t2 AS (
    SELECT e.user_id, min(ts) AS t FROM e JOIN t1 USING (user_id)
    WHERE event_type = '{_FUNNEL_STEPS[1]}'
      AND ts > t1.t AND ts <= t1.t + INTERVAL {_FUNNEL_HORIZON_H} HOUR
    GROUP BY e.user_id
), t3 AS (
    SELECT e.user_id, min(ts) AS t FROM e JOIN t2 USING (user_id)
    WHERE event_type = '{_FUNNEL_STEPS[2]}'
      AND ts > t2.t AND ts <= t2.t + INTERVAL {_FUNNEL_HORIZON_H} HOUR
    GROUP BY e.user_id
), n AS (
    SELECT 1 AS step, '{_FUNNEL_STEPS[0]}' AS event_type,
           (SELECT count(*) FROM t1) AS n_users
    UNION ALL
    SELECT 2, '{_FUNNEL_STEPS[1]}', (SELECT count(*) FROM t2)
    UNION ALL
    SELECT 3, '{_FUNNEL_STEPS[2]}', (SELECT count(*) FROM t3)
)
SELECT CAST(step AS INTEGER) AS step, event_type,
       CAST(n_users AS BIGINT) AS n_users,
       ROUND(CASE WHEN (SELECT n_users FROM n WHERE step = 1) > 0
             THEN CAST(n_users AS DOUBLE)
                  / (SELECT n_users FROM n WHERE step = 1) END, 6) AS conversion
FROM n
"""


@register(
    "funnel_conversion",
    oracle=FUNNEL_ORACLE,
    tags=("dws", "funnel", "sequence"),
    past_window=True,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel over event time: per user, the first
    ``view``, the first ``click`` AFTER that view, and the first
    ``purchase`` after that click — each within a
    72-hour horizon of the previous step — reported
    as per-step user counts and conversion vs step 1. The classic
    e-commerce DWS read (the reference's bounce CEP is the 2-step
    negative form of the same sequence logic; this is the k-step
    positive form).

    Sequential dependence (step k's window opens at the user's step
    k−1 time) makes this a chain of per-user joins, NOT a window
    function: each stage filters the event scan by type (pushed-down
    predicate), joins the previous stage's (user, t) frame on
    ``user_id``, and takes a per-user min — user-keyed equi-joins all
    the way down, with the stage frames user-cardinality-sized (they
    broadcast for dimension-scale user sets and shuffle-join past
    that). The final report is three 1-row counts unioned; at 100 TB
    the cost is one scan per step plus user-keyed joins — never a
    per-user sort of the whole event stream.
    """
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    horizon = F.expr(f"INTERVAL {_FUNNEL_HORIZON_H} HOURS")

    def next_step(prev: DataFrame, step_type: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == step_type)
            .join(prev.select("user_id", F.col("t").alias("_pt")), "user_id")
            .filter((F.col("ts") > F.col("_pt")) & (F.col("ts") <= F.col("_pt") + horizon))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )

    t1 = (
        e.filter(F.col("event_type") == _FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    t2 = next_step(t1, _FUNNEL_STEPS[1])
    t3 = next_step(t2, _FUNNEL_STEPS[2])
    counts = [
        s.agg(F.count(F.lit(1)).alias(f"n{i}"))
        for i, s in enumerate((t1, t2, t3), start=1)
    ]
    base = counts[0].crossJoin(counts[1]).crossJoin(counts[2])
    rows = base.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("step"),
                        F.lit(_FUNNEL_STEPS[i - 1]).alias("event_type"),
                        F.col(f"n{i}").cast("long").alias("n_users"),
                    )
                    for i in (1, 2, 3)
                ]
            )
        ).alias("r"),
        F.col("n1"),
    ).select("r.*", "n1")
    return rows.select(
        "step",
        "event_type",
        "n_users",
        F.round(
            F.when(F.col("n1") > 0, F.col("n_users").cast("double") / F.col("n1")),
            6,
        ).alias("conversion"),
    )


# ------------------------------------------------ market basket pairs

_COPURCHASE_MIN_SUP = 3

COPURCHASE_ORACLE = f"""
WITH baskets AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       CAST(count(*) AS BIGINT) AS support
FROM baskets a JOIN baskets b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY a.l_partkey, b.l_partkey
HAVING count(*) >= {_COPURCHASE_MIN_SUP}
"""


def _basket_pair_counts(
    spark: SparkSession, sf_dir: str, min_sup: int, prune: bool = False
) -> DataFrame:
    """Support counts ``(pa, pb, s)``, ``pa < pb``, of unordered
    co-purchase part pairs — the candidate core shared by the whole
    market-basket/graph tier (co-purchase, pagerank, triangles,
    clustering coefficient, LPA, link prediction).

    Value-identical to the oracle's basket self-join + GROUP BY (pair
    support = number of DISTINCT orders containing both parts), built
    WITHOUT the self-join (guide §2.4 — remove shuffles outright):
    per-order part sets via one map-side-combinable ``collect_set``
    (which also subsumes the DISTINCT pass), sorted ascending and
    pair-exploded inline in codegen (``pa < pb`` falls out of the
    sort), then one map-side-combined pair count. Two exchanges total
    where the self-join form paid four (distinct, two join
    repartitions, pair aggregate) plus the sort-merge join's sorts.

    Scale: per-order fan-out is bounded by basket size squared —
    baskets are order-sized (single digits in order data) at every
    corpus scale, so the explode is O(1) per row and the per-group
    ``collect_set`` state is equally bounded; the pair aggregate
    remains the real shuffle, map-side combined exactly as before.
    ``prune=True`` applies the Apriori monotonicity prune (a part in
    < min_sup baskets cannot reach pair support min_sup) via a
    size-gated broadcast semi-join BEFORE set building — losslessly
    identical output, same as the r12 pruned self-join form.
    """
    # Keyed parallelism repair (guide §2.5 input skew / §2.4 shared
    # exchange): the bench tables are single-row-group parquet, so the
    # scan is ONE task and the map-side collect_set partials would run
    # single-threaded over the whole corpus. Hashing on the GROUP key
    # moves that work behind the exact exchange the aggregate needs —
    # still one exchange total — and the guard makes the repair a no-op
    # once the table scans as ≥ cores splits (round-robin fan_out was
    # measured SLOWER here: it adds a second exchange plus the
    # sort-before-repartition pass — 2.75 s vs 1.08 s at sf0.1).
    rows = fan_out(
        spark,
        load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
        "l_orderkey",
    )
    if prune:
        frequent = (
            rows.groupBy("l_partkey")
            .agg(F.count_distinct("l_orderkey").alias("f"))
            .filter(F.col("f") >= min_sup)
            .select("l_partkey")
        )
        rows = rows.join(
            gated_broadcast(spark, sf_dir, "part", frequent), "l_partkey"
        )
    sets = rows.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = sets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> transform("
                "slice(ps, i + 2, size(ps)), "
                "y -> named_struct('pa', x, 'pb', y))))"
            )
        ).alias("p")
    ).select("p.pa", "p.pb")
    return (
        pairs.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("s"))
        .filter(F.col("s") >= min_sup)
    )


@register(
    "part_copurchase_pairs",
    oracle=COPURCHASE_ORACLE,
    tags=("dws", "market-basket"),
    past_window=True,
)
def part_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequently co-purchased part pairs (support ≥ 3) — the market
    basket primitive behind "bought together" and feature
    co-occurrence mining.

    The oracle states the NAIVE semantics (basket self-join, group,
    HAVING); the plan runs the set-build + inline pair explode + one
    map-side-combined pair aggregate (``_basket_pair_counts``). The
    Apriori monotonicity prune (semi-join the basket stream against
    parts in ≥ min_sup baskets before the pair fan-out) stays available
    via ``prune=True`` but is OFF here: it is lossless, yet on
    order-shaped data it selects essentially everything — measured
    100.0% of parts pass f ≥ 3 at sf0.01 AND sf0.1 — so it paid a full
    extra corpus aggregate (count_distinct expand) + semi-join to
    remove zero rows (2.31 s → 1.08 s at sf0.1 without it; the oracle
    hash proves output identity). Flip it back on for corpora with a
    long infrequent-item tail, where it bounds the pair-aggregate
    shuffle. Per-order fan-out is bounded by basket size (single digits
    in order data); the real shuffle is the pair aggregate, map-side
    combined.
    """
    return _basket_pair_counts(
        spark, sf_dir, _COPURCHASE_MIN_SUP, prune=False
    ).select(
        F.col("pa").alias("part_a"),
        F.col("pb").alias("part_b"),
        F.col("s").alias("support"),
    )


# --------------------------------------------- classic warehouse joins

SHIPPING_PRIORITY_ORACLE = """
SELECT l_orderkey, revenue, o_orderdate, o_orderpriority
FROM (
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority,
           row_number() OVER (
               ORDER BY SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) DESC,
                        o.o_orderdate, l.l_orderkey) AS rk
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
)
WHERE rk <= 10
"""


@register(
    "shipping_priority_topk",
    oracle=SHIPPING_PRIORITY_ORACLE,
    tags=("join", "dws", "tpch"),
    past_window=True,
)
def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3's shape: the 10 highest-revenue unshipped orders for
    one market segment — the classic sales-side triage query.

    Plan: the segment filter prunes CUSTOMER before anything moves
    (broadcast — it's a dim); ORDERS and LINEITEM carry their date
    predicates INTO the scans (PushedFilters), join on the order key,
    and the revenue aggregate reduces to order grain before the top-10
    — which compiles to TakeOrderedAndProject on the DECIMAL revenue
    (per-partition 10-row heaps, no global sort). Revenue stays exact
    DECIMAL through ordering and casts to DOUBLE only in the output,
    so ties and hashes agree with the oracle bit-for-bit.
    """
    cutoff = "1998-01-01"
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < cutoff
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > cutoff
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    )
    agg = (
        o.join(
            gated_broadcast(spark, sf_dir, "customer", c),
            o["o_custkey"] == c["c_custkey"],
        )
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).alias("rev_dec"))
    )
    return (
        agg.orderBy(F.desc("rev_dec"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.col("rev_dec").cast("double").alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


REGION_NATION_VOLUME_ORACLE = """
SELECT n.n_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1999-01-01'
GROUP BY n.n_name
"""


@register(
    "region_nation_volume",
    oracle=REGION_NATION_VOLUME_ORACLE,
    tags=("join", "dws", "tpch"),
    past_window=True,
)
def region_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5's shape: local-supplier revenue per nation in one
    region — the 6-way join that separates engines with a real
    optimizer from engines with a join loop.

    The two facts (orders, lineitem) join on their key; all four dims
    (customer, supplier, nation, region) broadcast, with the
    same-nation condition (s_nationkey = c_nationkey) riding the
    supplier broadcast join as a residual — no extra shuffle anywhere.
    Date predicates push into the ORDERS scan; the final aggregate is
    #nations rows. Decimal revenue throughout.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1999-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    )
    return (
        o.join(
            gated_broadcast(spark, sf_dir, "customer", c),
            o["o_custkey"] == c["c_custkey"],
        )
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(
            gated_broadcast(spark, sf_dir, "supplier", s),
            (s["s_suppkey"] == li["l_suppkey"])
            & (s["s_nationkey"] == c["c_nationkey"]),
        )
        .join(F.broadcast(n), n["n_nationkey"] == c["c_nationkey"])
        .join(F.broadcast(r), r["r_regionkey"] == n["n_regionkey"])
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


# ------------------------------------------------------ graph PageRank

_PR_ITERS = 5
_PR_SCALE = 10**12  # fixed-point denominator

# Truncate fixed-point-loop lineage with an eager localCheckpoint each
# round (guide §3.3/§5): the unrolled logical plan otherwise grows by a
# join+aggregate subtree per round, and the optimizer + AQE re-walk the
# WHOLE tree at every shuffle stage — driver-serial planning cost that
# scales with iterations, not data. A checkpointed round collapses to a
# LogicalRDD leaf, keeping per-round plan size constant. Values are
# unchanged (checkpointing only materializes the same rows). Measured
# at sf0.1 (interleaved min-of-4): wall-flat (pagerank 2.23→2.17 s,
# LPA 2.47→2.46 s) but final-plan size drops 3089→14 lines / 320→0
# Exchange entries (pagerank) and 933→72 / 85→4 (LPA) — the win is
# driver-serial planning cost that grows per iteration. The loop
# frames are vertex-grain (thousands of rows), so the pinned blocks
# are negligible and freed by the ContextCleaner when the query's
# frames are dropped. Caveats: localCheckpoint blocks live only on the
# executors that computed them, so losing an executor makes them
# unrecoverable and the query fails instead of recomputing; and they
# bypass the ``scoped_persist`` lifecycle (no scope unpersists them).


def _pagerank_oracle() -> str:
    """5 unrolled PageRank iterations in fixed-point BIGINT arithmetic
    over the co-purchase graph. Integer floor-division at every step
    makes the trajectory EXACTLY reproducible on any engine — float
    PageRank is summation-order-dependent and could never be
    hash-compared."""
    sql = f"""
WITH pairs AS ({COPURCHASE_ORACLE}),
edges AS (
    SELECT part_a AS src, part_b AS dst FROM pairs
    UNION ALL
    SELECT part_b, part_a FROM pairs
),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
nn AS (SELECT count(*) AS n FROM deg),
r0 AS (
    SELECT node, d, CAST({_PR_SCALE} // nn.n AS BIGINT) AS r FROM deg, nn
)"""
    for k in range(1, _PR_ITERS + 1):
        sql += f""",
r{k} AS (
    SELECT dg.node, dg.d,
           CAST((15 * {_PR_SCALE}) // (100 * nn.n)
                + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS r
    FROM deg dg
    CROSS JOIN nn
    LEFT JOIN (
        SELECT e.dst AS node, SUM(p.r // p.d) AS c
        FROM edges e JOIN r{k - 1} p ON e.src = p.node GROUP BY e.dst
    ) s ON s.node = dg.node
)"""
    return sql + f"""
SELECT node AS part, r AS rank_fp FROM r{_PR_ITERS}
"""


PAGERANK_ORACLE = _pagerank_oracle()


@register(
    "part_pagerank",
    oracle=PAGERANK_ORACLE,
    tags=("graph", "iterative", "market-basket"),
    # rotated INTO the driver window in round 9 (swap: corpus_summary out)
)
def part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 5 iterations) over the co-purchase
    graph — which parts anchor the catalog — as an ORACLE-BACKED
    iterative graph query.

    Floats make distributed PageRank unverifiable (neighbor sums are
    summation-order-dependent), so ranks live in fixed-point BIGINT
    (scale 10¹²): contributions are ``rank div degree``, the update is
    ``0.15/n + 0.85·Σ`` in integer floor arithmetic, and BIGINT sums
    are exact and order-independent — every iteration of the
    trajectory is bit-identical to the unrolled SQL, on any
    partitioning. The floor truncation under-counts each node by
    < 1/10¹² of total mass per step — noise far below any ranking
    decision, and the same noise on every engine.

    Scale: per iteration ONE join of the rank frame against the edge
    list (both graph-sized, co-partitioned on the node key) + one
    map-side-combined aggregate; the degree frame persists across
    iterations; driver state is the node COUNT, nothing else. Five
    fixed iterations keep the plan finite (the repo's k-means/CC
    convention for iterative algorithms).
    """
    # persisted (query-scoped): the symmetric edge union consumes the
    # pair frame TWICE (one branch per direction) — uncached, the whole
    # basket self-join would run twice during the edges cache fill.
    pairs = scoped_persist(
        part_copurchase_pairs(spark, sf_dir).select("part_a", "part_b")
    )
    edges = scoped_persist(
        pairs.selectExpr("part_a AS src", "part_b AS dst").unionAll(
            pairs.selectExpr("part_b AS src", "part_a AS dst")
        )
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    # ONE count both fills the cache chain (pairs → edges → deg, the
    # eager anti-race fill) and returns n — eager=True would run the
    # same count a second time just to discard it.
    deg = scoped_persist(deg)
    n = deg.count()
    base = (15 * _PR_SCALE) // (100 * n)
    ranks = deg.select("node", "d", F.lit(_PR_SCALE // n).alias("r"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("r div d")).alias("c"))
        )
        ranks = deg.join(contrib, "node", "left").select(
            "node",
            "d",
            (F.lit(base) + F.expr("85 * coalesce(c, 0) div 100")).alias("r"),
        )
        ranks = ranks.localCheckpoint()
    return ranks.select(F.col("node").alias("part"), F.col("r").alias("rank_fp"))


# --------------------------------------- correlated scalar subquery

ABOVE_AVG_ORACLE = """
SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price
FROM orders o
WHERE CAST(o_totalprice AS DECIMAL(18,2))
      * (SELECT count(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    > (SELECT SUM(CAST(o3.o_totalprice AS DECIMAL(18,2)))
       FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
"""


@register(
    "orders_above_customer_avg",
    oracle=ABOVE_AVG_ORACLE,
    tags=("dws", "subquery"),
    past_window=True,
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders priced above their own customer's average — the
    correlated-scalar-subquery shape, DECORRELATED by hand into the
    plan every optimizer rewrites it to: one per-customer aggregate
    joined back on the correlation key. The oracle keeps the
    correlated form, so the hash match proves the decorrelation
    equivalence on real data.

    Exactness: "price > avg" compares via cross-multiplication
    (price·n > Σ) entirely in DECIMAL/BIGINT — no division ever
    happens, so there is no engine-specific decimal-quotient scale or
    float rounding to disagree about, and boundary rows (price exactly
    at the mean) resolve identically everywhere. The join is
    co-partitioned on o_custkey (the aggregate reuses the scan's
    partitioning); at dim-bounded customer counts the aggregate side
    is broadcast-eligible and AQE picks that.
    """
    orders = load_table(spark, sf_dir, "orders")
    price_dec = F.col("o_totalprice").cast("decimal(18,2)")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_ord"),
        F.sum(price_dec).alias("sum_price"),
    )
    return (
        orders.join(per_cust, "o_custkey")
        .filter(price_dec * F.col("n_ord") > F.col("sum_price"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("double").alias("price"),
        )
    )


# ------------------------------------------------- grouping sets

GROUPING_SETS_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS INTEGER) AS gid
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@register(
    "revenue_grouping_sets",
    oracle=GROUPING_SETS_ORACLE,
    tags=("dws", "grouping-sets"),
    past_window=True,
)
def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the two one-dimension margins plus the
    grand total WITHOUT the cross cells a cube would add, completing
    the rollup/cube family (``revenue_rollup`` / ``revenue_cube``)
    with the arbitrary-sets form, ``grouping_id`` disambiguating
    NULL-as-margin from NULL-as-value.

    One Expand (3 replicas per input row, the named sets only — a cube
    on k columns expands 2^k) feeding one map-side-combined aggregate;
    same single-shuffle discipline as the rollup twin.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


RETURNED_LOSSES_ORACLE = """
SELECT c_custkey, c_name, n_name, lost_revenue
FROM (
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS lost_revenue,
           row_number() OVER (
               ORDER BY SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) DESC,
                        c.c_custkey) AS rk
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
)
WHERE rk <= 20
"""


@register(
    "returned_item_losses",
    oracle=RETURNED_LOSSES_ORACLE,
    tags=("join", "dws", "tpch"),
    past_window=True,
)
def returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10's shape: the 20 customers who returned the most
    revenue in a year — the churn-risk triage query.

    The return-flag and date predicates reach their scans; customer
    and nation broadcast; revenue reduces to customer grain before the
    top-20, which compiles to TakeOrderedAndProject on the exact
    DECIMAL revenue (tie-break c_custkey makes the order total).
    """
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    )
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    agg = (
        o.join(
            gated_broadcast(spark, sf_dir, "customer", c),
            o["o_custkey"] == c["c_custkey"],
        )
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), n["n_nationkey"] == c["c_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).alias("rev_dec"))
    )
    return (
        agg.orderBy(F.desc("rev_dec"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.col("rev_dec").cast("double").alias("lost_revenue"),
        )
    )


LATE_SHIPMENT_ORACLE = """
SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
GROUP BY l.l_linestatus
"""


@register(
    "late_shipment_priority",
    oracle=LATE_SHIPMENT_ORACLE,
    tags=("join", "dws", "tpch"),
    past_window=True,
)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12's shape: lines shipped more than 90 days after their
    order, split into high/low order priority per line status — the
    logistics SLA report.

    The lateness predicate is a fact-fact RESIDUAL on the order-key
    equi-join (never a θ-join); the conditional counts are one
    map-side-combined CASE aggregate — all-integer outputs, nothing
    for float semantics to disagree about.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
    )


# --------------------------------- correlated existence joins (Q21/Q22)

WAIT_CHAIN_ORACLE = """
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM lineitem l1
JOIN orders o ON o.o_orderkey = l1.l_orderkey
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 100
"""


@register(
    "supplier_wait_chain",
    oracle=WAIT_CHAIN_ORACLE,
    tags=("join", "subquery", "tpch"),
    past_window=True,
)
def supplier_wait_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21's shape: suppliers who were the SOLE cause of a
    finished multi-supplier order shipping late — a slow line (shipped
    > 60 days after the order date; this corpus carries no
    commit/receipt dates), where ANOTHER supplier contributed to the
    same order (EXISTS) but no OTHER supplier was also slow
    (NOT EXISTS with two correlated predicates).

    Decorrelation: both existential subqueries correlate on
    l_orderkey with a residual ``suppkey <>`` inequality, so they
    become one LEFT SEMI and one LEFT ANTI join on the order key with
    the inequality as a non-equi residual — shuffle-hash/SMJ on
    l_orderkey, never a θ-join. The NOT-EXISTS side's second
    correlated predicate (the other line must ALSO be slow) references
    the OUTER order's date; because both lines share that order, the
    slow-line frame is built once against orders and reused as l1 and
    l3 (one scan, one persist). The final per-supplier count is
    dim-bounded, so the top-100 is a TakeOrderedAndProject with a
    (numwait DESC, s_name) total order — deterministic at the cut.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    slow = scoped_persist(
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
    )
    l3 = slow.select(
        F.col("l_orderkey").alias("o3_orderkey"),
        F.col("l_suppkey").alias("o3_suppkey"),
    )
    sole_blockers = (
        slow.join(
            l2,
            (F.col("l_orderkey") == F.col("o2_orderkey"))
            & (F.col("l_suppkey") != F.col("o2_suppkey")),
            "left_semi",
        ).join(
            l3,
            (F.col("l_orderkey") == F.col("o3_orderkey"))
            & (F.col("l_suppkey") != F.col("o3_suppkey")),
            "left_anti",
        )
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole_blockers.join(
            gated_broadcast(spark, sf_dir, "supplier", s),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )


COLD_CUSTOMER_ORACLE = """
SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE CAST(c.c_acctbal AS DECIMAL(18,2))
      * (SELECT count(*) FROM customer c2 WHERE c2.c_acctbal > 0.0)
    > (SELECT SUM(CAST(c2.c_acctbal AS DECIMAL(18,2)))
       FROM customer c2 WHERE c2.c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= DATE '2000-01-01')
GROUP BY n.n_name
"""


@register(
    "cold_customer_balance",
    oracle=COLD_CUSTOMER_ORACLE,
    tags=("join", "subquery", "tpch"),
    past_window=True,
)
def cold_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22's shape: well-funded customers who LAPSED — per
    nation, the count and total balance of customers whose balance
    beats the positive-balance average (uncorrelated scalar subquery)
    and who placed no order on/after 2000-01-01 (correlated NOT EXISTS
    → LEFT ANTI join on the customer key; in this corpus every
    customer has SOME order, so Q22's never-ordered form is vacuous
    and the recency predicate — pushed down to the orders scan —
    restores the selective anti-join the shape is about).

    Exactness: "balance > avg of positive balances" compares by
    cross-multiplication (bal·n_pos > Σ_pos) entirely in DECIMAL — no
    division, so no engine-specific quotient scale and boundary
    customers resolve identically in Spark and the oracle
    (``orders_above_customer_avg``'s discipline). Scale shape: the
    scalar aggregate is one 1-row broadcast over the customer scan;
    the anti join shuffles customer × orders on the customer key
    (orders needs only o_custkey — column pruning reaches the scan);
    nation is a broadcast dim; the final aggregate is dim-bounded.
    """
    c = load_table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    pos_stats = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.count(F.lit(1)).alias("n_pos"),
        F.sum(bal).alias("sum_pos"),
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("date"))
        .select("o_custkey")
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        c.crossJoin(F.broadcast(pos_stats))
        .filter(bal * F.col("n_pos") > F.col("sum_pos"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(bal).cast("double").alias("totacctbal"),
        )
    )


# ----------------------------------- international trade (Q7/Q8 shapes)

TRADE_VOLUME_ORACLE = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS volume
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    JOIN region r1 ON r1.r_regionkey = n1.n_regionkey
    JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
    WHERE (r1.r_name = 'AMERICA' AND r2.r_name = 'ASIA')
       OR (r1.r_name = 'ASIA' AND r2.r_name = 'AMERICA')
)
GROUP BY supp_nation, cust_nation, l_year
"""


@register(
    "nation_trade_volume",
    oracle=TRADE_VOLUME_ORACLE,
    tags=("join", "dws", "tpch"),
    past_window=True,
)
def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7's shape: bilateral trade volume between two REGIONS
    (AMERICA ↔ ASIA), reported at nation-pair × ship-year grain — the
    6-way fact-dim snowflake join with a PAIR predicate (either trade
    direction; the region pair replaces Q7's nation pair because this
    corpus's supplier dim is too thin at small SF for any single
    nation pair to trade).

    Scale shape: the pair filter is decomposed so it PRUNES EARLY —
    supplier and customer are each semi-filtered to their region's
    nations by a broadcast of the nation⋈region snowflake BEFORE
    touching the facts, so the lineitem⋈orders shuffle carries only
    the two regions' rows; the residual direction check (one side
    AMERICA, the other ASIA) runs post-join on the pruned frame. The
    year bucket and decimal volume are computed in the map stage; one
    final dim-bounded aggregate.
    """
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("AMERICA", "ASIA")
    )
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(
            n.select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
                F.col("r_name").alias("supp_region"),
            )
        ),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation", "supp_region")
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(
            n.select(
                F.col("n_nationkey").alias("cn_key"),
                F.col("n_name").alias("cust_nation"),
                F.col("r_name").alias("cust_region"),
            )
        ),
        F.col("c_nationkey") == F.col("cn_key"),
    ).select("c_custkey", "cust_nation", "cust_region")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    vol = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    )
    return (
        li.join(
            gated_broadcast(spark, sf_dir, "supplier", s),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            gated_broadcast(spark, sf_dir, "customer", c),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .filter(F.col("supp_region") != F.col("cust_region"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(vol).cast("double").alias("revenue"))
    )


MARKET_SHARE_ORACLE = """
SELECT o_year,
       CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume
                          ELSE CAST(0.00 AS DECIMAL(18,2)) END) AS DOUBLE)
            / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume
                     ELSE CAST(0.00 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_volume,
       CAST(SUM(volume) AS DOUBLE) AS total_volume
FROM (
    SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS volume,
           n1.n_name AS supp_nation
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n2.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
)
GROUP BY o_year
"""


@register(
    "nation_market_share",
    oracle=MARKET_SHARE_ORACLE,
    tags=("join", "dws", "tpch"),
    past_window=True,
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8's shape: one nation's share of a part-type market in a
    region, by order year — the 8-way snowflake join with conditional
    aggregation.

    Exactness: numerator and denominator are exact DECIMAL sums cast
    to double; the share is ONE IEEE double division of those two —
    deterministic across engines, no decimal-quotient scale rules in
    play. Scale shape: part (filtered to the type), customer-side
    nation⋈region, and supplier-side nation are all broadcast dims;
    the region filter prunes the customer side BEFORE the fact join;
    the only big shuffle is lineitem⋈orders on the order key; the
    CASE split means one pass computes both sums.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n2 = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("cn_key"))
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key")
    ).select("c_custkey")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key")
    ).select("s_suppkey", "supp_nation")
    vol = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    )
    zero = F.lit("0.00").cast("decimal(18,2)")
    is_n1 = F.col("supp_nation") == "NATION_1"
    agg = (
        li.join(
            gated_broadcast(spark, sf_dir, "part", p),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            gated_broadcast(spark, sf_dir, "supplier", s),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            gated_broadcast(spark, sf_dir, "customer", c),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(F.when(is_n1, vol).otherwise(zero))
            .cast("double")
            .alias("nation_volume"),
            F.sum(vol).cast("double").alias("total_volume"),
        )
    )
    return agg.select(
        "o_year",
        (F.col("nation_volume") / F.col("total_volume")).alias("mkt_share"),
        "nation_volume",
        "total_volume",
    )


TOP_SUPPLIER_ORACLE = """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(rv.total_rev AS DOUBLE) AS total_revenue
FROM supplier s JOIN revenue rv ON rv.supplier_no = s.s_suppkey
WHERE rv.total_rev = (SELECT MAX(total_rev) FROM revenue)
"""


@register(
    "top_revenue_supplier",
    oracle=TOP_SUPPLIER_ORACLE,
    tags=("join", "subquery", "tpch"),
    past_window=True,
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15's shape: the quarter's top supplier(s) by revenue —
    the MAX-equality scalar subquery over a derived aggregate (ties
    all surface, unlike a top-1 LIMIT).

    Decorrelation: the revenue aggregate is built once (persisted),
    its 1-row MAX broadcasts back over itself, and the equality filter
    runs in exact DECIMAL — same-valued ties cannot be split by float
    rounding, and the oracle's correlated form hash-proves the
    rewrite. The supplier dim joins by broadcast AFTER the filter
    (a handful of rows reach it).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date"))
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    )
    revenue = scoped_persist(
        li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
            F.sum(rev).alias("total_rev")
        )
    )
    mx = revenue.agg(F.max("total_rev").alias("max_rev"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(
            gated_broadcast(spark, sf_dir, "supplier", s),
            F.col("supplier_no") == F.col("s_suppkey"),
        )
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue")
        )
    )


DOMINANT_SUPPLIER_ORACLE = """
SELECT s.s_name, p.p_name,
       CAST(j.supp_qty AS DOUBLE) AS supp_qty,
       CAST(t.part_qty AS DOUBLE) AS part_qty,
       t.n_supp
FROM (
    SELECT l_partkey, l_suppkey,
           SUM(CAST(l_quantity AS DECIMAL(18,2))) AS supp_qty
    FROM lineitem GROUP BY l_partkey, l_suppkey
) j
JOIN (
    SELECT l_partkey,
           SUM(supp_qty) AS part_qty,
           CAST(COUNT(*) AS BIGINT) AS n_supp
    FROM (
        SELECT l_partkey, l_suppkey,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS supp_qty
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ) GROUP BY l_partkey
) t ON t.l_partkey = j.l_partkey
JOIN supplier s ON s.s_suppkey = j.l_suppkey
JOIN part p ON p.p_partkey = j.l_partkey
WHERE j.supp_qty * t.n_supp > 2 * t.part_qty
"""


@register(
    "dominant_part_suppliers",
    oracle=DOMINANT_SUPPLIER_ORACLE,
    tags=("join", "subquery", "tpch"),
    past_window=True,
)
def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20's shape: suppliers holding a DOMINANT share of a
    part's shipped quantity — more than twice the part's mean
    per-supplier quantity — the nested-grouped-aggregate subquery
    (the inner aggregate at a finer grain than the outer; Q20's
    literal >50% threshold is unreachable in this corpus, whose ~30
    lines per part spread near-uniformly over ~30 suppliers at every
    SF, so the threshold is relative to the mean — same shape, scale-
    stable selectivity. Q20's REAL availqty-vs-shipped comparison is
    the ``excess_stock_suppliers_partsupp`` twin on the derived
    partsupp, ``operators/partsupp.py``).

    Decorrelation: the fine (part, supplier) aggregate rolls up AGAIN
    to the part grain instead of re-scanning lineitem — one scan, two
    aggregates, the second over the first's (already combined) output;
    the dominance test cross-multiplies in DECIMAL
    (qty·n_supp > 2·total), no division. Both aggregates and their
    join share the part-key hash partitioning, so the join is
    shuffle-free after the first aggregate's exchange; supplier and
    part names broadcast onto the few surviving rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    fine = scoped_persist(
        li.groupBy("l_partkey", "l_suppkey").agg(F.sum(qty).alias("supp_qty"))
    )
    totals = fine.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("supp_qty").alias("part_qty"),
        F.count(F.lit(1)).alias("n_supp"),
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    return (
        fine.join(totals, F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("supp_qty") * F.col("n_supp") > 2 * F.col("part_qty"))
        .join(
            gated_broadcast(spark, sf_dir, "supplier", s),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            gated_broadcast(spark, sf_dir, "part", p),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            "s_name",
            "p_name",
            F.col("supp_qty").cast("double").alias("supp_qty"),
            F.col("part_qty").cast("double").alias("part_qty"),
            "n_supp",
        )
    )


# ------------------------------------ calendar densification + LOCF

GAPFILL_ORACLE = """
WITH base AS (
    SELECT r.r_name AS region, CAST(o.o_orderdate AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_orders,
           SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev_dec
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name, CAST(o.o_orderdate AS DATE)
), bounds AS (
    SELECT region, MIN(day) AS mn, MAX(day) AS mx FROM base GROUP BY region
), calendar AS (
    SELECT region, CAST(UNNEST(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
    FROM bounds
)
SELECT cal.region, cal.day,
       COALESCE(b.n_orders, 0) AS n_orders,
       CAST(COALESCE(b.rev_dec, 0.00) AS DOUBLE) AS revenue,
       CAST(LAST_VALUE(b.rev_dec IGNORE NULLS) OVER (
           PARTITION BY cal.region ORDER BY cal.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS revenue_locf
FROM calendar cal LEFT JOIN base b ON b.region = cal.region AND b.day = cal.day
"""


@register(
    "regional_revenue_gapfill",
    oracle=GAPFILL_ORACLE,
    tags=("dws", "time-series", "gapfill"),
    past_window=True,
)
def regional_revenue_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification + last-observation-carried-forward — the
    time-series gap-fill every telemetry/reporting pipeline needs and
    no groupBy gives: per region, EVERY day between its first and last
    order exists in the output (~87% of days have no orders in this
    corpus), zero-filled counts/revenue plus a LOCF revenue column.

    Scale shape: the observed frame is one aggregate (map-side
    combined); the calendar explodes from the 5-row per-region bounds
    via ``sequence()`` — rows ∝ regions × days, a DIM-bounded frame no
    matter the fact volume; the left join and the LOCF window both
    partition on region, so nothing serializes through one task and
    the window frame is bounded by the day span. LOCF never sees a
    leading null (each region's calendar starts at its first OBSERVED
    day), so the column is total without a fill sentinel.
    """
    from pyspark.sql import Window

    joined = regional_daily_joined(spark, sf_dir)
    w = (
        Window.partitionBy("region")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "region",
        "day",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("rev_dec", F.lit("0.00").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
        F.last("rev_dec", ignorenulls=True).over(w).cast("double").alias("revenue_locf"),
    )


def regional_daily_joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The densified (region, day) frame under BOTH fill heads —
    observed (region, day) aggregates left-joined onto each region's
    full first-to-last-day calendar — factored so the LOCF and
    interpolation variants share one base (and one cache)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("day"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", F.col("r_name").alias("region"))
    dims = c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")).join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("c_custkey", "region")
    # dims is CUSTOMER-grain (one row per customer) — sf-proportional,
    # so its broadcast rides the parquet size gate on the backing table.
    base = scoped_persist(
        o.join(
            gated_broadcast(spark, sf_dir, "customer", dims),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("region", "day")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price").alias("rev_dec"),
        )
    )
    calendar = (
        base.groupBy("region")
        .agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
        .select(
            "region",
            F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))).alias("day"),
        )
    )
    return calendar.join(
        base.select(
            F.col("region").alias("b_region"),
            F.col("day").alias("b_day"),
            "n_orders",
            "rev_dec",
        ),
        (F.col("region") == F.col("b_region")) & (F.col("day") == F.col("b_day")),
        "left",
    ).select("region", "day", "n_orders", "rev_dec", "b_day")


INTERP_ORACLE = """
WITH base AS (
    SELECT r.r_name AS region, CAST(o.o_orderdate AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_orders,
           SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev_dec
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name, CAST(o.o_orderdate AS DATE)
), bounds AS (
    SELECT region, MIN(day) AS mn, MAX(day) AS mx FROM base GROUP BY region
), calendar AS (
    SELECT region, CAST(UNNEST(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
    FROM bounds
), joined AS (
    SELECT cal.region, cal.day, b.n_orders, b.rev_dec, b.day AS b_day
    FROM calendar cal LEFT JOIN base b ON b.region = cal.region AND b.day = cal.day
), spans AS (
    SELECT region, day, n_orders, rev_dec,
           LAST_VALUE(b_day IGNORE NULLS) OVER (
               PARTITION BY region ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_day,
           LAST_VALUE(rev_dec IGNORE NULLS) OVER (
               PARTITION BY region ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
           FIRST_VALUE(b_day IGNORE NULLS) OVER (
               PARTITION BY region ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_day,
           FIRST_VALUE(rev_dec IGNORE NULLS) OVER (
               PARTITION BY region ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v
    FROM joined
)
SELECT region, day,
       COALESCE(n_orders, 0) AS n_orders,
       CAST(COALESCE(rev_dec, 0.00) AS DOUBLE) AS revenue,
       CASE WHEN next_day = prev_day THEN CAST(prev_v AS DOUBLE)
            ELSE CAST(prev_v AS DOUBLE)
                 + (CAST(next_v AS DOUBLE) - CAST(prev_v AS DOUBLE))
                 * (CAST(day - prev_day AS DOUBLE)
                    / CAST(next_day - prev_day AS DOUBLE))
       END AS revenue_interp
FROM spans
"""


@register(
    "regional_revenue_interp",
    oracle=INTERP_ORACLE,
    tags=("dws", "time-series", "gapfill", "interpolation"),
    past_window=True,
)
def regional_revenue_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification + LINEAR interpolation — the other
    standard gap-fill (TimescaleDB ``interpolate`` next to
    ``regional_revenue_gapfill``'s LOCF): each missing day takes the
    value on the line between its nearest observed neighbors.

    Same dim-bounded calendar and region-partitioned windows as the
    LOCF head (shared ``regional_daily_joined`` base — one definition,
    one cache); two extra windows carry the nearest observed (day,
    value) backward and forward. Both endpoints always exist (each
    region's calendar spans exactly its observed range), and observed
    days reduce to prev_day = next_day = day, guarded explicitly so no
    0/0 arises. Float determinism: neighbors stay DECIMAL until the
    output edge, where the interpolation is a fixed tree of IEEE
    double ops (cast, subtract, divide, multiply-add) mirrored
    token-for-token in the oracle — each op is individually
    deterministic, so the composite hashes identically.
    """
    from pyspark.sql import Window

    joined = regional_daily_joined(spark, sf_dir)
    wb = (
        Window.partitionBy("region")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("region")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    spans = joined.select(
        "region",
        "day",
        "n_orders",
        "rev_dec",
        F.last("b_day", ignorenulls=True).over(wb).alias("prev_day"),
        F.last("rev_dec", ignorenulls=True).over(wb).alias("prev_v"),
        F.first("b_day", ignorenulls=True).over(wf).alias("next_day"),
        F.first("rev_dec", ignorenulls=True).over(wf).alias("next_v"),
    )
    prev_d = F.col("prev_v").cast("double")
    next_d = F.col("next_v").cast("double")
    frac = F.datediff("day", "prev_day").cast("double") / F.datediff(
        "next_day", "prev_day"
    ).cast("double")
    return spans.select(
        "region",
        "day",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("rev_dec", F.lit("0.00").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
        F.when(F.col("next_day") == F.col("prev_day"), prev_d)
        .otherwise(prev_d + (next_d - prev_d) * frac)
        .alias("revenue_interp"),
    )


# ------------------------------------------- event transition matrix

TRANSITION_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type,
           LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS prev_type
    FROM events
), pairs AS (
    SELECT prev_type, event_type AS next_type,
           CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
), totals AS (
    SELECT prev_type, SUM(n) AS tot FROM pairs GROUP BY prev_type
)
SELECT p.prev_type, p.next_type, p.n,
       ROUND(CAST(p.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS p_next
FROM pairs p JOIN totals t ON t.prev_type = p.prev_type
"""


@register(
    "event_transition_matrix",
    oracle=TRANSITION_ORACLE,
    tags=("dws", "sequence", "markov"),
    past_window=True,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: for every (prev_type → next_type) pair, the count and
    the conditional probability — the clickstream path-analysis
    primitive behind funnel discovery and next-action models.

    Scale shape: ONE shuffle on user_id serves the lag window (the
    per-user frame is bounded by that user's event count), then the
    pair aggregate is map-side combined down to ≤ |types|² rows; the
    row-probability join runs at matrix size (dim-bounded), and the
    probability is one IEEE double division of two exact counts —
    deterministic, rounded to 6 for the cross-engine hash.
    """
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    pairs = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = pairs.groupBy(F.col("prev_type").alias("t_prev")).agg(
        F.sum("n").alias("tot")
    )
    return (
        pairs.join(F.broadcast(totals), F.col("prev_type") == F.col("t_prev"))
        .select(
            "prev_type",
            "next_type",
            "n",
            F.round(F.col("n").cast("double") / F.col("tot").cast("double"), 6).alias(
                "p_next"
            ),
        )
    )


# --------------------------------------------- triangle counting

_TRIANGLE_MIN_SUP = 2  # support >= 3 leaves no triangles at sf >= 0.01

TRIANGLE_ORACLE = f"""
WITH baskets AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
    FROM baskets a JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING count(*) >= {_TRIANGLE_MIN_SUP}
), tri AS (
    SELECT e1.part_a AS a, e1.part_b AS b, e2.part_b AS c
    FROM edges e1
    JOIN edges e2 ON e2.part_a = e1.part_a AND e1.part_b < e2.part_b
    JOIN edges e3 ON e3.part_a = e1.part_b AND e3.part_b = e2.part_b
), roles AS (
    SELECT a AS part FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
)
SELECT part, CAST(count(*) AS BIGINT) AS n_triangles
FROM roles GROUP BY part
"""


@register(
    "part_triangle_count",
    oracle=TRIANGLE_ORACLE,
    tags=("graph", "market-basket"),
    # promoted into the driver window in the round-10 rotation
)
def part_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the co-purchase graph
    (support ≥ 2 edges) — the clustering-coefficient numerator and
    the classic test of whether a join engine can do graph-local
    structure without a graph engine.

    The oracle states the id-ordered triple semantics; the plan runs
    the DEGREE-ORDERED orientation (Cohen 2009 / Suri & Vassilvitskii
    WWW'11): each edge points from its (degree, id)-smaller endpoint
    to the larger, wedges enumerate per SOURCE node — out-degrees
    under this orientation are O(√m), so no hub ever fans out
    degree² wedge rows, which is exactly what makes MapReduce-style
    triangle counting survive skewed graphs — and a wedge closes by
    one equi-join against the oriented edge list. The same triangle
    set falls out (orientation only changes which vertex enumerates
    it), which the oracle hash proves every run. Role explosion +
    one map-side-combined aggregate lands the per-part counts.
    """
    _deg, counts = _triangle_frames(spark, sf_dir)
    return counts


def _triangle_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Degree and per-part triangle-count frames of the support ≥ 2
    co-purchase graph — the degree-ordered-orientation core shared by
    ``part_triangle_count`` (counts only) and ``part_clustering_coeff``
    (counts normalized by the degree frame). Returns
    ``(deg(p, d), counts(part, n_triangles))``; ``deg`` spans every
    graph vertex, ``counts`` only vertices in ≥ 1 triangle."""
    edges = scoped_persist(
        _basket_pair_counts(spark, sf_dir, _TRIANGLE_MIN_SUP).select(
            F.col("pa").alias("u"), F.col("pb").alias("v")
        )
    )
    deg = (
        edges.select(F.col("u").alias("p"))
        .unionByName(edges.select(F.col("v").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("p").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("p").alias("v"), F.col("d").alias("dv"))
    # deg is vertex-grain, bounded by the part vocabulary — gate its
    # broadcast on the backing part table so a billion-vertex graph
    # falls back to AQE's shuffle join instead of OOMing the executors.
    keyed = edges.join(gated_broadcast(spark, sf_dir, "part", du), "u").join(
        gated_broadcast(spark, sf_dir, "part", dv), "v"
    )
    lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = scoped_persist(
        keyed.select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(lower, F.col("dv")).otherwise(F.col("du")).alias("dst_d"),
        )
    )
    e1 = oriented.select("src", F.col("dst").alias("x"), F.col("dst_d").alias("xd"))
    e2 = oriented.select(
        F.col("src").alias("src2"), F.col("dst").alias("y"), F.col("dst_d").alias("yd")
    )
    wedges = e1.join(e2, F.col("src") == F.col("src2")).filter(
        (F.col("xd") < F.col("yd"))
        | ((F.col("xd") == F.col("yd")) & (F.col("x") < F.col("y")))
    )
    closer = oriented.select(F.col("src").alias("x2"), F.col("dst").alias("y2"))
    tri = wedges.join(
        closer, (F.col("x") == F.col("x2")) & (F.col("y") == F.col("y2"))
    ).select(F.col("src").alias("a"), F.col("x").alias("b"), F.col("y").alias("c"))
    roles = (
        tri.select(F.col("a").alias("part"))
        .unionByName(tri.select(F.col("b").alias("part")))
        .unionByName(tri.select(F.col("c").alias("part")))
    )
    counts = roles.groupBy("part").agg(F.count(F.lit(1)).alias("n_triangles"))
    return deg, counts


# ------------------------------------- local clustering coefficient

CLUSTERING_ORACLE = f"""
WITH baskets AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
    FROM baskets a JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING count(*) >= {_TRIANGLE_MIN_SUP}
), sym AS (
    SELECT part_a AS u, part_b AS v FROM edges
    UNION ALL SELECT part_b, part_a FROM edges
), deg AS (
    SELECT u AS part, CAST(count(*) AS BIGINT) AS degree FROM sym GROUP BY u
), tri AS (
    SELECT e1.part_a AS a, e1.part_b AS b, e2.part_b AS c
    FROM edges e1
    JOIN edges e2 ON e2.part_a = e1.part_a AND e1.part_b < e2.part_b
    JOIN edges e3 ON e3.part_a = e1.part_b AND e3.part_b = e2.part_b
), roles AS (
    SELECT a AS part FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
), tcount AS (
    SELECT part, CAST(count(*) AS BIGINT) AS n_triangles
    FROM roles GROUP BY part
)
SELECT d.part, d.degree,
       COALESCE(t.n_triangles, 0) AS n_triangles,
       CASE WHEN d.degree >= 2 THEN
           ROUND(CAST(2 * COALESCE(t.n_triangles, 0) AS DOUBLE)
                 / CAST(d.degree * (d.degree - 1) AS DOUBLE), 6)
       ELSE 0.0 END AS clustering
FROM deg d LEFT JOIN tcount t ON t.part = d.part
"""


@register(
    "part_clustering_coeff",
    oracle=CLUSTERING_ORACLE,
    tags=("graph", "market-basket"),
    # promoted into the driver window in the round-13 rotation
)
def part_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per part of the support ≥ 2
    co-purchase graph (Watts & Strogatz 1998): closed wedges at the
    vertex over all wedges at the vertex, ``2T(v) / d(v)(d(v)−1)`` —
    the per-node transitivity that separates hub-and-spoke catalog
    structure (hubs with cc → 0) from clique-like bundles (cc → 1).
    Degree-1 vertices carry cc = 0 by the usual convention.

    Rides the exact triangle core `part_triangle_count` runs (degree-
    ordered orientation, no hub fan-out — that head's docstring carries
    the scale argument); this head adds only a vertex-grain LEFT join
    of the degree frame against the triangle counts plus one division.
    Determinism: T and d are exact BIGINTs on both engines, so the one
    double division of identical integers is bit-identical; rounded to
    6 for the hash like every ratio head.
    """
    deg, counts = _triangle_frames(spark, sf_dir)
    d = F.col("d")
    n = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("bigint")
    return (
        deg.join(counts, deg["p"] == counts["part"], "left")
        .select(
            deg["p"].alias("part"),
            d.cast("bigint").alias("degree"),
            n.alias("n_triangles"),
            F.when(
                d >= 2,
                F.round(
                    (F.lit(2) * n).cast("double")
                    / (d * (d - F.lit(1))).cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


# --------------------------------------------- label propagation (LPA)

_LPA_ITERS = 4


def _lpa_oracle() -> str:
    """4 unrolled synchronous label-propagation rounds over the
    co-purchase graph. Majority-neighbor label with the smallest-label
    tie-break makes every round a deterministic function of exact
    integer counts, so the trajectory hash-compares cross-engine —
    the `part_pagerank` unrolled-oracle recipe applied to communities."""
    sql = f"""
WITH baskets AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
    FROM baskets a JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING count(*) >= {_TRIANGLE_MIN_SUP}
),
edges AS (
    SELECT part_a AS src, part_b AS dst FROM pairs
    UNION ALL
    SELECT part_b, part_a FROM pairs
),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)"""
    for k in range(1, _LPA_ITERS + 1):
        sql += f""",
l{k} AS (
    SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (
                   PARTITION BY node ORDER BY c DESC, label
               ) AS rn
        FROM (
            SELECT e.dst AS node, p.label, count(*) AS c
            FROM edges e JOIN l{k - 1} p ON e.src = p.node
            GROUP BY e.dst, p.label
        )
    ) WHERE rn = 1
)"""
    return sql + f""",
sizes AS (
    SELECT label, CAST(count(*) AS BIGINT) AS community_size
    FROM l{_LPA_ITERS} GROUP BY label
)
SELECT l.node AS part, l.label AS community, s.community_size
FROM l{_LPA_ITERS} l JOIN sizes s ON s.label = l.label
"""


LPA_ORACLE = _lpa_oracle()


@register(
    "part_label_propagation",
    oracle=LPA_ORACLE,
    tags=("graph", "iterative", "market-basket"),
    past_window=True,
)
def part_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara 2007) over the support ≥ 2 co-purchase graph: each
    part starts in its own community and, for 4 fixed rounds, adopts
    its neighbors' majority label (smallest label on ties) — the
    cheap-and-scalable community primitive between `part_pagerank`
    (global centrality) and the connected-components family (pure
    reachability). Output: each part's community plus that community's
    size.

    Determinism: synchronous updates + exact integer neighbor-label
    counts + the total (count DESC, label ASC) tie-break make every
    round a pure function of the previous labeling — no float, no
    summation-order dependence — so 4 unrolled SQL rounds hash-match
    the engine's loop exactly. Fixed iteration count keeps the plan
    finite (the repo's k-means/CC/pagerank convention).

    Scale: per round ONE join of the label frame against the edge list
    (both graph-sized, equi on the node key — AQE picks the strategy;
    an interleaved r14 A/B showed per-round broadcast hints LOSE to the
    shuffle join here, 5.3 s vs 4.5 s at sf0.1, because each round pays
    a serial driver-side broadcast build) + one map-side-combined
    (node, label) count + one per-node ``max_by`` argmax — every frame
    is edge- or vertex-grain, never corpus-grain, and per-group
    aggregate state is bounded by that node's distinct neighbor labels
    (≤ degree).
    """
    pairs = scoped_persist(
        _basket_pair_counts(spark, sf_dir, _TRIANGLE_MIN_SUP).select("pa", "pb")
    )
    edges = scoped_persist(
        pairs.selectExpr("pa AS src", "pb AS dst").unionAll(
            pairs.selectExpr("pb AS src", "pa AS dst")
        )
    )
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(_LPA_ITERS):
        votes = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # Materialize each round (vertex-grain, tiny): without this the
        # unrolled lineage deepens 3 stages per round and the final
        # two consumers (sizes + the output join) re-execute it — at
        # sf0.1 the cached loop runs 31 s → ~4 s. On a cluster this is
        # the standard iterate-persist cadence (same as CC/k-means).
        # The (count DESC, label ASC) argmax is a max_by over the
        # (c, -label) struct — a hash aggregate with map-side partials
        # instead of the r13 row_number window's full per-round sort
        # (guide §2.3 "aggregate before you shuffle"); the ordering
        # struct is unique per (node, label) row, so the argmax is
        # deterministic and value-identical to the rn = 1 filter.
        labels = votes.groupBy("node").agg(
            F.max_by(
                "label", F.struct(F.col("c"), (-F.col("label")).alias("nl"))
            ).alias("label")
        )
        labels = labels.localCheckpoint()
    sizes = labels.groupBy(F.col("label").alias("sz_label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("community_size")
    )
    return (
        labels.join(F.broadcast(sizes), labels["label"] == sizes["sz_label"])
        .select(
            F.col("node").alias("part"),
            F.col("label").alias("community"),
            "community_size",
        )
    )


LARGE_ORDER_ORACLE = """
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       CAST(o.o_totalprice AS DOUBLE) AS total_price,
       CAST(q.sum_qty AS DOUBLE) AS sum_qty
FROM orders o
JOIN (
    SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
) q ON q.l_orderkey = o.o_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
LIMIT 100
"""


@register(
    "large_volume_orders",
    oracle=LARGE_ORDER_ORACLE,
    tags=("join", "subquery", "tpch"),
    past_window=True,
)
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18's shape: the top large-quantity orders with their
    customers — an IN-subquery over a grouped HAVING aggregate,
    decorrelated to the aggregate-join it always becomes.

    The quantity aggregate keys on the order — the same key the
    orders join needs, so the HAVING side arrives already partitioned
    and the join adds no exchange; the filter collapses the frame to
    the rare heavy orders BEFORE any dim joins, customer broadcasts
    onto the survivors, and the top-100 is a TakeOrderedAndProject
    over a (totalprice DESC, orderdate, orderkey) total order —
    deterministic at the cut. Decimal quantity sums; doubles only in
    the output projection.
    """
    qty = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(qty, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            gated_broadcast(spark, sf_dir, "customer", c),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("total_price"),
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
        .orderBy(F.desc("total_price"), F.asc("o_orderdate"), F.asc("o_orderkey"))
        .limit(100)
    )


# --------------------------------------------- purchase attribution

ATTRIBUTION_ORACLE = """
WITH seq AS (
    SELECT user_id, ts, event_type, value, epoch_us(ts) AS ep,
           LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                      IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING
           ) AS last_touch
    FROM events
)
SELECT COALESCE(last_touch, '(none)') AS last_touch,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_revenue
FROM seq WHERE event_type = 'purchase'
GROUP BY COALESCE(last_touch, '(none)')
"""


@register(
    "purchase_attribution",
    oracle=ATTRIBUTION_ORACLE,
    tags=("dws", "attribution", "sequence"),
    past_window=True,
)
def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase credits the
    user's most recent NON-purchase event within the preceding 7 days
    (purchases with no prior touch in the window credit '(none)') —
    revenue and purchase counts rolled up per touch channel.

    The 7-day lookback is a RANGE window frame on event-time micros
    ending 1 µs before the purchase — exclusive of the purchase
    itself and deterministic because (user, ts) is unique at micro
    grain (range peers never tie). One shuffle on user_id serves the
    window; the rollup is |types|+1 rows. The CASE inside LAST_VALUE
    IGNORE NULLS is the standard conditional-LOCF idiom — purchases
    inside the lookback are transparent, they never steal credit.
    """
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-604_800_000_000, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        events.withColumn("last_touch", touch)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("last_touch", F.lit("(none)")).alias("last_touch"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("attributed_revenue"),
        )
    )


# ------------------------- TPC-H decorrelation set (Q2/Q9/Q13/Q17 shapes)

SMALL_QTY_ORACLE = """
WITH li AS (
    SELECT l.l_partkey, CAST(l.l_quantity AS DECIMAL(9,2)) AS qty,
           CAST(l.l_extendedprice AS DECIMAL(18,2)) AS price
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#4'
), stats AS (
    SELECT l_partkey, SUM(qty) AS sum_qty,
           CAST(COUNT(*) AS DECIMAL(12,0)) AS n
    FROM li GROUP BY l_partkey
)
SELECT CAST(CAST(SUM(li.price) AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly
FROM li JOIN stats USING (l_partkey)
WHERE 5 * li.qty * stats.n < sum_qty
"""


@register(
    "small_qty_part_revenue",
    oracle=SMALL_QTY_ORACLE,
    tags=("join", "tpch", "decorrelation"),
    # promoted into the driver window in the round-11 rotation
)
def small_qty_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17's shape: revenue lost to small-quantity orders of one
    brand — the classic correlated SCALAR-AGG subquery
    (``l_quantity < 0.2 * avg(l_quantity) per part``), decorrelated.

    Decorrelation discipline (same as ``orders_above_customer_avg``):
    the per-part average becomes ONE grouped aggregate keyed on the
    join key, so the "subquery per row" collapses to an equi-join that
    shuffles on l_partkey once. The brand filter semi-prunes lineitem
    BEFORE the aggregate (the correlation is per part, so rows of
    non-brand parts never matter), and the 0.2×avg comparison is
    cross-multiplied — ``5·qty·n < Σqty`` in exact DECIMAL — so no
    engine ever divides (quotient drift can't flip a row). The
    lineitem side is persisted: both the aggregate and the probe read
    it, and it is already the brand-pruned minority of the table.
    Output: one row, the 7-year average yearly revenue.
    """
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#4")
        .select("p_partkey")
    )
    li = scoped_persist(
        load_table(spark, sf_dir, "lineitem")
        .join(
            gated_broadcast(spark, sf_dir, "part", p),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .select(
            "l_partkey",
            F.col("l_quantity").cast("decimal(9,2)").alias("qty"),
            F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        )
    )
    stats = li.groupBy("l_partkey").agg(
        F.sum("qty").alias("sum_qty"),
        F.count(F.lit(1)).cast("decimal(12,0)").alias("n"),
    )
    return (
        li.join(stats, "l_partkey")
        .filter(F.lit(5) * F.col("qty") * F.col("n") < F.col("sum_qty"))
        .agg((F.sum("price").cast("double") / F.lit(7.0)).alias("avg_yearly"))
    )


CHEAPEST_SUPPLIER_ORACLE = """
WITH costs AS (
    SELECT l.l_partkey, l.l_suppkey,
           MIN(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS cost
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
    GROUP BY l.l_partkey, l.l_suppkey
), best AS (
    SELECT l_partkey, MIN(cost) AS min_cost FROM costs GROUP BY l_partkey
)
SELECT CAST(s.s_acctbal AS DOUBLE) AS s_acctbal, s.s_name, n.n_name,
       p.p_partkey, p.p_type, CAST(c.cost AS DOUBLE) AS cost
FROM costs c
JOIN best b ON b.l_partkey = c.l_partkey AND c.cost = b.min_cost
JOIN part p ON p.p_partkey = c.l_partkey AND p.p_type = 'LARGE'
JOIN supplier s ON s.s_suppkey = c.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
ORDER BY s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
LIMIT 100
"""


@register(
    "regional_cheapest_supplier",
    oracle=CHEAPEST_SUPPLIER_ORACLE,
    tags=("join", "tpch", "decorrelation"),
    # promoted into the driver window in the round-11 rotation
)
def regional_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's shape: for each part of one type, the in-region
    supplier(s) achieving the MINIMUM cost — the correlated-min
    subquery (``cost = (SELECT min(..) WHERE ps_partkey = p_partkey)``),
    decorrelated to a grouped MIN + equi-join-back on (part, cost).

    Cost basis: the minimum observed lineitem price per
    (part, supplier) in the region — the domain-faithful variant; the
    exact TPC-H topology (table-attribute cost) is the
    ``regional_cheapest_supplier_partsupp`` twin on the derived
    partsupp (``operators/partsupp.py``). The
    region restriction prunes via bounded-dim broadcasts BEFORE the
    grouped min; the min-cost frame is (part)-grain; joining it back on
    the part key with the cost equality as a residual keeps ties (Q2
    returns ALL suppliers at the minimum, which the oracle's join
    semantics pin). Exact DECIMAL costs make the min and the equality
    engine-independent; the top-100 compiles to TakeOrderedAndProject.
    """
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    region_suppliers = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
    )
    costs = scoped_persist(
        li.join(
            gated_broadcast(
                spark, sf_dir, "supplier", region_suppliers.select("s_suppkey")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("price").alias("cost"))
    )
    best = costs.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("cost").alias("min_cost")
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "LARGE")
        .select("p_partkey", "p_type")
    )
    return (
        costs.join(
            best,
            (F.col("l_partkey") == F.col("b_partkey"))
            & (F.col("cost") == F.col("min_cost")),
        )
        .join(
            gated_broadcast(spark, sf_dir, "part", p),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            gated_broadcast(spark, sf_dir, "supplier", region_suppliers),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            F.col("cost").cast("double").alias("cost"),
        )
        .orderBy(
            F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"), F.asc("p_partkey")
        )
        .limit(100)
    )


ORDER_DISTRIBUTION_ORACLE = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
    SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
    FROM customer c
    LEFT JOIN orders o
      ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
    GROUP BY c.c_custkey
)
GROUP BY c_count
"""


@register(
    "customer_order_distribution",
    oracle=ORDER_DISTRIBUTION_ORACLE,
    tags=("join", "tpch", "outer-agg"),
    # promoted into the driver window in the round-11 rotation
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13's shape: the distribution of per-customer order counts
    — the outer-join-count idiom where the filter must live in the JOIN
    CONDITION (a WHERE would delete the zero-order customers the
    distribution exists to show).

    ``COUNT(o_orderkey)`` counts non-null matches only, so customers
    whose every order is filtered out land in the c_count=0 bucket
    instead of vanishing. Two aggregates: customer-grain (shuffles on
    the same custkey the join used — one exchange serves both), then
    the |distinct counts|-sized distribution. At scale the outer join
    shuffles both sides on custkey; no dim broadcast is warranted
    because CUSTOMER is the probe side, not a build side.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_customer = (
        c.join(
            o,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_customer.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


NATION_PROFIT_ORACLE = """
SELECT n.n_name AS nation,
       CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                - CAST(p.p_retailprice AS DECIMAL(18,2))
                  * CAST(l.l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY n.n_name, YEAR(o.o_orderdate)
"""


@register(
    "nation_profit_rollup",
    oracle=NATION_PROFIT_ORACLE,
    tags=("join", "tpch"),
    # promoted into the driver window in the round-11 rotation
)
def nation_profit_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9's shape: profit by (supplier nation × order year) for
    one part type — the five-way star join whose measure subtracts a
    cost term from revenue inside the aggregate.

    Cost basis: ``p_retailprice × l_quantity`` (part-grain,
    domain-faithful); the exact TPC-H topology (``ps_supplycost``
    joined on both keys) is the ``nation_profit_rollup_partsupp`` twin
    on the derived partsupp (``operators/partsupp.py``). The join
    topology and the revenue−cost aggregate are the Q9 shape
    unchanged. part/supplier ride the size-gated broadcast;
    nation is bounded; orders joins on the order key (the one fact-fact
    shuffle). Every term is exact DECIMAL inside the sum —
    (18,2)×(19,2)→(38,4) revenue, (18,2)×(9,2)→(28,4) cost — and only
    the finished profit casts to double. The part-type filter reaches
    the part scan (PushedFilters); the aggregate is |nations×years|
    rows.
    """
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey", F.col("p_retailprice").cast("decimal(18,2)").alias("retail"))
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    cost = F.col("retail") * F.col("l_quantity").cast("decimal(9,2)")
    return (
        li.join(
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


# ---------------- TPC-H scan/predicate shapes (Q4/Q6/Q14/Q19, round 10)

DISCOUNT_BAND_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register(
    "discount_band_revenue",
    oracle=DISCOUNT_BAND_ORACLE,
    tags=("scan", "tpch"),
    past_window=True,
)
def discount_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6's shape: the what-if revenue of a discount band — the
    purest scan-side query in the suite: NO join, one global aggregate,
    and every predicate (date range, discount band, quantity cap) must
    reach the parquet scan as a PushedFilter so row groups outside the
    year never leave disk. The discount comparisons are double-vs
    -double with identical literals in both engines, so the band admits
    identical rows; the money math is exact decimal with one cast at
    the output edge.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * F.col("l_discount").cast(
        "decimal(18,2)"
    )
    return li.agg(F.sum(rev).cast("double").alias("revenue"))


LATE_PRIORITY_ORACLE = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
  AND o.o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 20 DAY
  )
GROUP BY o_orderpriority
"""


@register(
    "late_order_priority_count",
    oracle=LATE_PRIORITY_ORACLE,
    tags=("join", "tpch", "decorrelation"),
    past_window=True,
)
def late_order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4's shape: per-priority counts of orders with at least
    one LATE line — the correlated EXISTS whose predicate compares
    columns from BOTH sides (l_shipdate vs o_orderdate + 20 days; the
    reference domain has no l_commitdate, so the lateness bar is
    date-relative).

    Decorrelated to ONE left-semi join on the order key with the
    cross-side date comparison as the join residual — semi join
    dedups the multi-line matches for free (an order counts once no
    matter how many late lines). The quarter filter reaches the
    orders scan; the aggregate is |priorities| rows.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 20 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


PROMO_SHARE_ORACLE = """
SELECT CAST(100.00 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                                   THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                                        * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                                   ELSE CAST('0.00' AS DECIMAL(18,2)) END) AS DOUBLE)
            / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                       * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
       AS DOUBLE) AS promo_share_pct
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
  AND l.l_shipdate < TIMESTAMP '1996-10-01'
"""


@register(
    "promo_revenue_share",
    oracle=PROMO_SHARE_ORACLE,
    tags=("join", "tpch"),
    past_window=True,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14's shape: promo revenue as a percentage of one month's
    revenue — the conditional-aggregate-over-a-join pattern.

    Both numerator and denominator accumulate in exact DECIMAL inside
    ONE aggregate over one scan (the CASE is a projection, not a second
    pass); the share is a single IEEE division of two exact sums, so
    the 6-decimal rounding is engine-independent. The month filter
    reaches the lineitem scan; part rides the size-gated broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    zero = F.lit("0.00").cast("decimal(18,2)")
    agg = (
        li.join(
            gated_broadcast(spark, sf_dir, "part", p),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).alias(
                "promo_dec"
            ),
            F.sum(rev).alias("total_dec"),
        )
    )
    return agg.select(
        (
            F.lit(100.00)
            * F.col("promo_dec").cast("double")
            / F.col("total_dec").cast("double")
        ).alias("promo_share_pct")
    )


BRACKET_ORACLE = """
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#2'  AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#4'  AND p.p_size BETWEEN 5 AND 20
       AND l.l_quantity BETWEEN 5 AND 30)
   OR (p.p_brand = 'Brand#17' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 10 AND 40)
"""


@register(
    "bracket_discount_revenue",
    oracle=BRACKET_ORACLE,
    tags=("join", "tpch", "disjunction"),
    past_window=True,
)
def bracket_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19's shape: revenue under three disjunctive (brand, size,
    quantity) brackets — the query that tests whether an optimizer can
    push a DISJUNCTION.

    The OR spans both tables, so no single branch filters either scan —
    but Catalyst's constraint extraction derives each side's implied
    disjunction: the part scan gets ``(brand=2 ∧ size∈[1,10]) ∨ …`` and
    the lineitem scan gets the quantity-range union, BEFORE the join;
    the full cross-table OR stays as the post-join residual. The plan
    test pins the pushed Or on the part scan — without it this is a
    full-table join at 100 TB.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    bracket = (
        (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(5, 20)
            & F.col("l_quantity").between(5, 30)
        )
        | (
            (F.col("p_brand") == "Brand#17")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 40)
        )
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(
            gated_broadcast(spark, sf_dir, "part", p),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .filter(bracket)
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


# ------------- TPC-H value-share and variety shapes (Q11/Q16, round 10)

IMPORTANT_STOCK_ORACLE = """
WITH val AS (
    SELECT l.l_partkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(l.l_quantity AS DECIMAL(9,2))) AS DECIMAL(20,4)) AS v
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_3'
    GROUP BY l.l_partkey
),
stats AS (
    SELECT CAST(SUM(v) AS DECIMAL(30,4)) AS total,
           CAST(COUNT(*) AS DECIMAL(12,0)) AS n
    FROM val
)
SELECT l_partkey, CAST(v AS DOUBLE) AS part_value
FROM val, stats
WHERE v * n * CAST(2 AS DECIMAL(2,0)) > CAST(3 AS DECIMAL(2,0)) * total
"""


@register(
    "important_part_stock",
    oracle=IMPORTANT_STOCK_ORACLE,
    tags=("join", "tpch", "scalar-subquery"),
    past_window=True,
)
def important_part_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11's shape: parts whose one-nation inventory value
    exceeds a threshold derived from the nation's GLOBAL total — the
    group-vs-global-scalar HAVING (value priced from observed
    lineitems of that nation's suppliers — domain-faithful; the exact
    ``ps_supplycost × ps_availqty`` measure is the
    ``important_part_stock_partsupp`` twin on the derived partsupp.
    The threshold is 1.5× the mean part value, which stays meaningful
    at every scale factor where Q11's fixed fraction would collapse to
    all-or-nothing).

    The per-part aggregate is computed ONCE (persisted: the threshold
    scalars and the filter probe both read it); the (total, n) stats
    are a 1-row broadcast; and the 1.5×-mean comparison is
    cross-multiplied in exact DECIMAL — ``2·v·n > 3·Σv`` with widths
    pinned ((20,4)·(12,0)·(2,0) → 36 digits; total (30,4)·(2,0) →
    33) — so neither engine ever divides or rounds at the threshold.
    Contract bounds: one part's value < 10^16, the nation total
    < 10^26. Suppliers prune to the nation via a bounded-dim
    broadcast before the fact aggregate.
    """
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    nation_suppliers = s.join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem")
    v = F.col("l_extendedprice").cast("decimal(18,2)") * F.col("l_quantity").cast(
        "decimal(9,2)"
    )
    val = scoped_persist(
        li.join(
            gated_broadcast(spark, sf_dir, "supplier", nation_suppliers),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy("l_partkey")
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
        .select("l_partkey", F.col("v").cast("double").alias("part_value"))
    )


SUPPLIER_VARIETY_ORACLE = """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#4'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
"""


@register(
    "part_supplier_variety",
    oracle=SUPPLIER_VARIETY_ORACLE,
    tags=("join", "tpch", "distinct-agg", "semi-anti"),
    past_window=True,
)
def part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16's shape: how many DISTINCT suppliers serve each
    (brand, type, size) bucket, excluding a supplier denylist — the
    NOT IN + COUNT(DISTINCT) combination (supply observed from
    lineitems — domain-faithful; the table-relationship count is the
    ``part_supplier_variety_partsupp`` twin on the derived partsupp.
    The denylist is negative-balance suppliers standing in for Q16's
    complaint filter).

    The NOT IN decorrelates to a LEFT ANTI join on the supplier key
    (safe here: keys are non-null, and anti-join IS the null-safe
    production form of a denylist). The brand/type/size filters push
    into the part scan before its size-gated broadcast; the distinct
    count compiles to Spark's two-phase Expand/partial-distinct
    aggregate — no single task ever sees a full bucket's duplicates.
    """
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
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(
            gated_broadcast(spark, sf_dir, "supplier", bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(
            gated_broadcast(spark, sf_dir, "part", p),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


RETURNFLAG_PRIORITY_ORACLE = """
SELECT l.l_returnflag,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l.l_returnflag
"""


@register(
    "returnflag_priority_counts",
    oracle=RETURNFLAG_PRIORITY_ORACLE,
    tags=("join", "tpch"),
    past_window=True,
)
def returnflag_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12's shape: per-shipping-class counts of high- vs
    low-priority orders in a year — the conditional two-way count over
    a fact-fact join (the domain has no l_shipmode, so the return flag
    is the class column; the shape — date-windowed join, IN-list CASE
    split, class-grain aggregate — is Q12 unchanged).

    The year filter reaches the lineitem scan; both conditional counts
    come from ONE aggregate pass (the CASE is a projection); the join
    shuffles on the order key only and the output is |flags| rows.
    Pure integer counts — no decimal/float anywhere to drift.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


# --------------------------------------------- sequential pattern support

SEQUENCE_SUPPORT_ORACLE = """
WITH per AS (
    SELECT user_id, event_type, MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM events GROUP BY user_id, event_type
),
tot AS (
    SELECT CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n_total FROM events
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(SUM(CASE WHEN a.first_ts < b.last_ts THEN 1 ELSE 0 END) AS BIGINT)
           AS n_users_exists,
       CAST(SUM(CASE WHEN a.first_ts < b.first_ts THEN 1 ELSE 0 END) AS BIGINT)
           AS n_users_leads,
       CAST(SUM(CASE WHEN a.first_ts < b.last_ts THEN 1 ELSE 0 END) AS DOUBLE)
           / (SELECT n_total FROM tot) AS support_exists
FROM per a JOIN per b ON a.user_id = b.user_id
GROUP BY a.event_type, b.event_type
"""


@register(
    "event_sequence_support",
    oracle=SEQUENCE_SUPPORT_ORACLE,
    tags=("dws", "sequence", "mining"),
    past_window=True,
)
def event_sequence_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern support for every ordered event-type pair —
    the GSP/PrefixSpan counting primitive ("how many users did A and
    then, at some later instant, B"), in the aggregate-first form that
    makes it linear instead of quadratic.

    The textbook support count self-joins raw events per user —
    quadratic in each user's history (a 1 000-event user contributes
    10⁶ pairs). This head exploits that existential sequence support
    is a function of per-(user, type) EXTREMA only: a user supports
    A→B iff min ts(A) < max ts(B) (some A precedes some B exactly when
    the first A precedes the last B), and A LEADS B — the user's first
    A strictly precedes their first B — iff min ts(A) < min ts(B). So
    one shuffle reduces events to ≤ |types| summary rows per user, the
    per-user self-join is |types|² on that summary (constant, not
    history-sized), and the pair aggregate map-combines to a |types|²
    matrix. ``tests/test_operators.py`` pins the rewrite against the
    naive quadratic event-level join. The support ratio is one IEEE
    division of two exact counts over a 1-row count scalar (broadcast;
    BNLJ-allowlisted like every corpus-stats scalar). Diagonal rows
    (A→A) read as repeat behavior: some A after the first A.
    """
    events = load_table(spark, sf_dir, "events")
    return sequence_support_finish(sequence_support_merge(sequence_support_partials(events)))


def sequence_support_partials(events: DataFrame) -> DataFrame:
    """Per-(user_id, event_type) first and last event timestamps. min
    and max are associative, commutative and idempotent, so any batching
    of the events — replays and duplicates included — merges to the
    one-shot extrema. The rows ``sequence_support_store_job`` lands per
    micro-batch."""
    return events.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("first_part"), F.max("ts").alias("last_part")
    )


def sequence_support_merge(partials: DataFrame) -> DataFrame:
    """Merge ``sequence_support_partials`` rows into the (user_id,
    event_type, first_ts, last_ts) extrema ``sequence_support_finish``
    reads: min of the firsts, max of the lasts."""
    return partials.groupBy("user_id", "event_type").agg(
        F.min("first_part").alias("first_ts"), F.max("last_part").alias("last_ts")
    )


def sequence_support_finish(per: DataFrame) -> DataFrame:
    """Finish pair support from a (user_id, event_type, first_ts,
    last_ts) extrema frame — ONE definition shared by the batch head
    and ``streaming/jobs.py::sequence_support_from_store``, both over
    ``sequence_support_merge``, so the two doors cannot drift. The user
    total is derived from the extrema frame itself (distinct users in
    events ≡ distinct users holding any extrema row)."""
    per = scoped_persist(per)
    tot = per.agg(
        F.count_distinct("user_id").cast("double").alias("n_total")
    )
    a = per.select(
        F.col("user_id").alias("uid"),
        F.col("event_type").alias("type_a"),
        F.col("first_ts").alias("first_a"),
    )
    b = per.select(
        F.col("user_id").alias("uid_b"),
        F.col("event_type").alias("type_b"),
        F.col("first_ts").alias("first_b"),
        F.col("last_ts").alias("last_b"),
    )
    counts = (
        a.join(b, F.col("uid") == F.col("uid_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.when(F.col("first_a") < F.col("last_b"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_users_exists"),
            F.sum(F.when(F.col("first_a") < F.col("first_b"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_users_leads"),
        )
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "type_a",
        "type_b",
        "n_users_exists",
        "n_users_leads",
        (F.col("n_users_exists").cast("double") / F.col("n_total")).alias(
            "support_exists"
        ),
    )


SEQUENCE3_SUPPORT_ORACLE = """
WITH e AS (SELECT user_id AS u, event_type AS t, ts FROM events)
SELECT a.t AS type_a, b.t AS type_b, c.t AS type_c,
       CAST(COUNT(DISTINCT a.u) AS BIGINT) AS n_users
FROM e a JOIN e b ON a.u = b.u AND a.ts < b.ts
         JOIN e c ON b.u = c.u AND b.ts < c.ts
GROUP BY a.t, b.t, c.t
"""


@register(
    "event_sequence3_support",
    oracle=SEQUENCE3_SUPPORT_ORACLE,
    tags=("dws", "sequence", "mining"),
    # promoted into the driver window in the round-12 rotation
)
def event_sequence3_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-3 sequential-pattern support — users with some A, then a
    strictly later B, then a strictly later C — extending
    ``event_sequence_support`` one level without surrendering to the
    cubic join the textbook (and the oracle) states.

    Exactness of the linear form: a user supports A→B→C iff
    t_ab := min{ts(B) : ts(B) > first ts(A)} exists and t_ab < last
    ts(C). (⇒: any witness ts_a<ts_b<ts_c has first_A ≤ ts_a, so
    t_ab ≤ ts_b < ts_c ≤ last_C. ⇐: first_A < t_ab < last_C IS a
    witness.) So the plan is: per-(user, type) extrema (one shuffle),
    the B-candidate join events × |types| A-firsts per user — a
    CONSTANT-factor row expansion, not history² — min-combined
    map-side down to ≤ |types|² rows per user, then a per-user join
    against the C-extrema (≤ |types|³ rows per user) and a map-combined
    global count. The ORACLE is the naive cubic triple self-join, so
    the hash match proves the rewrite — and only the oracle may be
    cubic: at sf0.1 the naive form is ~10¹¹ intermediate rows while
    this head's intermediate is 5× the event count
    (``test_sequence3_rewrite_matches_per_user_scan`` pins sf0.1-scale
    confidence against an independent per-user sorted scan).
    """
    events = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    per = scoped_persist(
        events.groupBy("user_id", "event_type").agg(
            F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
        )
    )
    firsts = per.select(
        F.col("user_id").alias("uid"),
        F.col("event_type").alias("type_a"),
        F.col("first_ts").alias("first_a"),
    )
    b_after_a = (
        events.select(
            F.col("user_id").alias("ub"),
            F.col("event_type").alias("type_b"),
            F.col("ts").alias("tsb"),
        )
        .join(firsts, F.col("ub") == F.col("uid"))
        .filter(F.col("tsb") > F.col("first_a"))
        .groupBy("uid", "type_a", "type_b")
        .agg(F.min("tsb").alias("t_ab"))
    )
    lasts = per.select(
        F.col("user_id").alias("uc"),
        F.col("event_type").alias("type_c"),
        F.col("last_ts").alias("last_c"),
    )
    return (
        b_after_a.join(lasts, F.col("uid") == F.col("uc"))
        .filter(F.col("t_ab") < F.col("last_c"))
        .groupBy("type_a", "type_b", "type_c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


_GAP_SUPPORT_US = 3_600_000_000  # 1-hour a→b horizon

SEQUENCE_GAP_SUPPORT_ORACLE = """
WITH e AS (SELECT user_id AS u, event_type AS t, ts FROM events)
SELECT a.t AS type_a, b.t AS type_b,
       CAST(COUNT(DISTINCT a.u) AS BIGINT) AS n_users
FROM e a JOIN e b
  ON a.u = b.u AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
GROUP BY a.t, b.t
"""


@register(
    "event_sequence_gap_support",
    oracle=SEQUENCE_GAP_SUPPORT_ORACLE,
    tags=("dws", "sequence", "mining", "band-join"),
    past_window=True,
)
def event_sequence_gap_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-constrained sequential support: users with some A followed
    by some B WITHIN ONE HOUR — the maxgap variant of
    ``event_sequence_support`` (GSP's windowed form; "clicked within
    an hour of the ad view", not "ever after").

    Each family member gets the cheapest exact plan its semantics
    admit: the unconstrained head reduces to per-(user, type) extrema,
    but a gap constraint is invisible to extrema — it genuinely needs
    the event grain. The scalable form is a BANDED self-join, the same
    time-bucketing as ``session_overlap_pairs``: A-side events probe
    their own gap-width bucket and the next (any B within (ts_a,
    ts_a + gap] lands in one of the two), the join is an equi-join on
    (user, bucket) — each (A, B) event pair matches exactly once since
    the two probe buckets are distinct — and the exact gap predicate
    is a post-join filter. Intermediate cost is per-(user, bucket)
    density², i.e. each user's events per hour, not history²; the
    (user, pair) distinct then caps the count shuffle at
    users × |types|². The oracle states the naive per-user quadratic
    inequality join, so the driver's hash proves the banded rewrite.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "ts",
        F.floor(F.unix_micros("ts") / _GAP_SUPPORT_US).alias("bucket"),
    )
    a = e.select(
        F.col("user_id").alias("ua"),
        F.col("event_type").alias("type_a"),
        F.col("ts").alias("tsa"),
        F.explode(
            F.array(F.col("bucket"), F.col("bucket") + F.lit(1))
        ).alias("probe_bucket"),
    )
    b = e.select(
        F.col("user_id").alias("ub"),
        F.col("event_type").alias("type_b"),
        F.col("ts").alias("tsb"),
        F.col("bucket").alias("bb"),
    )
    matched = a.join(
        b,
        (F.col("ua") == F.col("ub"))
        & (F.col("probe_bucket") == F.col("bb"))
        & (F.col("tsb") > F.col("tsa"))
        & (
            F.unix_micros("tsb")
            <= F.unix_micros("tsa") + F.lit(_GAP_SUPPORT_US)
        ),
    )
    return (
        matched.select("ua", "type_a", "type_b")
        .distinct()
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


# ------------------------------------------------ link prediction

_LINKPRED_MIN_SUP = 2  # co-purchase support floor for the scored graph

LINK_PREDICTION_ORACLE = f"""
WITH baskets AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb
    FROM baskets a JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING count(*) >= {_LINKPRED_MIN_SUP}
), edges AS (
    SELECT pa AS u, pb AS v FROM pairs
    UNION ALL
    SELECT pb AS u, pa AS v FROM pairs
), deg AS (
    SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY u
), cn AS (
    SELECT e1.u AS a, e2.u AS b, CAST(count(*) AS BIGINT) AS cn
    FROM edges e1 JOIN edges e2 ON e1.v = e2.v AND e1.u < e2.u
    GROUP BY e1.u, e2.u
)
SELECT c.a AS part_u, c.b AS part_v, c.cn AS common_neighbors,
       CAST(CAST(c.cn AS DOUBLE)
            / CAST(da.d + db.d - c.cn AS DOUBLE) AS DOUBLE) AS jaccard
FROM cn c
JOIN deg da ON da.node = c.a
JOIN deg db ON db.node = c.b
LEFT JOIN pairs p ON p.pa = c.a AND p.pb = c.b
WHERE p.pa IS NULL
"""


@register(
    "part_link_prediction",
    oracle=LINK_PREDICTION_ORACLE,
    tags=("dws", "graph", "link-prediction"),
    past_window=True,
)
def part_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction scores over the co-purchase graph: for every
    NON-adjacent part pair sharing a neighbor, the common-neighbor
    count and neighborhood Jaccard |N(u)∩N(v)| / |N(u)∪N(v)| — the
    classic "will this edge appear" features (Liben-Nowell &
    Kleinberg CIKM'03) behind co-purchase recommendation ("parts that
    SHOULD sell together but don't yet"). Complements
    `part_triangle_count` (closed wedges) by scoring the OPEN wedges
    it discards. The scored graph uses support ≥ {_LINKPRED_MIN_SUP}
    (one notch below `part_copurchase_pairs`' reporting threshold —
    prediction wants the denser graph; at the bench scale the
    support-3 graph is 2 edges and predicts nothing).

    Exactness: counts and degrees are integers; Jaccard's denominator
    is deg(u)+deg(v)−cn by inclusion-exclusion — one double division
    at the edge. Scale shape: the wedge join (edges ⋈ edges on the
    shared-neighbor key) is the Σdeg² two-hop pattern triangle
    counting already prices, map-side combined into pair counts; AQE
    splits hub-key skew, and the support threshold is the degree cap
    that keeps hub fan-out polynomial. Non-adjacency is one left-anti
    join against the (already thresholded, pair-keyed) edge list;
    every frame after the wedge aggregate lives at the
    open-wedge-pair grain.
    """
    # prune=False: the Apriori prune is lossless but selects ~100% of
    # parts on order-shaped data even at f >= 3 (measured, see
    # part_copurchase_pairs) — at this head's f >= 2 it is strictly
    # more inclusive, i.e. a full count_distinct aggregate + semi-join
    # that removes nothing.
    pairs = scoped_persist(
        _basket_pair_counts(
            spark, sf_dir, _LINKPRED_MIN_SUP, prune=False
        ).select("pa", "pb")
    )
    edges = scoped_persist(
        pairs.selectExpr("pa AS u", "pb AS v").unionAll(
            pairs.selectExpr("pb AS u", "pa AS v")
        )
    )
    deg = edges.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    e1 = edges.selectExpr("u AS a", "v AS w")
    e2 = edges.selectExpr("u AS b", "v AS w")
    cn = (
        e1.join(e2, (e1["w"] == e2["w"]) & (e1["a"] < e2["b"]))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cn"))
    )
    open_pairs = cn.join(
        pairs, (cn["a"] == pairs["pa"]) & (cn["b"] == pairs["pb"]), "left_anti"
    )
    da = deg.selectExpr("node AS a", "d AS da")
    db = deg.selectExpr("node AS b", "d AS db")
    return (
        open_pairs.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("part_u"),
            F.col("b").alias("part_v"),
            F.col("cn").alias("common_neighbors"),
            (
                F.col("cn").cast("double")
                / (F.col("da") + F.col("db") - F.col("cn")).cast("double")
            ).alias("jaccard"),
        )
    )


# ------------------------------------------------ spend concentration

SPEND_CONCENTRATION_ORACLE = """
WITH spend AS (
    SELECT event_type, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS HUGEINT) AS c
    FROM events GROUP BY event_type, user_id
), vals AS (
    SELECT event_type, c, CAST(COUNT(*) AS HUGEINT) AS m
    FROM spend GROUP BY event_type, c
), cum AS (
    SELECT event_type, c, m,
           COALESCE(SUM(m) OVER (PARTITION BY event_type ORDER BY c
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS c_prev,
           SUM(m) OVER (PARTITION BY event_type) AS n
    FROM vals
), taken AS (
    SELECT event_type, c, m, c_prev, n,
           GREATEST(0, LEAST(m, n // 10 - (n - c_prev - m))) AS take
    FROM cum
), agg AS (
    SELECT event_type, MAX(n) AS n,
           SUM(c * m) AS s,
           SUM(c * m * (2 * c_prev + m + 1)) AS w2,
           SUM(c * take) AS top_cents
    FROM taken GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_users,
       CAST(CAST(s AS DOUBLE) / 100.0 AS DOUBLE) AS total_spend,
       CAST(CAST(w2 - (n + 1) * s AS DOUBLE)
            / NULLIF(CAST(n * s AS DOUBLE), 0.0) AS DOUBLE) AS gini,
       CASE WHEN n // 10 = 0 THEN NULL ELSE
           CAST(CAST(top_cents AS DOUBLE) / NULLIF(CAST(s AS DOUBLE), 0.0)
                AS DOUBLE)
       END AS top_decile_share
FROM agg
"""


@register(
    "user_spend_concentration",
    oracle=SPEND_CONCENTRATION_ORACLE,
    tags=("dws", "distribution", "gini"),
    past_window=True,
)
def user_spend_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per event type: the exact Gini
    coefficient of per-user spend and the share held by the top
    decile — the "how whale-driven is this channel" summary behind
    every LTV/Pareto dashboard, complementing
    `user_value_distribution` (per-user ranks) with the two scalars a
    monitor actually alerts on.

    Exactness: spend in integer cents; Gini's sorted-rank form
    Σ rank·x is regrouped by DISTINCT value blocks — a tie block of m
    users at value x contributes x·m·(2·C_prev + m + 1)/2 whatever
    order the tied users take — so G = (2W − (n+1)S)/(nS) is a ratio
    of exact integers (the /2 cancels by keeping 2W), ONE double
    division; the top-decile (k = n÷10 users, NULL when n < 10) takes
    whole blocks from the top plus the exact partial overlap of the
    boundary block, again pure integers. Scale shape: this is the
    `value_distribution_frame` lesson applied again — no per-type
    window over USERS (5 types would mean 5 tasks sorting everything);
    the only window runs at the DISTINCT-VALUE grain per type, orders
    of magnitude smaller than the user grain, after two map-combined
    aggregates. The streaming twin
    (``user_spend_concentration_from_store``) reruns this core over
    ``topk_spend_job``'s incrementally merged spend partials.
    """
    from gmall_flink_parent_spark.operators.windows import spend_by_type_user

    return spend_concentration_frame(
        spend_by_type_user(load_table(spark, sf_dir, "events"))
    )


def spend_concentration_frame(spend: DataFrame) -> DataFrame:
    """The registered Gini/top-decile core over any
    (event_type, user_id, spend DECIMAL) frame."""
    cents = spend.select(
        "event_type",
        (F.col("spend") * 100).cast("decimal(18,0)").alias("c"),
    )
    vals = cents.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).cast("decimal(18,0)").alias("m")
    )
    wt = Window.partitionBy("event_type")
    wo = wt.orderBy("c")
    cum = vals.select(
        "event_type",
        "c",
        "m",
        F.coalesce(
            F.sum("m").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("decimal(18,0)"),
        ).alias("c_prev"),
        F.sum("m").over(wt).alias("n"),
    )
    k = F.floor(F.col("n") / 10).cast("decimal(18,0)")  # n // 10 exactly
    c_above = F.col("n") - F.col("c_prev") - F.col("m")
    take = F.greatest(
        F.lit(0).cast("decimal(18,0)"), F.least(F.col("m"), k - c_above)
    )
    agg = cum.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum(F.col("c") * F.col("m")).alias("s"),
        F.sum(
            F.col("c") * F.col("m") * (2 * F.col("c_prev") + F.col("m") + 1)
        ).alias("w2"),
        F.sum(F.col("c") * take).alias("top_cents"),
    )
    return agg.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_users"),
        (F.col("s").cast("double") / F.lit(100.0)).alias("total_spend"),
        (
            (F.col("w2") - (F.col("n") + 1) * F.col("s")).cast("double")
            / F.nullif((F.col("n") * F.col("s")).cast("double"), F.lit(0.0))
        ).alias("gini"),
        F.when(
            F.floor(F.col("n") / 10) == 0, F.lit(None).cast("double")
        ).otherwise(
            F.col("top_cents").cast("double")
            / F.nullif(F.col("s").cast("double"), F.lit(0.0))
        ).alias("top_decile_share"),
    )


# ------------------------------------------------ supplier lead times

LEAD_TIME_ORACLE = """
WITH lead AS (
    SELECT l.l_suppkey,
           date_diff('day', o.o_orderdate, l.l_shipdate) AS days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT s.s_suppkey, s.s_name,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(quantile_cont(days, 0.5), 6) AS p50_days,
       ROUND(quantile_cont(days, 0.9), 6) AS p90_days,
       ROUND(quantile_cont(days, 0.99), 6) AS p99_days,
       CAST(MAX(days) AS BIGINT) AS max_days
FROM lead JOIN supplier s ON lead.l_suppkey = s.s_suppkey
GROUP BY s.s_suppkey, s.s_name
"""


@register(
    "supplier_lead_time_profile",
    oracle=LEAD_TIME_ORACLE,
    tags=("join", "stats", "quantile"),
    past_window=True,
)
def supplier_lead_time_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lead-time distribution per supplier — exact
    p50/p90/p99 (+ max) of ``l_shipdate − o_orderdate`` in days, the
    SLA scorecard behind `supplier_wait_chain`'s Q21 shape: Q21 counts
    one failure mode; this profiles the whole tail per supplier.

    The quantile pattern's OTHER cardinality regime:
    `doc_length_quantiles` groups by a ~20-value source key (exact
    percentile's per-group value list is the corpus ÷ 20 — painful but
    shuffle-balanced); here the key is the supplier dimension, so
    groups are plentiful and small (items-per-supplier), the natural
    case for exact percentiles at scale — the shuffle spreads over
    |suppliers| reducers and no group's sort exceeds one supplier's
    items. ``F.percentile`` is linear interpolation, DuckDB's
    ``quantile_cont`` definition, with the PSI-style round-6 edge; the
    order-date join is the orders⋈lineitem equi-join every TPC-H head
    prices, and the supplier name attaches AFTER the aggregate at the
    supplier grain (size-gated broadcast), never widening fact rows.
    """
    # fan_out after the 3-column projection: the join's exact-percentile
    # aggregate is fed from the scan stage, single-task on a
    # one-row-group input (guide §2.6); no-op at real scale. Measured
    # 0.88× at sf0.1, interleaved min-of-5.
    lineitem = fan_out(
        spark,
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_shipdate"
        ),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    lead = lineitem.join(
        orders, lineitem["l_orderkey"] == orders["o_orderkey"]
    ).select(
        "l_suppkey",
        F.datediff("l_shipdate", "o_orderdate").cast("long").alias("days"),
    )
    prof = lead.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.percentile("days", F.lit(0.5)), 6).alias("p50_days"),
        F.round(F.percentile("days", F.lit(0.9)), 6).alias("p90_days"),
        F.round(F.percentile("days", F.lit(0.99)), 6).alias("p99_days"),
        F.max("days").cast("bigint").alias("max_days"),
    )
    supplier = gated_broadcast(
        spark,
        sf_dir,
        "supplier",
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name"),
    )
    return prof.join(supplier, prof["l_suppkey"] == supplier["s_suppkey"]).select(
        "s_suppkey",
        "s_name",
        "n_items",
        "p50_days",
        "p90_days",
        "p99_days",
        "max_days",
    )


# ------------------------------------------------ supplier concentration

SUPPLIER_HHI_ORACLE = """
WITH rev AS (
    SELECT l_suppkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                * 1000000 AS HUGEINT) AS r
    FROM lineitem GROUP BY l_suppkey
), tagged AS (
    SELECT n.n_name, rev.r
    FROM rev
    JOIN supplier s ON s.s_suppkey = rev.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
), agg AS (
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           SUM(r) AS tot,
           SUM(r * r) AS sq
    FROM tagged GROUP BY n_name
)
SELECT n_name,
       n_suppliers,
       CAST(CAST(tot AS DOUBLE) / 1e6 AS DOUBLE) AS total_revenue,
       CAST(CAST(sq AS DOUBLE) / NULLIF(CAST(tot AS DOUBLE)
                                        * CAST(tot AS DOUBLE), 0.0) AS DOUBLE)
           AS hhi
FROM agg
"""


@register(
    "supplier_revenue_hhi",
    oracle=SUPPLIER_HHI_ORACLE,
    tags=("join", "distribution", "hhi"),
    # promoted into the driver window in the round-12 rotation
)
def supplier_revenue_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index of supplier revenue per nation — the
    market-concentration scalar (Σ share², 1/n for perfect competition,
    1.0 for a monopoly; antitrust's screening statistic) next to
    `user_spend_concentration`'s Gini: HHI weighs the HEAD of the
    distribution (big suppliers dominate the square), Gini the whole
    curve, so the pair disambiguates "one whale" from "broad
    inequality".

    Exactness: per-supplier discounted revenue in exact integer
    MICRO-dollars (the decimal(18,6) pricing grain the TPC-H heads
    share, ×10⁶); HHI = Σr² / (Σr)² is a ratio of exact integers with
    the division — and the (Σr)² product — performed identically in
    double on both engines. Scale shape: one map-combined supplier
    aggregate on the fact table, then joins at the |suppliers| grain
    against the size-gated dims; nothing after the first shuffle is
    fact-sized. The micro-dollar envelope holds to ~10¹⁹ per-nation
    revenue before Σr² would exceed the 128-bit accumulators.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    rev = lineitem.groupBy("l_suppkey").agg(
        (
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(18,6)")
            )
            * 1000000
        )
        .cast("decimal(18,0)")
        .alias("r")
    )
    supplier = gated_broadcast(
        spark,
        sf_dir,
        "supplier",
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"),
    )
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    tagged = (
        rev.join(supplier, rev["l_suppkey"] == supplier["s_suppkey"])
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name", "r")
    )
    agg = tagged.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("r").alias("tot"),
        F.sum(F.col("r") * F.col("r")).alias("sq"),
    )
    return agg.select(
        "n_name",
        "n_suppliers",
        (F.col("tot").cast("double") / F.lit(1e6)).alias("total_revenue"),
        (
            F.col("sq").cast("double")
            / F.nullif(
                F.col("tot").cast("double") * F.col("tot").cast("double"),
                F.lit(0.0),
            )
        ).alias("hhi"),
    )
