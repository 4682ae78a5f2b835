"""Skew-aware join: explicit key salting as the structural skew fix.

At 100 TB a handful of hot keys (the bot account, the null-ish default
id, the boilerplate doc) can pin a whole stage on one task. AQE's skew
join (`spark.sql.adaptive.skewJoin.enabled`, on in `session.py`) splits
oversized sort-merge partitions at runtime and is the first line of
defense; **salting** is the structural rewrite for when AQE can't help —
shuffled-hash paths it won't split, a single massive key, or streaming
joins where there is no runtime re-plan. The rewrite is
result-invariant, so the oracle is simply the *unsalted* join: the test
proves salting changes the physical distribution and nothing else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_parent_spark.registry import register
from gmall_flink_parent_spark.sources.tables import load_table

N_SALT = 8

SALTED_JOIN_ORACLE = """
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       SUM(CAST(e.value AS DECIMAL(18,2))) AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
"""


# rotated out of the driver window in round 13 (long-green since r1;
# order_wide_enriched + the interval-join pair keep the join family
# in-window)
@register(
    "skew_salted_join",
    oracle=SALTED_JOIN_ORACLE,
    tags=("join", "skew"),
    past_window=True,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim equi-join rewritten with an 8-way salt, then aggregated.

    The fact side appends a deterministic salt in [0, 8); the dim side
    replicates each row 8× via ``explode(sequence(...))``; the join key
    becomes (key, salt), spreading any hot key over 8 tasks at the cost
    of an 8× dim shuffle — the standard trade wherever one key would
    otherwise dominate a partition. Any salt assignment yields the same
    result (proved by the unsalted oracle); a hash of the fact row id
    keeps it deterministic for tests.
    """
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    fact = events.withColumn("salt", F.pmod(F.col("event_id"), F.lit(N_SALT)))
    dim = customer.select(
        "c_custkey",
        "c_mktsegment",
        F.explode(F.sequence(F.lit(0), F.lit(N_SALT - 1))).alias("salt"),
    )
    return (
        # shuffle_hash hint: at test scale AQE would broadcast the dim and
        # never exercise the salted exchange; forcing the shuffled path
        # keeps the plan shape honest to the 100 TB case it demonstrates.
        fact.join(
            dim.hint("shuffle_hash"),
            (fact.user_id == dim.c_custkey) & (fact.salt == dim.salt),
            "inner",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
        )
    )
