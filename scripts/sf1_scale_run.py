"""sf1 scale run — prove the expensive and broadcast-gated heads above
bench scale.

The driver ships test data up to sf0.1; this harness inflates it 10× as
**ten disjoint key-offset shards** and runs the heads that would hit a
broadcast/driver wall first. The inflation is principled, not naive row
duplication:

- TPC-H tables: copy ``i`` offsets every sf-proportional key
  (orderkey/custkey/partkey/suppkey) by ``i × 10^9``; bounded dims
  (nation/region) and their foreign keys stay put — ten structurally
  identical shards sharing the 25-nation world, so every join's per-key
  density (and therefore its plan shape) is preserved and every head's
  true answer scales linearly. Naive duplication would instead create
  10-row key groups and quadratic join blowups that no real 10× corpus
  has.
- documents: copy ``i`` suffixes every TOKEN with ``i`` — the copies
  share no vocabulary, so the dedup/contamination truth is exactly ten
  disjoint copies of the sf0.1 truth (duplicate-pair counts scale 10×,
  not 100×).
- embeddings: copy ``i`` circularly shifts the vector dimensions by
  ``i`` — norms and intra-copy geometry exact, cross-copy neighbors
  scrambled: ten disjoint ANN shards.
- events: user ids offset; timestamps unchanged (10× rows per day — how
  a real corpus grows).

Usage: ``python scripts/sf1_scale_run.py [out.json]`` — generates
``/tmp/spark_graft_sf1`` once (idempotent marker), then runs each head
once (cold, min-of-1: the point is walls and plan flips, not ±5%
timing) and prints one JSON line. Results → SCALE.md "sf1 scale run".
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC_SF_DIR = "/root/testdata/sf0.1"
SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")
# copies=10 is the canonical sf1 run. Key offsets stay disjoint (10^9
# apart) and token suffixes "_i" stay vocabulary-disjoint at any copy
# count, but the embedding shift is only a distinct shard while the copy
# index is below the vector width: at i >= EMBED_DIMS the circular shift
# wraps to the identity and the copy silently duplicates shard 0. So the
# copy count is capped at the width (sf6.4 from sf0.1).
EMBED_DIMS = 64
COPIES = int(os.environ.get("SPARK_GRAFT_SF1_COPIES", "10"))
KEY_OFF = 10**9

# the 10 most expensive r9 bench heads + the broadcast-gate heads
HEADS = [
    # round-12 additions
    "part_clustering_coeff",
    "part_label_propagation",
    "phrase_search_positional",
    "collocation_pmi",
    "term_proximity_search",
    "event_value_holt_forecast",
    "holt_forecast_backtest",
    "source_js_divergence",
    "event_value_ewma",
    "sql_dws_surface",
    "session_allen_relations",
    "ann_recall_report",
    "dedup_cascade_verify",
    "part_pagerank",
    "packed_training_stream",
    "part_triangle_count",
    "dedup_minhash_lsh",
    "part_copurchase_pairs",
    "order_wide_enriched",
    "chunk_bm25_multiquery",
    "token_budget_select",
    # gated-broadcast heads: the first to hit a broadcast wall at scale
    "regional_revenue_gapfill",
    "nation_market_share",
    "nation_trade_volume",
    "dominant_part_suppliers",
    "large_volume_orders",
    "shipping_priority_topk",
    "region_nation_volume",
    "returned_item_losses",
    "supplier_wait_chain",
    "top_revenue_supplier",
    # round-10 additions (TPC-H completion + SCD2 as-of)
    "small_qty_part_revenue",
    "regional_cheapest_supplier",
    "customer_order_distribution",
    "nation_profit_rollup",
    "discount_band_revenue",
    "late_order_priority_count",
    "promo_revenue_share",
    "bracket_discount_revenue",
    "purchase_dim_asof",
    "important_part_stock",
    "part_supplier_variety",
    "returnflag_priority_counts",
    # round-11 additions (derived partsupp — its build has the one new
    # shuffle shape: the 4-spread ∪ observed-pairs distinct)
    "partsupp_synth",
    "regional_cheapest_supplier_partsupp",
    "nation_profit_rollup_partsupp",
    "excess_stock_suppliers_partsupp",
    "props_schema_profile",
    # round-11 late additions: interval algebra + sequence mining
    # (events inflate as 10x users per day, so cross-user concurrency —
    # the overlap join's per-bucket density — genuinely grows 10x: the
    # right stress for the bucketed range join)
    "session_concurrency_peak",
    "session_overlap_pairs",
    "event_sequence_support",
    "event_sequence3_support",
    "event_sequence_gap_support",
    "event_value_twa_daily",
    "regional_revenue_interp",
    "event_value_cusum_shift",
    # round-11 continuation: time-series statistics + concentration ride
    # the same day-grain envelope; KS/entropy stress the documents scan;
    # SQ8/link-prediction stress the quantized ADC and wedge joins
    "event_value_acf",
    "event_dow_seasonality",
    "event_daily_robust_outliers",
    "event_trend_mann_kendall",
    "user_spend_concentration",
    "source_length_ks",
    "doc_token_entropy",
    "embedding_sq8_topk",
    "part_link_prediction",
    "supplier_lead_time_profile",
    "conversion_latency_profile",
    "daily_mix_kl",
    "order_detail_semi_join",
    "order_detail_anti_join",
    "order_detail_interval_join_full",
    "array_function_surface",
    "audience_overlap_matrix",
    "weekday_hour_heatmap",
    "event_interarrival_profile",
    "supplier_revenue_hhi",
]

# key columns that get the per-copy offset (sf-proportional keys only —
# nation/region keys are bounded and shared across shards)
OFFSET_KEYS = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
PASSTHROUGH = ("nation", "region")  # bounded: copied verbatim, not inflated
OUT_FILES = {"lineitem": 32, "orders": 16, "events": 16}


def _inflate(spark, name: str):
    from pyspark.sql import functions as F

    from gmall_flink_parent_spark.sources.tables import load_table

    base = load_table(spark, SRC_SF_DIR, name)
    if name in PASSTHROUGH:
        return base
    copies = []
    for i in range(COPIES):
        df = base
        for k in OFFSET_KEYS.get(name, ()):
            df = df.withColumn(k, F.col(k) + F.lit(i * KEY_OFF))
        if name == "documents" and i > 0:
            # disjoint vocabulary per shard: suffix every token with
            # "_<copy index>" (dedup truth = 10 disjoint copies, linear
            # scale). The separator must be a character the base corpus
            # cannot produce — a bare digit suffix collides with base
            # tokens already ending in that digit ("foo1" == "foo"+"1").
            # The base corpus contains no underscores (asserted below),
            # so "_i" suffixed tokens are disjoint by construction.
            if i == 1:
                n_underscore = base.filter(F.col("text").contains("_")).count()
                assert n_underscore == 0, (
                    f"{n_underscore} base documents contain '_'; the shard "
                    "vocabulary-disjointness construction needs a separator "
                    "absent from the base corpus"
                )
            df = df.withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.split("text", " "),
                        lambda w: F.concat(w, F.lit("_" + str(i))),
                    ),
                    " ",
                ),
            ).withColumn("n_chars", F.length("text").cast("long"))
        if name == "embeddings" and i > 0:
            # circular dimension shift: intra-shard geometry exact,
            # cross-shard neighbors scrambled
            df = df.withColumn(
                "embedding",
                F.concat(
                    F.slice(F.col("embedding"), i + 1, 4096),
                    F.slice(F.col("embedding"), 1, i),
                ),
            )
        copies.append(df)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def generate(spark) -> None:
    if COPIES > EMBED_DIMS:
        raise ValueError(
            f"SPARK_GRAFT_SF1_COPIES={COPIES}: at most {EMBED_DIMS} copies "
            f"(the embedding width); copy {EMBED_DIMS} and above would repeat "
            "shard 0's embeddings instead of adding a disjoint shard"
        )
    marker = os.path.join(SF1_DIR, "_GENERATED")
    if os.path.exists(marker):
        return
    os.makedirs(SF1_DIR, exist_ok=True)
    from gmall_flink_parent_spark.sources.tables import TABLES

    for name in TABLES:
        df = _inflate(spark, name)
        n = OUT_FILES.get(name, 4)
        df.repartition(n).write.mode("overwrite").parquet(
            os.path.join(SF1_DIR, f"{name}.parquet")
        )
    with open(marker, "w") as fh:
        fh.write("ok\n")


def main() -> None:
    from gmall_flink_parent_spark import plans
    from gmall_flink_parent_spark.session import get_spark

    spark = get_spark("gmall-sf1-scale")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.monotonic()
    generate(spark)
    gen_sec = round(time.monotonic() - t0, 1)
    qmap = plans.query_map()
    results: dict[str, dict] = {}
    for name in HEADS:
        t = time.monotonic()
        try:
            df = qmap[name](spark, SF1_DIR)
            df.write.format("noop").mode("overwrite").save()
            results[name] = {"sec": round(time.monotonic() - t, 2)}
        except Exception as exc:  # a wall IS the finding — record, keep going
            results[name] = {
                "sec": round(time.monotonic() - t, 2),
                "error": f"{type(exc).__name__}: {str(exc)[:200]}",
            }
    doc = {
        "metric": "sf1_scale_run",
        "sf": 1.0,
        "generate_sec": gen_sec,
        "heads": results,
    }
    line = json.dumps(doc)
    print(line)
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as fh:
            fh.write(line + "\n")


if __name__ == "__main__":
    main()
