"""Config-driven dynamic fact/dim routing — X3/J4/P5/P6 analog (EP2).

Reference (``gmall-realtime/.../app/func/TableProcessFunction.java``):
a MySQL ``table_process`` config table, polled every 5 s (``:51-57``),
maps ``(source_table, operate_type)`` → sink type (kafka topic for facts,
HBase/Phoenix table for dims), a sink table name, and a ``sink_columns``
whitelist applied as runtime projection (``:100-114``); unmatched records
are dropped with "No this key in TableProcess" (``:85-95``). The dynamic
Kafka sink picks the topic per record from the routed ``sink_table``
field (``app/dwd/BaseDbTask.java:74-85``, K2).

Spark-first design: the config is a tiny DataFrame **broadcast-joined**
against the CDC stream — per-record map lookups become one map-side hash
join; the 5 s poll becomes a re-read per micro-batch inside
``foreachBatch`` (W9; streaming wiring in ``streaming/jobs.py``). Column
whitelisting is expressed relationally: a column not in ``sink_columns``
is nulled, mirroring ``filterColumns``'s entry removal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_parent_spark.registry import register
from gmall_flink_parent_spark.sources.tables import fan_out, load_table

# Models the MySQL table_process rows (bean/TableProcess.java:17-31):
# (source_type, operate/sink_type, sink_table, sink_columns)
ROUTING_CONFIG = [
    ("signup", "kafka", "dwd_signup_log", "event_id,user_id,ts"),
    ("view", "kafka", "dwd_page_log", "event_id,user_id,ts,value"),
    ("click", "kafka", "dwd_page_log", "event_id,user_id,ts,value"),
    ("purchase", "hbase", "dim_purchase_info", "event_id,user_id,ts,value,props"),
    # 'error' has no config row → dropped (TableProcessFunction.java:85-95)
]
# Declared once: the streaming job reads its config file with it, since
# inferring a JSON schema costs a Spark job on every micro-batch.
ROUTING_CONFIG_SCHEMA = "source_type string, sink_type string, sink_table string, sink_columns string"

_CONFIG_VALUES = ", ".join(
    f"('{s}', '{t}', '{tbl}', '{cols}')" for s, t, tbl, cols in ROUTING_CONFIG
)

_ROUTING_ORACLE_TEMPLATE = f"""
WITH table_process(source_type, sink_type, sink_table, sink_columns) AS (
    VALUES {_CONFIG_VALUES}
)
SELECT e.event_id,
       e.user_id,
       e.ts,
       tp.sink_table,
       CASE WHEN list_contains(string_split(tp.sink_columns, ','), 'value')
            THEN CAST(CAST(e.value AS DECIMAL(18,2)) AS DOUBLE) END AS value,
       CASE WHEN list_contains(string_split(tp.sink_columns, ','), 'props')
            THEN e.props END AS props
FROM events e
JOIN table_process tp ON e.event_type = tp.source_type
WHERE tp.sink_type = '{{sink_type}}'
"""


def _routed(spark: SparkSession, sf_dir: str, sink_type: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    config = spark.createDataFrame(ROUTING_CONFIG, ROUTING_CONFIG_SCHEMA)
    cols = F.split(F.col("sink_columns"), ",")
    return (
        events.join(F.broadcast(config), events.event_type == config.source_type, "inner")
        .filter(F.col("sink_type") == sink_type)
        .select(
            "event_id",
            "user_id",
            "ts",
            "sink_table",
            F.when(
                # decimal cast fixes the money scale; DOUBLE at the output edge
                F.array_contains(cols, "value"),
                F.col("value").cast("decimal(18,2)").cast("double"),
            ).alias("value"),
            F.when(F.array_contains(cols, "props"), F.col("props")).alias("props"),
        )
    )


CDC_ENVELOPE_ORACLE = """
SELECT event_id,
       event_type AS table_name,
       CASE WHEN event_id % 3 = 1 THEN 'update' ELSE 'insert' END AS op_type,
       user_id,
       value
FROM events
"""


@register("cdc_envelope_parse", oracle=CDC_ENVELOPE_ORACLE, tags=("P1", "P4", "P6"), past_window=True)
def cdc_envelope_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maxwell CDC envelope round trip: serialize → parse → normalize →
    validity-filter → project (BaseDbTask's first stage).

    Reference: ``BaseDbTask.java:54-59`` parses the envelope
    ``{database, table, type, ts, data}`` and drops records with null
    table/data or ``len(data) <= 3``; ``TableProcessFunction.java:69-73``
    normalizes ``bootstrap-insert`` → ``insert`` (P6). Here the envelope
    is *built* with ``to_json`` and then genuinely re-parsed with
    ``from_json`` + a typed struct schema — the oracle computes the
    logical result directly, so a hash match proves the JSON round trip
    is lossless for every row (longs, doubles, nested struct).
    """
    # fan_out: the JSON round trip is codec-bound — parallelize beyond
    # the single-split scan (no-op at real scale).
    events = fan_out(spark, load_table(spark, sf_dir, "events"))
    raw = events.select(
        F.to_json(
            F.struct(
                F.lit("gmall").alias("database"),
                F.col("event_type").alias("table"),
                F.when(F.col("event_id") % 3 == 1, "update")
                .when(F.col("event_id") % 3 == 2, "bootstrap-insert")
                .otherwise("insert")
                .alias("type"),
                F.col("event_id"),
                F.struct("user_id", "value").alias("data"),
            )
        ).alias("raw")
    )
    schema = (
        "database string, table string, type string, event_id long, "
        "data struct<user_id:long, value:double>"
    )
    r = raw.select(F.from_json("raw", schema).alias("r")).select("r.*")
    op = F.when(F.col("type") == "bootstrap-insert", "insert").otherwise(F.col("type"))
    return (
        r.filter(
            F.col("table").isNotNull()
            & F.col("data").isNotNull()
            & (F.length(F.to_json("data")) > 3)
        )
        .select(
            "event_id",
            F.col("table").alias("table_name"),
            op.alias("op_type"),
            F.col("data.user_id").alias("user_id"),
            F.col("data.value").alias("value"),
        )
    )


@register(
    "routing_facts",
    oracle=_ROUTING_ORACLE_TEMPLATE.format(sink_type="kafka"),
    tags=("X3", "J4", "P5", "K2"),
)
def routing_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact branch: config rows with sink_type='kafka'.

    ``sink_table`` is the per-row topic column the Kafka sink consumes
    natively (K2 — MyKafkaUtil.java:43-49's custom serializer is not
    needed in Spark). Projection whitelist nulls unselected columns
    (TableProcessFunction.java:100-114).
    """
    return _routed(spark, sf_dir, "kafka")


@register(
    "routing_dims",
    oracle=_ROUTING_ORACLE_TEMPLATE.format(sink_type="hbase"),
    tags=("X3", "J4", "P5", "K3", "unbenched"),
    past_window=True,
)
def routing_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim branch: config rows with sink_type='hbase' (side-output analog).

    Downstream this branch feeds the upsert sink (K3/K4 — DimSink.java:
    35-61); in ``streaming/jobs.py`` it lands as partition-overwrite
    parquet keyed on the sink table, the reference's Phoenix upsert
    re-expressed as idempotent batch writes.
    """
    return _routed(spark, sf_dir, "hbase")
