"""BaseLogTask analog — JSON parse, 3-way split, array explode (EP1).

Reference semantics (``gmall-realtime/.../app/dwd/BaseLogTask.java``):

- parse raw JSON log lines (``:52-57``, P1),
- split one stream three ways with side outputs: start-logs, page-logs,
  display records (``:109-148``, X1),
- flatten the ``displays`` array, injecting the parent ``page_id`` into
  each element (``:126-135``, X2),
- day-grain date bucketing ``yyyyMMdd`` (``:76,87``, P8).

Spark-first design: side outputs become N filtered DataFrames off one
cached parse — Catalyst pushes each branch's filter into the scan, and
``explode`` replaces the per-element ``ctx.output`` loop. The ``events``
test table plays the log stream: ``props`` is the semi-structured JSON
remainder (parsed with ``get_json_object``), ``event_type`` drives the
split, and ``documents`` supplies the array-valued column for the
explode analog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_parent_spark.registry import register
from gmall_flink_parent_spark.sources.tables import load_table

LOG_SPLIT_START_ORACLE = """
SELECT event_id,
       user_id,
       ts,
       strftime(ts, '%Y%m%d') AS ymd,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
FROM events
WHERE event_type = 'signup'
"""


@register("log_split_start", oracle=LOG_SPLIT_START_ORACLE, tags=("X1", "P1", "P8", "unbenched"), past_window=True)
def log_split_start(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Start-log branch of the 3-way split (BaseLogTask.java:117-121).

    ``signup`` events play the reference's ``start`` logs. The JSON
    ``props`` remainder is parsed JVM-side with ``get_json_object`` — no
    Python in the row path.
    """
    events = load_table(spark, sf_dir, "events")
    return events.filter(F.col("event_type") == "signup").select(
        "event_id",
        "user_id",
        "ts",
        F.date_format("ts", "yyyyMMdd").alias("ymd"),
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )


LOG_SPLIT_PAGE_ORACLE = """
SELECT event_id,
       user_id,
       ts,
       event_type,
       strftime(ts, '%Y%m%d') AS ymd,
       CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS page_value,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
FROM events
WHERE event_type IN ('view', 'click')
"""


# rotated out of the driver window (round 10): long-green since round 1,
# the split family keeps log_split_start in-window; local sweep covers this
@register(
    "log_split_page",
    oracle=LOG_SPLIT_PAGE_ORACLE,
    tags=("X1", "P1", "P8", "unbenched"),
    past_window=True,
)
def log_split_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-log branch of the 3-way split (BaseLogTask.java:123-146).

    ``view``/``click`` events play the reference's page logs; the other
    branches (start / display) are separate registered queries — in a
    streaming deployment all three share one parsed source and one
    ``foreachBatch`` (SURVEY §2 X1 side-output mapping).
    """
    events = load_table(spark, sf_dir, "events")
    return events.filter(F.col("event_type").isin("view", "click")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.date_format("ts", "yyyyMMdd").alias("ymd"),
        # decimal cast fixes the money scale; DOUBLE only at the output edge
        F.col("value").cast("decimal(18,2)").cast("double").alias("page_value"),
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )


TOKEN_EXPLODE_ORACLE = """
SELECT d.doc_id,
       d.source,
       u.token
FROM documents d, UNNEST(string_split(d.text, ' ')) AS u(token)
"""


PROPS_EXTRACT_ORACLE = """
SELECT event_id,
       event_type,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k,
       CAST(CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS BIGINT) AS k_bucket
FROM events
WHERE CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL
"""


@register("props_json_extract", oracle=PROPS_EXTRACT_ORACLE, tags=("P1", "json", "unbenched"), past_window=True)
def props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read JSON field extraction (P1) + derived bucket (P6).

    The reference parses every record's JSON payload before anything
    else (``BaseLogTask.java:52-57``, ``BaseDbTask.java:54``);
    ``get_json_object`` is the per-field analog and ``from_json`` the
    full-record one (used by the streaming jobs). JVM-side JSON path
    evaluation — no Python, stays in codegen, and the null filter drops
    malformed payloads exactly like the reference's try/catch dirty-data
    guard.
    """
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.select(
            "event_id",
            "event_type",
            k.alias("k"),
            (k % 10).alias("k_bucket"),
        )
        .filter(F.col("k").isNotNull())
    )


@register(
    "display_explode",
    oracle=TOKEN_EXPLODE_ORACLE,
    tags=("X2", "unbenched"),
    # rotated out of the driver window in round 11 (log_split_start +
    # props_json_extract keep the X-family in-window)
    past_window=True,
)
def display_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array flatten with parent-field injection (BaseLogTask.java:126-135).

    The reference emits one record per ``displays`` array element, copying
    the parent ``page_id`` onto each. Analog: explode the token array of
    ``documents.text``, injecting parent ``doc_id``/``source`` onto every
    element. ``explode`` is a generator inside whole-stage codegen — no
    shuffle, no Python.
    """
    documents = load_table(spark, sf_dir, "documents")
    return documents.select(
        "doc_id",
        "source",
        F.explode(F.split("text", " ")).alias("token"),
    )


PROPS_VARIANT_ORACLE = """
SELECT event_id, event_type,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k,
       'OBJECT<k: BIGINT>' AS props_schema,
       CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket
FROM events
WHERE json_extract(props, '$.k') IS NOT NULL
"""


@register(
    "props_variant_extract",
    oracle=PROPS_VARIANT_ORACLE,
    tags=("P1", "json", "variant"),
    past_window=True,
)
def props_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through the VARIANT type (Spark 4) — the
    shred-once successor to ``props_json_extract``'s per-field JSON
    path.

    ``get_json_object`` re-parses the JSON text once per extracted
    field; ``parse_json`` shreds the payload ONCE into a binary
    variant, and every ``variant_get`` after that is a typed offset
    read — the difference between O(fields) text parses and one. At
    100 TB the variant column is what you STORE (parse at ingest,
    typed access forever), exactly the decode-once discipline the
    media-fingerprint and shingle stores apply to their domains.
    ``schema_of_variant`` makes the shredded type itself an asserted
    output, so a payload drift (k arriving as a string) fails the hash
    instead of silently re-typing.
    """
    events = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "long")
    return (
        events.select(
            "event_id",
            "event_type",
            k.alias("k"),
            F.schema_of_variant(v).alias("props_schema"),
            (k % 10).alias("k_bucket"),
        )
        .filter(F.col("k").isNotNull())
    )


PROPS_SCHEMA_PROFILE_ORACLE = """
SELECT k.key AS prop_key,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT CAST(json_extract(events.props, '$.' || k.key)
                                AS VARCHAR)) AS BIGINT) AS n_values,
       MIN(TRY_CAST(json_extract(events.props, '$.' || k.key) AS BIGINT))
           AS min_num,
       MAX(TRY_CAST(json_extract(events.props, '$.' || k.key) AS BIGINT))
           AS max_num
FROM events, UNNEST(json_keys(events.props)) AS k(key)
WHERE TRY_CAST(json_extract(events.props, '$.k') AS BIGINT) >= 50
GROUP BY k.key
"""


@register(
    "props_schema_profile",
    oracle=PROPS_SCHEMA_PROFILE_ORACLE,
    tags=("P1", "json", "variant", "schema-on-read"),
    past_window=True,
)
def props_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPEN-ENDED semi-structured access (VERDICT r10 stretch #9): no
    declared schema anywhere — a schema-on-read FILTER over an
    undeclared variant path (``$.k >= 50`` via ``try_variant_get``,
    NULL-safe against payload drift) and a full key-space PROFILE via
    the ``variant_explode`` lateral TVF: every key that exists in the
    filtered payloads, with row count, distinct-value count (compared
    as canonical JSON text on both engines), and numeric min/max under
    try-cast (non-numeric values profile as NULL instead of failing).
    This is the discovery query a pipeline runs BEFORE declaring a
    shred schema; DuckDB's ``json_each`` is the oracle twin.

    Plan note (the VARIANT pushdown boundary): the variant-path filter
    does NOT reach the parquet scan — ``props`` is stored as JSON text,
    so PushedFilters carries only IsNotNull and the predicate evaluates
    post-parse in the codegen stage. That is the honest cost of
    schema-on-read over text; the shred-once path
    (``props_variant_extract``) plus storing the variant column is the
    100 TB answer, and this head is the one-time discovery pass that
    justifies it. ``variant_explode`` is generator-shaped (rows ∝
    payload keys), never a driver collect; the aggregate is a plain
    hash aggregate on the exploded key.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_props_v")
    return spark.sql(
        """
        SELECT ve.key AS prop_key,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT to_json(ve.value)) AS BIGINT) AS n_values,
               MIN(try_variant_get(ve.value, '$', 'long')) AS min_num,
               MAX(try_variant_get(ve.value, '$', 'long')) AS max_num
        FROM events_props_v,
             LATERAL variant_explode(parse_json(props)) ve
        WHERE try_variant_get(parse_json(props), '$.k', 'long') >= 50
        GROUP BY ve.key
        """
    )
