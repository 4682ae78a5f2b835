"""SQL function surface: engine operators exposed to pure-SQL users.

The reference's extension points are Java subclass hooks (SURVEY §2.8) —
a user cannot call them from a query language because the reference has
none. This module gives the engine's scalar surface a declarative form:
Spark 4 **SQL UDFs** (``CREATE OR REPLACE TEMPORARY FUNCTION … RETURN
<expr>``). Unlike Python UDFs these are macros — the body is inlined
into the plan at analysis time, so calls run inside whole-stage codegen
with zero serialization overhead; they are the fast path, not a
convenience wrapper.

A user of the reference migrating here writes ``SELECT token_count(text)
FROM documents`` instead of subclassing a RichFunction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gmall_flink_parent_spark.functions.stopwords import _STOP_SQL, STOPWORDS
from gmall_flink_parent_spark.registry import register
from gmall_flink_parent_spark.sources.tables import load_table

_STOP_ARRAY_SQL = "array(" + ", ".join(f"'{s}'" for s in STOPWORDS) + ")"

# Each entry: (name, signature, return type, body). Bodies are pure
# Spark SQL expressions — inlined by the analyzer, codegen-compatible.
_MACROS: list[tuple[str, str, str, str]] = [
    (
        "token_count",
        "(s STRING)",
        "BIGINT",
        "CAST(size(split(s, ' ')) AS BIGINT)",
    ),
    (
        "fingerprint",
        "(s STRING)",
        "STRING",
        "md5(lower(trim(s)))",
    ),
    (
        "stopword_ratio",
        "(s STRING)",
        "DOUBLE",
        f"CAST(size(filter(split(s, ' '), t -> array_contains({_STOP_ARRAY_SQL}, t))) AS DOUBLE)"
        " / size(split(s, ' '))",
    ),
    (
        "quality_score",
        "(s STRING)",
        "DOUBLE",
        "ROUND("
        "  0.4 * least(size(split(s, ' ')), 200) / 200.0"
        "+ 0.3 * least(CAST(size(array_distinct(split(s, ' '))) AS DOUBLE)"
        "              / size(split(s, ' ')), 1.0D)"
        f"+ 0.3 * least(CAST(size(filter(split(s, ' '), t -> array_contains({_STOP_ARRAY_SQL}, t))) AS DOUBLE)"
        "              / size(split(s, ' ')) * 5.0, 1.0D)"
        ", 6)",
    ),
    (
        # keep-variate of the weighted mixture: u ∈ [0,1) from the first
        # 8 md5 hex digits of seed:epoch:doc_id — the SQL twin of
        # functions/curation.py::corpus_mix_weighted's decision column
        "mix_u",
        "(seed STRING, epoch INT, doc_id BIGINT)",
        "DOUBLE",
        "CAST(conv(substring(md5(concat_ws(':', seed, CAST(epoch AS STRING),"
        " CAST(doc_id AS STRING))), 1, 8), 16, 10) AS DOUBLE) / 4294967296.0",
    ),
    (
        # content-stable training-order sort key (training_order's md5 key)
        "sample_key",
        "(seed STRING, epoch INT, doc_id BIGINT)",
        "STRING",
        "md5(concat_ws(':', seed, CAST(epoch AS STRING), CAST(doc_id AS STRING)))",
    ),
]


def register_sql_functions(spark: SparkSession) -> list[str]:
    """Install the engine's scalar surface as SQL UDFs (idempotent).

    Skips names already present: the definitions are constants, and a
    blind CREATE OR REPLACE on every call makes Spark's function
    registry log a replaced-function warning per macro per query run.
    """
    for name, sig, ret, body in _MACROS:
        if spark.catalog.functionExists(name):
            continue
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{sig} "
            f"RETURNS {ret} RETURN {body}"
        )
    return [m[0] for m in _MACROS]


SQL_SURFACE_ORACLE = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       md5(lower(trim(text))) AS fingerprint,
       ROUND(
         0.4 * least(len(string_split(text, ' ')), 200) / 200.0
       + 0.3 * least(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')), 1.0)
       + 0.3 * least(CAST(len(list_filter(string_split(text, ' '), t -> t IN ({_STOP_SQL}))) AS DOUBLE)
                     / len(string_split(text, ' ')) * 5.0, 1.0)
       , 6) AS quality_score
FROM documents
"""


# rotated out of the driver window (round 10): long-green scalar-function
# demo surface; hash parity still enforced by the local sweep
@register(
    "sql_function_surface",
    oracle=SQL_SURFACE_ORACLE,
    tags=("sql", "text"),
    past_window=True,
)
def sql_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL-UDF surface driven entirely through ``spark.sql``.

    Registers the macros, exposes ``documents`` as a view, and runs a
    plain SQL query calling them — proving a SQL-only user gets the same
    results (and the same codegen plans: the macro bodies are inlined,
    no BatchEvalPython appears) as the DataFrame API. Hash-matched
    against the same expressions computed natively by DuckDB.
    """
    register_sql_functions(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents_v")
    return spark.sql(
        """
        SELECT doc_id,
               token_count(text) AS n_tokens,
               fingerprint(text) AS fingerprint,
               quality_score(text) AS quality_score
        FROM documents_v
        """
    )


ARRAY_SURFACE_ORACLE = """
WITH codes AS (
    SELECT vec_id,
           list_transform(embedding,
                          x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS INTEGER))
               AS c
    FROM embeddings
)
SELECT vec_id,
       CAST(len(list_filter(c, x -> x > 0)) AS INTEGER) AS n_pos,
       CAST(list_sum(c) AS BIGINT) AS sum_code,
       CAST(list_max(c) AS INTEGER) AS max_code,
       CAST(list_min(c) AS INTEGER) AS min_code,
       CAST(len(list_distinct(c)) AS INTEGER) AS n_distinct
FROM codes
"""


@register(
    "array_function_surface",
    oracle=ARRAY_SURFACE_ORACLE,
    tags=("sql", "array", "higher-order"),
    past_window=True,
)
def array_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The higher-order array-function surface driven entirely through
    ``spark.sql`` — transform / filter / aggregate / array_max /
    array_distinct over the embedding column, proving the lambda
    functions a vector-pipeline user reaches for are plain codegen
    (no BatchEvalPython; the same expressions the similarity tier
    builds with the DataFrame API). Floats are floored to exact
    integer millis-codes FIRST (floor of a double is deterministic
    cross-engine), so every reported value — counts, fold sum, max,
    min, distinct size — is pure integer arithmetic against DuckDB's
    ``list_*`` equivalents. Scale shape: map-only scan, no shuffle at
    all.
    """
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings_v"
    )
    return spark.sql(
        """
        SELECT vec_id,
               size(filter(c, x -> x > 0)) AS n_pos,
               aggregate(c, 0L, (a, x) -> a + x) AS sum_code,
               array_max(c) AS max_code,
               array_min(c) AS min_code,
               size(array_distinct(c)) AS n_distinct
        FROM (
            SELECT vec_id,
                   transform(embedding,
                             x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS INT))
                       AS c
            FROM embeddings_v
        )
        """
    )


# ------------------------------------------------------------------
# W1/W2/W3 as SQL TABLE functions + the SQL-only DWS composite

# Table-valued SQL UDFs (Spark 4: CREATE FUNCTION … RETURNS TABLE …):
# the stateful trio's BATCH analogs, callable from pure SQL over an
# `events_v` view — the reference's capabilities (BaseLogTask.java
# is_new repair, UniqueVisitApp UV dedup, UserJumpDetailApp bounce CEP)
# with no DataFrame code at all. Bodies are the registered heads'
# expressions verbatim; each is pinned row-identical to its DataFrame
# twin in tests/test_operators.py.
_BOUNCE_US = 30 * 60 * 1_000_000  # mirrors operators/bounce.py

_TABLE_MACROS: list[tuple[str, str, str]] = [
    (
        "visitor_repair_sql",
        "(user_id BIGINT, event_id BIGINT, ymd STRING, is_new STRING)",
        """
        SELECT user_id, event_id,
               date_format(ts, 'yyyyMMdd'),
               CASE WHEN to_date(ts) = min(to_date(ts)) OVER (PARTITION BY user_id)
                    THEN '1' ELSE '0' END
        FROM events_v
        """,
    ),
    (
        "uv_dedup_sql",
        "(user_id BIGINT, visit_ymd STRING, first_event_id BIGINT, first_ts TIMESTAMP)",
        """
        SELECT user_id, date_format(ts, 'yyyyMMdd'), event_id, ts
        FROM (
            SELECT user_id, ts, event_id,
                   row_number() OVER (
                       PARTITION BY user_id, to_date(ts)
                       ORDER BY ts, event_id
                   ) AS rn
            FROM events_v
        ) WHERE rn = 1
        """,
    ),
    (
        "bounce_detect_sql",
        "(event_id BIGINT, user_id BIGINT, ts TIMESTAMP)",
        f"""
        SELECT event_id, user_id, ts
        FROM (
            SELECT event_id, user_id, ts,
                   unix_micros(ts) - lag(unix_micros(ts)) OVER w AS pg,
                   lead(unix_micros(ts)) OVER w - unix_micros(ts) AS ng
            FROM events_v
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        WHERE (pg IS NULL OR pg > {_BOUNCE_US})
          AND (ng IS NULL OR ng > {_BOUNCE_US})
        """,
    ),
]


def register_sql_table_functions(spark: SparkSession) -> list[str]:
    """Install the W1/W2/W3 batch analogs as SQL TABLE functions
    (idempotent) — ``SELECT * FROM uv_dedup_sql()`` etc. over the
    ``events_v`` view, which must exist BEFORE this call:
    ``CREATE FUNCTION`` analyzes the body eagerly against the
    catalog."""
    for name, ret_cols, body in _TABLE_MACROS:
        if spark.catalog.functionExists(name):
            continue
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}() "
            f"RETURNS TABLE {ret_cols} RETURN {body}"
        )
    return [m[0] for m in _TABLE_MACROS]


SQL_DWS_ORACLE = f"""
WITH marked AS (
    SELECT event_id, user_id, ts,
           strftime(ts, '%Y%m%d') AS ymd,
           CASE WHEN CAST(ts AS DATE) =
                     min(CAST(ts AS DATE)) OVER (PARTITION BY user_id)
                THEN 1 ELSE 0 END AS is_new,
           row_number() OVER (
               PARTITION BY user_id, CAST(ts AS DATE)
               ORDER BY ts, event_id
           ) AS rn,
           epoch_us(ts) - lag(epoch_us(ts)) OVER w AS pg,
           lead(epoch_us(ts)) OVER w - epoch_us(ts) AS ng
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT ymd,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_uv,
       CAST(sum(CASE WHEN rn = 1 AND is_new = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new_visitors,
       CAST(sum(CASE WHEN (pg IS NULL OR pg > {_BOUNCE_US})
                      AND (ng IS NULL OR ng > {_BOUNCE_US})
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces
FROM marked
GROUP BY ymd
"""


@register(
    "sql_dws_surface",
    oracle=SQL_DWS_ORACLE,
    tags=("sql", "dws", "W1", "W2", "W3"),
    past_window=True,
)
def sql_dws_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's DWS daily visitor rollup (``VisitorStatsApp``'s
    uv/new-visitor/bounce counters) computed ENTIRELY through
    ``spark.sql`` — W1 (is_new repair), W2 (per-user-day dedup) and W3
    (bounce CEP analog) fused into one query: per day, the unique
    visitors, the repaired new-visitor count, and the bounce count.

    This is the "query capability" claim in its purest form: a
    SQL-only user reproduces the stateful trio's batch semantics with
    zero DataFrame code (the W1/W2/W3 TABLE macros installed by
    ``register_sql_table_functions`` expose each piece individually;
    this head fuses them single-scan). Scale shape (pinned in
    ``tests/test_plan_hygiene.py``): ONE events scan and ONE full-data
    exchange — hashpartitioning(user_id) — shared by all three windows
    (Catalyst keeps the (user, day) ranking on the user partitioning
    since user_id prefixes its key; only the sorts differ), then a
    map-side-combined day-grain aggregate whose exchange carries ~days
    rows. Strictly cheaper than unioning the three standalone heads,
    which would scan and shuffle three times.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_v")
    return spark.sql(
        f"""
        WITH marked AS (
            SELECT event_id, user_id, ts,
                   date_format(ts, 'yyyyMMdd') AS ymd,
                   CASE WHEN to_date(ts) =
                             min(to_date(ts)) OVER (PARTITION BY user_id)
                        THEN 1 ELSE 0 END AS is_new,
                   row_number() OVER (
                       PARTITION BY user_id, to_date(ts)
                       ORDER BY ts, event_id
                   ) AS rn,
                   unix_micros(ts) - lag(unix_micros(ts)) OVER w AS pg,
                   lead(unix_micros(ts)) OVER w - unix_micros(ts) AS ng
            FROM events_v
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT ymd,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_uv,
               CAST(sum(CASE WHEN rn = 1 AND is_new = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new_visitors,
               CAST(sum(CASE WHEN (pg IS NULL OR pg > {_BOUNCE_US})
                              AND (ng IS NULL OR ng > {_BOUNCE_US})
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces
        FROM marked
        GROUP BY ymd
        """
    )


def _phrase_values_sql() -> str:
    from gmall_flink_parent_spark.functions.retrieval import _phrase_terms

    return ", ".join(
        f"('{p}', '{t}', {off}, {n})" for p, t, off, n in _phrase_terms()
    )


def _sql_retrieval_oracle() -> str:
    from gmall_flink_parent_spark.functions.retrieval import PHRASE_ORACLE

    return PHRASE_ORACLE


@register(
    "sql_retrieval_surface",
    oracle=_sql_retrieval_oracle(),
    tags=("sql", "text", "retrieval", "phrase"),
    past_window=True,
)
def sql_retrieval_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The positional phrase probe computed ENTIRELY through
    ``spark.sql`` — the `sql_dws_surface` capability claim extended to
    the retrieval family: a SQL-only user builds the positional
    postings (LATERAL VIEW posexplode), probes them against an inline
    query-term VALUES table (broadcast-hinted), and resolves adjacency
    with the same (phrase, doc, start) distinct-offset aggregate as
    the DataFrame head — zero DataFrame code, same plan shape, and the
    oracle is `phrase_search_positional`'s verbatim, so the two
    surfaces can never drift.
    """
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents_v")
    return spark.sql(
        f"""
        WITH pos AS (
            SELECT doc_id, p.pos, p.token
            FROM documents_v
            LATERAL VIEW posexplode(split(text, ' ')) p AS pos, token
        ), terms AS (
            SELECT * FROM VALUES {_phrase_values_sql()}
                AS t(phrase, term, off, n_terms)
        ), probe AS (
            SELECT /*+ BROADCAST(terms) */
                   tm.phrase, p.doc_id, p.pos - tm.off AS start,
                   tm.off, tm.n_terms
            FROM pos p JOIN terms tm ON p.token = tm.term
        ), spans AS (
            SELECT phrase, doc_id, start, n_terms,
                   count(DISTINCT off) AS k
            FROM probe GROUP BY phrase, doc_id, start, n_terms
        )
        SELECT phrase, doc_id,
               CAST(count(*) AS BIGINT) AS n_matches,
               CAST(min(start) AS BIGINT) AS first_pos
        FROM spans WHERE k = n_terms
        GROUP BY phrase, doc_id
        """
    )


# --------------------------------- SQL-only order-wide (EP3) surface

SQL_ORDER_WIDE_ORACLE = """
SELECT o.o_orderkey,
       l.l_linenumber,
       strftime(o.o_orderdate, '%Y%m%d') AS order_ymd,
       o.o_orderpriority,
       c.c_mktsegment,
       n.n_name AS nation_name,
       r.r_name AS region_name,
       p.p_name AS part_name,
       s.s_name AS supplier_name,
       CAST(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)) AS DOUBLE)
           AS revenue
FROM orders o
JOIN lineitem l
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
LEFT JOIN customer c ON o.o_custkey   = c.c_custkey
LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
LEFT JOIN region r   ON n.n_regionkey = r.r_regionkey
LEFT JOIN part p     ON l.l_partkey   = p.p_partkey
LEFT JOIN supplier s ON l.l_suppkey   = s.s_suppkey
"""


def _gated_hint_list(sf_dir: str, names: dict[str, str]) -> str:
    """The SQL-surface mirror of ``gated_broadcast``: emit a BROADCAST
    hint only for the dims the DataFrame form would hint — bounded dims
    always; sf-proportional dims under the parquet byte gate (module
    constant read at call time, same as the gate itself) — so the two
    surfaces compile the same join strategy at every scale, and at a
    scale where a dim outgrows the gate BOTH drop the hint for AQE.
    ``names`` maps table name → the query ALIAS the hint must cite
    (Spark resolves hints against relation aliases, not view names)."""
    import gmall_flink_parent_spark.sources.tables as T

    hinted = []
    for name, alias in names.items():
        if name in T.BOUNDED_DIMS:
            hinted.append(alias)
            continue
        size = T.table_parquet_bytes(sf_dir, name)
        if size is not None and size <= T.DIM_BROADCAST_MAX_BYTES:
            hinted.append(alias)
    return ", ".join(f"BROADCAST({a})" for a in hinted)


@register(
    "sql_order_wide_surface",
    oracle=SQL_ORDER_WIDE_ORACLE,
    tags=("sql", "J1", "J2", "W5"),
)
def sql_order_wide_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship EP3 topology (``OrderWideApp.java``:
    interval join + six async dim enrichments) computed ENTIRELY
    through ``spark.sql`` — the last of the reference's five
    capabilities expressible from pure SQL: the orders ⋈ lineitem
    event-time BAND join (`order_detail_interval_join`'s [0, +30 d]
    ship-date band) fused with the 5-way left dim enrichment
    (`order_wide_enriched`'s J2 collapse of the per-record
    Redis/Phoenix lookups into broadcast hash joins).

    Plan shape (pinned in ``tests/test_plan_hygiene.py``): identical
    strategy to the DataFrame forms — the fact-fact band join carries
    the o_orderkey EQUI component (never a cartesian; the band rides
    as a post-join filter), and each dim joins by BROADCAST under the
    same size gate ``gated_broadcast`` applies (``_gated_hint_list``
    re-derives the hint set from the same byte bound, so the two
    surfaces cannot diverge at scale).
    """
    for t in ("orders", "lineitem", "customer", "nation", "region", "part", "supplier"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    hints = _gated_hint_list(
        sf_dir,
        {"customer": "c", "nation": "n", "region": "r", "part": "p", "supplier": "s"},
    )
    hint_clause = f"/*+ {hints} */ " if hints else ""
    return spark.sql(
        f"""
        SELECT {hint_clause}
               o.o_orderkey,
               l.l_linenumber,
               date_format(o.o_orderdate, 'yyyyMMdd') AS order_ymd,
               o.o_orderpriority,
               c.c_mktsegment,
               n.n_name AS nation_name,
               r.r_name AS region_name,
               p.p_name AS part_name,
               s.s_name AS supplier_name,
               CAST(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))
                    AS DOUBLE) AS revenue
        FROM orders o
        JOIN lineitem l
          ON l.l_orderkey = o.o_orderkey
         AND l.l_shipdate >= o.o_orderdate
         AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
        LEFT JOIN customer c ON o.o_custkey   = c.c_custkey
        LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
        LEFT JOIN region r   ON n.n_regionkey = r.r_regionkey
        LEFT JOIN part p     ON l.l_partkey   = p.p_partkey
        LEFT JOIN supplier s ON l.l_suppkey   = s.s_suppkey
        """
    )
