"""Declarative data-quality expectations — "unit tests for data".

Not in the reference (its validity handling is the per-record filter
family, SURVEY §2.3 P4): production curation runs gate on DATASET-level
invariants before anything downstream trains — null fractions, key
uniqueness, value containment, volume/shape drift (the Deequ /
Great-Expectations pattern: Schelter et al., VLDB 2018). The engine
form: a check is (name, aggregate metric, [lo, hi] band); a suite of
checks compiles to ONE single-scan aggregate whose partial aggregates
are mergeable (sum/count/min/max + partial distincts), so the whole
report costs one pass over the corpus and one 1-row final aggregate at
any scale — the k report rows are exploded from that single row,
never from the data. Metrics, bands, and pass/fail verdicts are plain
doubles, so the registered head is hash-checked against DuckDB.

Empty-input semantics are fail-safe: aggregates over zero rows yield
NULL metrics, and a NULL metric is never ``between`` its band, so every
check reports ``fail`` rather than vacuously passing (pinned in
``tests/test_operators.py``).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_flink_parent_spark.registry import register, scoped_persist
from gmall_flink_parent_spark.sources.tables import load_table


@dataclass(frozen=True)
class Expectation:
    """One dataset-level check: an aggregate metric and its accepted band.

    ``metric`` is a zero-arg builder (Columns need a live session, and
    suites are declared at module scope); ``sql`` is the same aggregate
    in DuckDB dialect — both sides of every check live in ONE spec row,
    so the engine metric and its oracle cannot drift.
    """

    name: str
    metric: Callable[[], Column]
    sql: str
    lo: float
    hi: float


def expectation_report(df: DataFrame, checks: list[Expectation]) -> DataFrame:
    """(check_name, metric, lo, hi, status) report for ``checks`` over ``df``.

    All metrics ride one ``df.agg`` — a single corpus scan with
    map-side partial aggregation (distinct-backed metrics add Spark's
    Expand, still one scan) — and the per-check rows are exploded from
    the resulting 1-row frame. Metrics are rounded to 6 places for
    engine-portable hashing; ``status`` is ``pass`` iff the metric lies
    in [lo, hi], and NULL metrics (empty input) fail.
    """
    one = df.agg(
        *[
            F.round(c.metric().cast("double"), 6).alias(f"m{i}")
            for i, c in enumerate(checks)
        ]
    )
    rows = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c.name).alias("check_name"),
                        F.col(f"m{i}").alias("metric"),
                        F.lit(float(c.lo)).alias("lo"),
                        F.lit(float(c.hi)).alias("hi"),
                    )
                    for i, c in enumerate(checks)
                ]
            )
        ).alias("r")
    ).select("r.*")
    return rows.withColumn(
        "status",
        F.when(
            F.col("metric").between(F.col("lo"), F.col("hi")), F.lit("pass")
        ).otherwise(F.lit("fail")),
    )


def expectations_oracle(checks: list[Expectation], table: str) -> str:
    """DuckDB oracle for ``expectation_report`` — generated from the SAME
    spec rows the Spark side consumes."""
    metrics = ",\n           ".join(
        f"ROUND(CAST({c.sql} AS DOUBLE), 6) AS m{i}" for i, c in enumerate(checks)
    )
    branches = "\nUNION ALL\n".join(
        f"SELECT '{c.name}' AS check_name, m{i} AS metric,"
        f" CAST({float(c.lo)} AS DOUBLE) AS lo, CAST({float(c.hi)} AS DOUBLE) AS hi,"
        f" CASE WHEN m{i} BETWEEN {float(c.lo)} AND {float(c.hi)}"
        f" THEN 'pass' ELSE 'fail' END AS status FROM m"
        for i, c in enumerate(checks)
    )
    return f"WITH m AS (\n    SELECT {metrics}\n    FROM {table}\n)\n{branches}"


# ------------------------------------------------ reusable check kinds


def completeness(col: str, lo: float) -> Expectation:
    """Fraction of rows with a non-null, non-empty value."""
    return Expectation(
        f"completeness({col})",
        lambda: F.avg(
            F.when(
                F.col(col).isNotNull() & (F.col(col) != F.lit("")), 1.0
            ).otherwise(0.0)
        ),
        f"avg(CASE WHEN {col} IS NOT NULL AND {col} <> '' THEN 1.0 ELSE 0.0 END)",
        lo,
        1.0,
    )


def uniqueness(col: str) -> Expectation:
    """Distinct-to-total ratio; 1.0 ⟺ the column is a key."""
    return Expectation(
        f"uniqueness({col})",
        # try_divide: 0 rows → NULL (→ 'fail'), not an ANSI divide error
        lambda: F.try_divide(
            F.countDistinct(F.col(col)).cast("double"), F.count(F.lit(1))
        ),
        f"CAST(count(DISTINCT {col}) AS DOUBLE) / count(*)",
        1.0,
        1.0,
    )


def satisfies(name: str, spark_cond: Callable[[], Column], sql_cond: str,
              lo: float) -> Expectation:
    """Fraction of rows satisfying a row predicate."""
    return Expectation(
        name,
        lambda: F.avg(F.when(spark_cond(), 1.0).otherwise(0.0)),
        f"avg(CASE WHEN {sql_cond} THEN 1.0 ELSE 0.0 END)",
        lo,
        1.0,
    )


def in_band(name: str, spark_agg: Callable[[], Column], sql_agg: str,
            lo: float, hi: float) -> Expectation:
    """Any aggregate held to a [lo, hi] band (means, minima, cardinalities)."""
    return Expectation(name, spark_agg, sql_agg, lo, hi)


# -------------------------------------------- the documents-table suite

_LANGS = ("de", "en", "es", "fr", "zh")
_LANG_SQL = ", ".join(f"'{lang}'" for lang in _LANGS)

DOCUMENT_CHECKS: list[Expectation] = [
    completeness("text", 0.99),
    uniqueness("doc_id"),
    satisfies(
        "consistency(n_chars = length(text))",
        lambda: F.col("n_chars") == F.length("text"),
        "n_chars = length(text)",
        0.999,
    ),
    satisfies(
        "containment(lang)",
        lambda: F.col("lang").isin(*_LANGS),
        f"lang IN ({_LANG_SQL})",
        0.99,
    ),
    in_band(
        "minimum(length(text))",
        lambda: F.min(F.length("text")),
        "min(length(text))",
        16.0,
        1e9,
    ),
    in_band(
        "mean(n_chars)", lambda: F.avg("n_chars"), "avg(n_chars)", 64.0, 4096.0
    ),
    in_band(
        "cardinality(source)",
        lambda: F.countDistinct(F.col("source")),
        "count(DISTINCT source)",
        1.0,
        10000.0,
    ),
    in_band(
        "minimum(doc_id)", lambda: F.min("doc_id"), "min(doc_id)", 0.0, 0.0
    ),
]

CORPUS_EXPECTATIONS_ORACLE = expectations_oracle(DOCUMENT_CHECKS, "documents")

# ------------------------------------- the embeddings-table suite
#
# Array-column checks: per-row facts (dimension, L2 norm) become row
# predicates via higher-order functions on BOTH sides — Spark
# ``aggregate(embedding, …)`` and DuckDB ``list_sum(list_transform…)``
# fold the same float32 values in index order, and the norm enters the
# metric only through an |norm − 1| < ε INDICATOR, so an engine's
# low-bit summation difference can never flip a verdict.

_NORM_SQL = (
    "sqrt(list_sum(list_transform(embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)
_NORM_SPARK = (
    "sqrt(aggregate(embedding, CAST(0 AS DOUBLE),"
    " (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
)

EMBEDDING_CHECKS: list[Expectation] = [
    satisfies(
        "completeness(embedding)",
        lambda: F.col("embedding").isNotNull(),
        "embedding IS NOT NULL",
        1.0,
    ),
    uniqueness("vec_id"),
    satisfies(
        "dimension(embedding) = 64",
        lambda: F.size("embedding") == 64,
        "len(embedding) = 64",
        1.0,
    ),
    satisfies(
        "unit_norm(embedding) ± 1e-3",
        lambda: F.abs(F.expr(_NORM_SPARK) - 1.0) < 0.001,
        f"abs({_NORM_SQL} - 1.0) < 0.001",
        1.0,
    ),
    satisfies(
        "containment(label in [0, 9])",
        lambda: F.col("label").between(0, 9),
        "label BETWEEN 0 AND 9",
        1.0,
    ),
    in_band(
        "cardinality(label)",
        lambda: F.countDistinct(F.col("label")),
        "count(DISTINCT label)",
        1.0,
        10.0,
    ),
]

EMBEDDING_EXPECTATIONS_ORACLE = expectations_oracle(EMBEDDING_CHECKS, "embeddings")


@register(
    "embedding_expectations",
    oracle=EMBEDDING_EXPECTATIONS_ORACLE,
    tags=("similarity", "quality", "validation", "report"),
    past_window=True,
)
def embedding_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The expectation suite over the EMBEDDINGS table — the admission
    gate an ANN/semantic-dedup pipeline runs before building an index:
    key uniqueness, fixed dimensionality, unit L2 norm (cosine scoring
    assumes it), and label containment, in one scan.

    Array-column metrics ride the same single-aggregate core as the
    documents suite: per-row facts (dimension, norm) are higher-order-
    function predicates folded inside codegen, and the norm check is an
    ε-indicator so float summation order can never flip a verdict. A
    failing row here (a truncated vector, an unnormalized import) would
    silently corrupt every cosine downstream — this is the check that
    makes ``ann_*`` / ``dedup_embedding_cosine`` safe to trust.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return expectation_report(emb, EMBEDDING_CHECKS)


@register(
    "corpus_expectations",
    oracle=CORPUS_EXPECTATIONS_ORACLE,
    tags=("text", "quality", "validation", "report"),
    # rotated INTO the driver window in round 9 (swap: doc_length_quantiles out)
)
def corpus_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-level quality gate over the documents table: the
    declarative expectation suite (completeness, key uniqueness,
    metadata consistency, language containment, shape bands) evaluated
    in ONE corpus scan, reported as (check_name, metric, lo, hi, status)
    rows.

    The pre-training run's admission control: a curation build that
    fails a check should stop before any downstream stage pays for the
    corpus (``build_pretraining_dataset`` composes the same scan-grain
    aggregates). Every metric is a mergeable aggregate, so at 100 TB
    the report costs one scan + one 1-row final aggregate; report rows
    explode from that single row. Custom suites plug in through
    ``expectation_report(df, checks)`` with the same per-check
    Spark/SQL spec rows, so the oracle is generated, never hand-kept.
    """
    docs = load_table(spark, sf_dir, "documents")
    return expectation_report(docs, DOCUMENT_CHECKS)


# ------------------------------------------- distribution drift (PSI)

_PSI_BUCKETS = 7  # token-length buckets: floor(n/16) capped at 6
_PSI_SMOOTH = 1.0  # add-1 on counts so empty buckets stay finite

SOURCE_PSI_ORACLE = f"""
WITH d AS (
    SELECT source,
           LEAST(len(string_split(text, ' ')) // 16, {_PSI_BUCKETS - 1}) AS b
    FROM documents
), per AS (
    SELECT source, b, CAST(count(*) AS DOUBLE) AS c_sb FROM d GROUP BY source, b
), tot_s AS (
    SELECT source, SUM(c_sb) AS n_s FROM per GROUP BY source
), corpus_b AS (
    SELECT b, SUM(c_sb) AS c_b FROM per GROUP BY b
), n AS (
    SELECT SUM(c_b) AS n FROM corpus_b
), grid AS (
    SELECT t.source, g.b FROM tot_s t, unnest(range({_PSI_BUCKETS})) AS g(b)
), pq AS (
    SELECT g.source,
           (COALESCE(p.c_sb, 0) + {_PSI_SMOOTH})
               / (t.n_s + {_PSI_SMOOTH * _PSI_BUCKETS}) AS p,
           (COALESCE(c.c_b, 0) + {_PSI_SMOOTH})
               / (n.n + {_PSI_SMOOTH * _PSI_BUCKETS}) AS q
    FROM grid g
    LEFT JOIN per p ON g.source = p.source AND g.b = p.b
    JOIN tot_s t ON g.source = t.source
    LEFT JOIN corpus_b c ON g.b = c.b
    CROSS JOIN n
)
SELECT source,
       (SELECT CAST(t.n_s AS BIGINT) FROM tot_s t WHERE t.source = pq.source)
           AS n_docs,
       ROUND(SUM((p - q) * ln(p / q)), 6) AS psi
FROM pq
GROUP BY source
"""


@register(
    "source_length_psi",
    oracle=SOURCE_PSI_ORACLE,
    tags=("text", "quality", "validation", "drift"),
    past_window=True,
)
def source_length_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of each source's token-length
    distribution against the corpus baseline — the standard drift
    score (banking scorecards; in curation: "did src7's crawl change
    shape this month"). PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) over
    {_PSI_BUCKETS} fixed token-length buckets with add-1 smoothing so
    empty buckets stay finite; rule of thumb: < 0.1 stable, > 0.25
    investigate.

    One corpus scan reduced to (source, bucket) counts — every later
    frame is bounded by |sources| × {_PSI_BUCKETS} rows or smaller, so
    at 100 TB the scan is the whole cost; the bucket grid (sources ×
    constant bucket list) exists so sources missing a bucket still
    contribute that bucket's (p − q)·ln(p/q) term. The same shape
    against a STORED baseline's (source, bucket) counts gives
    batch-over-batch drift at ingest (the ``expectations_job`` series
    carries the per-batch inputs).
    """
    docs = load_table(spark, sf_dir, "documents")
    b = F.least(
        F.floor(F.size(F.split("text", " ")) / 16), F.lit(_PSI_BUCKETS - 1)
    ).cast("long")
    per = (
        docs.select("source", b.alias("b"))
        .groupBy("source", "b")
        .agg(F.count(F.lit(1)).cast("double").alias("c_sb"))
    )
    per = scoped_persist(per)
    tot_s = per.groupBy("source").agg(F.sum("c_sb").alias("n_s"))
    corpus_b = per.groupBy("b").agg(F.sum("c_sb").alias("c_b"))
    n = corpus_b.agg(F.sum("c_b").alias("n"))
    grid = tot_s.select("source", "n_s").crossJoin(
        F.broadcast(
            spark.range(_PSI_BUCKETS).select(F.col("id").cast("long").alias("b"))
        )
    )
    pq = (
        grid.join(per, ["source", "b"], "left")
        .join(F.broadcast(corpus_b), "b", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            "n_s",
            (
                (F.coalesce(F.col("c_sb"), F.lit(0.0)) + _PSI_SMOOTH)
                / (F.col("n_s") + _PSI_SMOOTH * _PSI_BUCKETS)
            ).alias("p"),
            (
                (F.coalesce(F.col("c_b"), F.lit(0.0)) + _PSI_SMOOTH)
                / (F.col("n") + _PSI_SMOOTH * _PSI_BUCKETS)
            ).alias("q"),
        )
    )
    return pq.groupBy("source").agg(
        F.max("n_s").cast("long").alias("n_docs"),
        F.round(
            F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))), 6
        ).alias("psi"),
    )


# ------------------------------------------- referential integrity

_FK_CHECKS: list[tuple[str, str, str, str, str]] = [
    # (name, child table, fk col, parent table, pk col)
    ("orders.o_custkey -> customer.c_custkey", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("lineitem.l_orderkey -> orders.o_orderkey", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("customer.c_nationkey -> nation.n_nationkey", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("supplier.s_nationkey -> nation.n_nationkey", "supplier", "s_nationkey",
     "nation", "n_nationkey"),
    ("nation.n_regionkey -> region.r_regionkey", "nation", "n_regionkey",
     "region", "r_regionkey"),
]

REFERENTIAL_INTEGRITY_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS fk,
       CAST((SELECT count(*) FROM {child}) AS BIGINT) AS n_child,
       CAST((SELECT count(*) FROM {child} c
             WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                               WHERE p.{pk} = c.{fk})) AS BIGINT) AS n_orphans,
       CASE WHEN (SELECT count(*) FROM {child} c
                  WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                                    WHERE p.{pk} = c.{fk})) = 0
            THEN 'pass' ELSE 'fail' END AS status"""
    for name, child, fk, parent, pk in _FK_CHECKS
)


def fk_check_row(
    name: str, child: DataFrame, fk: str, parent: DataFrame, pk: str
) -> DataFrame:
    """One (fk, n_child, n_orphans, status) row: LEFT ANTI join of the
    child's FK column against the parent's distinct key — the shared
    core of ``referential_integrity`` and any caller-declared FK suite
    (the negative path, a child with real orphans, is pinned in
    tests)."""
    p = parent.select(F.col(pk).alias(fk)).distinct()
    n_child = child.agg(F.count(F.lit(1)).alias("n_child"))
    orphans = child.join(p, fk, "left_anti").agg(
        F.count(F.lit(1)).alias("n_orphans")
    )
    return n_child.crossJoin(orphans).select(
        F.lit(name).alias("fk"),
        F.col("n_child").cast("long").alias("n_child"),
        F.col("n_orphans").cast("long").alias("n_orphans"),
        F.when(F.col("n_orphans") == 0, F.lit("pass"))
        .otherwise(F.lit("fail"))
        .alias("status"),
    )


@register(
    "referential_integrity",
    oracle=REFERENTIAL_INTEGRITY_ORACLE,
    tags=("quality", "validation", "join", "report"),
    past_window=True,
)
def referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key integrity across the warehouse tables — the
    JOIN-shaped member of the expectations family (a single-table
    aggregate cannot see an orphan): per declared FK, the child row
    count, the orphan count (child keys with no parent), and a
    pass/fail verdict.

    This is the check that makes the enrichment family honest: every
    broadcast dim join in ``order_wide_enriched`` silently DROPS
    orphaned facts (inner-join semantics), so "0 orphans" is exactly
    the precondition under which enrichment is lossless — run this
    before blaming the join. Each FK costs one LEFT ANTI join against
    the parent's key column: the parent side is key-only (column-pruned
    scan) and dimension-sized parents broadcast, so at 100 TB the fact
    table is scanned once per declared FK and never shuffled when the
    parent broadcasts; orphan counting is a 1-row aggregate. The five
    1-row FK frames union into the report.
    """
    rows = [
        fk_check_row(
            name,
            load_table(spark, sf_dir, child),
            fk,
            load_table(spark, sf_dir, parent),
            pk,
        )
        for name, child, fk, parent, pk in _FK_CHECKS
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# ------------------------------------------- grouped (per-slice) report


def expectation_report_by(
    df: DataFrame, checks: list[Expectation], group_col: str
) -> DataFrame:
    """(group, check_name, metric, lo, hi, status) — the expectation
    suite evaluated PER SLICE (one ``groupBy(group_col)`` instead of
    the global agg, same spec rows): a corpus can pass every global
    check while one source inside it is rotten, and the slice report is
    where that shows. Cost is one scan + one |groups|-row aggregate;
    the k check rows explode per group row."""
    one = df.groupBy(group_col).agg(
        *[
            F.round(c.metric().cast("double"), 6).alias(f"m{i}")
            for i, c in enumerate(checks)
        ]
    )
    rows = one.select(
        F.col(group_col).alias("group_value"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c.name).alias("check_name"),
                        F.col(f"m{i}").alias("metric"),
                        F.lit(float(c.lo)).alias("lo"),
                        F.lit(float(c.hi)).alias("hi"),
                    )
                    for i, c in enumerate(checks)
                ]
            )
        ).alias("r"),
    ).select("group_value", "r.*")
    return rows.withColumn(
        "status",
        F.when(
            F.col("metric").between(F.col("lo"), F.col("hi")), F.lit("pass")
        ).otherwise(F.lit("fail")),
    )


def expectations_by_oracle(
    checks: list[Expectation], table: str, group_col: str
) -> str:
    """DuckDB oracle for ``expectation_report_by`` — generated from the
    same spec rows."""
    metrics = ",\n           ".join(
        f"ROUND(CAST({c.sql} AS DOUBLE), 6) AS m{i}" for i, c in enumerate(checks)
    )
    branches = "\nUNION ALL\n".join(
        f"SELECT group_value, '{c.name}' AS check_name, m{i} AS metric,"
        f" CAST({float(c.lo)} AS DOUBLE) AS lo, CAST({float(c.hi)} AS DOUBLE) AS hi,"
        f" CASE WHEN m{i} BETWEEN {float(c.lo)} AND {float(c.hi)}"
        f" THEN 'pass' ELSE 'fail' END AS status FROM m"
        for i, c in enumerate(checks)
    )
    return (
        f"WITH m AS (\n    SELECT {group_col} AS group_value,\n           "
        f"{metrics}\n    FROM {table}\n    GROUP BY {group_col}\n)\n{branches}"
    )


# per-source slice: the subset of DOCUMENT_CHECKS that is meaningful
# at source grain (key uniqueness/cardinality are corpus facts)
SOURCE_CHECKS: list[Expectation] = [
    completeness("text", 0.99),
    satisfies(
        "containment(lang)",
        lambda: F.col("lang").isin(*_LANGS),
        f"lang IN ({_LANG_SQL})",
        0.99,
    ),
    in_band(
        "minimum(length(text))",
        lambda: F.min(F.length("text")),
        "min(length(text))",
        16.0,
        1e9,
    ),
    in_band(
        "mean(n_chars)", lambda: F.avg("n_chars"), "avg(n_chars)", 64.0, 4096.0
    ),
]

SOURCE_EXPECTATIONS_ORACLE = expectations_by_oracle(
    SOURCE_CHECKS, "documents", "source"
)


@register(
    "source_expectations",
    oracle=SOURCE_EXPECTATIONS_ORACLE,
    tags=("text", "quality", "validation", "report"),
    past_window=True,
)
def source_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The expectation suite PER SOURCE — the slice report that catches
    what the global gate averages away: a corpus can pass every
    whole-corpus check while one source inside it ships empty text or
    truncated documents, and per-slice bands are how that source is
    caught (and then dropped via ``keep_docs`` / a weight of 0) without
    stopping the build. Same spec rows as the global suite restricted
    to source-meaningful checks; one scan, one |sources|-row aggregate,
    k check rows exploded per source. Completes the family's three
    axes: whole-corpus (``corpus_expectations``), per-ingest-batch
    (``expectations_job``'s time series), per-slice (this).
    """
    docs = load_table(spark, sf_dir, "documents")
    return expectation_report_by(docs, SOURCE_CHECKS, "source")


_UNOBSERVABLE_PREFIXES = ("uniqueness(", "cardinality(")


def observable(checks: list["Expectation"]) -> list["Expectation"]:
    """The subset of a suite CollectMetrics can carry: Spark forbids
    DISTINCT aggregates in observed metrics, so the distinct-backed
    checks (uniqueness / cardinality) stay on the scan-based report
    path (or the mergeable HLL store, which exists precisely because
    exact distincts don't decompose). Everything else rides free."""
    return [c for c in checks if not c.name.startswith(_UNOBSERVABLE_PREFIXES)]


def observe_expectations(df: DataFrame, checks: list["Expectation"]):
    """Attach the suite's metrics to ``df`` as a CollectMetrics node —
    the ZERO-EXTRA-SCAN form of ``expectation_report``.

    ``expectation_report`` costs one dedicated pass; at write cadence
    that pass doubles the I/O of every landed batch. ``observe`` rides
    the aggregates on whatever action the caller was already taking
    (typically the write itself): the metrics come back on the
    Observation after the action, computed from the SAME scan that
    wrote the data. Returns ``(df_with_metrics, observation)``; feed
    the observation to ``observed_verdicts`` after acting.

    Same metric builders as the report head, so the free metrics and
    the oracle-checked report cannot drift (parity pinned in tests).
    """
    from pyspark.sql import Observation

    checks = observable(checks)
    obs = Observation()
    cols = [
        F.round(c.metric().cast("double"), 6).alias(c.name) for c in checks
    ]
    return df.observe(obs, *cols), obs


def observed_verdicts(obs, checks: list["Expectation"]) -> list[tuple]:
    """(check_name, metric, passed) rows from a filled Observation —
    NULL metrics (empty input) fail, matching the report head's
    fail-safe empty semantics."""
    got = obs.get
    out = []
    for c in checks:
        m = got.get(c.name)
        out.append((c.name, m, m is not None and c.lo <= m <= c.hi))
    return out


# ------------------------------------------- distribution drift (KS)

SOURCE_KS_ORACLE = """
WITH per AS (
    SELECT source, n_chars AS v, CAST(count(*) AS HUGEINT) AS c_sv
    FROM documents GROUP BY source, n_chars
), tot AS (
    SELECT source, SUM(c_sv) AS n_s FROM per GROUP BY source
), vals AS (
    SELECT v, SUM(c_sv) AS c_v FROM per GROUP BY v
), n AS (
    SELECT SUM(c_v) AS n FROM vals
), pooled AS (
    SELECT v, SUM(c_v) OVER (ORDER BY v) AS cnt_le FROM vals
), cums AS (
    SELECT t.source, t.n_s, p.v, p.cnt_le,
           SUM(COALESCE(x.c_sv, 0)) OVER (
               PARTITION BY t.source ORDER BY p.v) AS cnt_s_le
    FROM tot t CROSS JOIN pooled p
    LEFT JOIN per x ON x.source = t.source AND x.v = p.v
), scored AS (
    SELECT c.source, c.n_s, c.v,
           (SELECT n FROM n) - c.n_s AS n_o,
           ABS(c.cnt_s_le * ((SELECT n FROM n) - c.n_s)
               - (c.cnt_le - c.cnt_s_le) * c.n_s) AS d_num,
           ROW_NUMBER() OVER (
               PARTITION BY c.source
               ORDER BY ABS(c.cnt_s_le * ((SELECT n FROM n) - c.n_s)
                            - (c.cnt_le - c.cnt_s_le) * c.n_s) DESC,
                        c.v) AS rnk
    FROM cums c
)
SELECT source,
       CAST(n_s AS BIGINT) AS n_docs,
       CAST(n_o AS BIGINT) AS n_rest,
       CAST(CAST(d_num AS DOUBLE) / NULLIF(CAST(n_s * n_o AS DOUBLE), 0.0)
            AS DOUBLE) AS ks_stat,
       CAST(v AS BIGINT) AS ks_at_chars
FROM scored WHERE rnk = 1
"""


@register(
    "source_length_ks",
    oracle=SOURCE_KS_ORACLE,
    tags=("text", "quality", "validation", "drift"),
    # promoted into the driver window in the round-12 rotation
)
def source_length_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic of each source's
    doc-length (n_chars) distribution against the POOLED REST of the
    corpus — the unbinned companion to `source_length_psi`: PSI needs
    a bucket scheme and add-1 smoothing; KS is bucket-free (sup-norm
    distance between the two empirical CDFs), so it also localizes
    WHERE the distributions diverge (``ks_at_chars``, tie → smallest
    length).

    Exactness: both ECDFs are step functions jumping only at observed
    lengths, so the sup is attained on the pooled distinct-value set;
    cross-multiplying removes the divisions —
    D(v)·n_s·n_o = |cnt_s≤v·n_o − cnt_o≤v·n_s| — leaving pure integer
    arithmetic (Spark decimal, DuckDB HUGEINT) until ONE double
    division at the output edge, so the statistic matches bit-exact
    cross-engine. A single-source corpus yields NULL (n_o = 0) rather
    than a division error. Scale shape: one map-combined
    (source, n_chars) count collapses the corpus to |sources| ×
    |distinct lengths| rows; every later frame — the pooled cumulative,
    the per-source cumulative over the broadcast sources × lengths
    grid — lives at that bounded grain, so the 100 TB cost is the one
    scan. The integer envelope holds to ~10¹⁸ docs per side before the
    count product would exceed decimal(38).
    """
    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.select("source", F.col("n_chars").alias("v"))
        .groupBy("source", "v")
        .agg(F.count(F.lit(1)).cast("decimal(18,0)").alias("c_sv"))
    )
    per = scoped_persist(per)
    tot = per.groupBy("source").agg(F.sum("c_sv").alias("n_s"))
    vals = per.groupBy("v").agg(F.sum("c_sv").alias("c_v"))
    pooled = vals.select(
        "v",
        F.sum("c_v")
        .over(Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cnt_le"),
    )
    n_total = vals.agg(F.sum("c_v").alias("n"))
    # sources × pooled distinct lengths: the broadcast side is the
    # source-vocabulary frame (|sources| rows at any corpus size)
    grid = pooled.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(n_total))
    cums = grid.join(per, ["source", "v"], "left").select(
        "source",
        "n_s",
        "v",
        "cnt_le",
        (F.col("n") - F.col("n_s")).alias("n_o"),
        F.sum(F.coalesce(F.col("c_sv"), F.lit(0).cast("decimal(18,0)")))
        .over(
            Window.partitionBy("source")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("cnt_s_le"),
    )
    d_num = F.abs(
        F.col("cnt_s_le") * F.col("n_o")
        - (F.col("cnt_le") - F.col("cnt_s_le")) * F.col("n_s")
    )
    scored = cums.select(
        "source",
        "n_s",
        "n_o",
        "v",
        d_num.alias("d_num"),
        F.row_number()
        .over(Window.partitionBy("source").orderBy(d_num.desc(), "v"))
        .alias("rnk"),
    )
    return scored.filter(F.col("rnk") == 1).select(
        "source",
        F.col("n_s").cast("bigint").alias("n_docs"),
        F.col("n_o").cast("bigint").alias("n_rest"),
        (
            F.col("d_num").cast("double")
            / F.nullif((F.col("n_s") * F.col("n_o")).cast("double"), F.lit(0.0))
        ).alias("ks_stat"),
        F.col("v").cast("bigint").alias("ks_at_chars"),
    )
