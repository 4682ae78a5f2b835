"""Dedup-method audit: precision/recall of every cheap near-dup tier
against the labeled exact-Jaccard ground truth.

Not in the reference (its dedup is the keyed-state UV filter, SURVEY
§2.6 W2): this is the surface a curation team actually tunes LSH
configs with — "at these bands × rows, what fraction of true near-dup
pairs does MinHash recover, and how much junk does it add?". Every
input is an already-registered, individually-oracled pair query; this
head only composes them with three bounded count aggregates per method,
so the report costs the union of its parts plus 1-row joins. The
labeled tiers are source-blocked (the documented quadratic-oracle
design), so each method's corpus-wide candidates are restricted to the
same-source subspace before scoring — the audit compares like with
like and says so in the ``tier`` column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_parent_spark.functions.dedup import (
    JACCARD_ORACLE,
    NGRAM_JACCARD_ORACLE,
    SIMHASH_PAIRS_ORACLE,
    _minhash_oracle,
    _minhash_pairs,
    dedup_jaccard_blocked,
    dedup_ngram_jaccard,
    simhash_near_dup,
)
from gmall_flink_parent_spark.functions.spans import (
    WINNOW_NEAR_DUP_ORACLE,
    winnow_near_dup,
)
from gmall_flink_parent_spark.registry import register, scoped_persist
from gmall_flink_parent_spark.sources.tables import load_table


def _same_source_pairs(pairs: DataFrame, src: DataFrame) -> DataFrame:
    """Restrict a (doc_id_a, doc_id_b) pair frame to same-source pairs —
    the subspace the blocked ground-truth tiers are defined on. Two
    equi-joins against the (small) doc→source map."""
    a = src.select(F.col("doc_id").alias("doc_id_a"), F.col("source").alias("_sa"))
    b = src.select(F.col("doc_id").alias("doc_id_b"), F.col("source").alias("_sb"))
    return (
        pairs.join(a, "doc_id_a")
        .join(b, "doc_id_b")
        .filter(F.col("_sa") == F.col("_sb"))
        .select("doc_id_a", "doc_id_b")
    )


def _audit_row(
    method: str, tier: str, pred: DataFrame, truth: DataFrame
) -> DataFrame:
    """One (method, tier, n_pred, n_truth, n_hit, precision, recall)
    row from three bounded 1-row aggregates. Ratios are NULL when the
    denominator is empty (nothing predicted / no true pairs at this
    scale) — the CASE guard keeps ANSI division honest."""
    n_pred = pred.agg(F.count(F.lit(1)).alias("n_pred"))
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_hit = pred.join(truth, ["doc_id_a", "doc_id_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        n_pred.crossJoin(n_truth)
        .crossJoin(n_hit)
        .select(
            F.lit(method).alias("method"),
            F.lit(tier).alias("tier"),
            F.col("n_pred").cast("long").alias("n_pred"),
            F.col("n_truth").cast("long").alias("n_truth"),
            F.col("n_hit").cast("long").alias("n_hit"),
            F.round(
                F.when(
                    F.col("n_pred") > 0,
                    F.col("n_hit").cast("double") / F.col("n_pred"),
                ),
                6,
            ).alias("pair_precision"),
            F.round(
                F.when(
                    F.col("n_truth") > 0,
                    F.col("n_hit").cast("double") / F.col("n_truth"),
                ),
                6,
            ).alias("pair_recall"),
        )
    )


def _blocked(pair_sql: str, a: str = "doc_id_a", b: str = "doc_id_b") -> str:
    return f"""
    SELECT p.{a} AS doc_id_a, p.{b} AS doc_id_b
    FROM ({pair_sql}) p
    JOIN documents s1 ON p.{a} = s1.doc_id
    JOIN documents s2 ON p.{b} = s2.doc_id
    WHERE s1.source = s2.source"""


def _audit_oracle() -> str:
    stats = "\nUNION ALL\n".join(
        f"SELECT '{m}' AS method, '{t}' AS tier,"
        f" (SELECT count(*) FROM {p}) AS n_pred,"
        f" (SELECT count(*) FROM {tr}) AS n_truth,"
        f" (SELECT count(*) FROM (SELECT * FROM {p} INTERSECT SELECT * FROM {tr}))"
        f" AS n_hit"
        for m, t, p, tr in [
            ("minhash_lsh", "token_set", "mh", "ts"),
            ("simhash", "token_set", "sim", "ts"),
            ("winnow", "ngram3", "win", "ng"),
        ]
    )
    return f"""
WITH mh AS ({_blocked(_minhash_oracle())}),
sim AS ({_blocked(SIMHASH_PAIRS_ORACLE)}),
win AS ({_blocked(WINNOW_NEAR_DUP_ORACLE, a="doc_a", b="doc_b")}),
ts AS (SELECT doc_id_a, doc_id_b FROM ({JACCARD_ORACLE})),
ng AS (SELECT doc_id_a, doc_id_b FROM ({NGRAM_JACCARD_ORACLE})),
stats AS (
{stats}
)
SELECT method, tier,
       CAST(n_pred AS BIGINT) AS n_pred,
       CAST(n_truth AS BIGINT) AS n_truth,
       CAST(n_hit AS BIGINT) AS n_hit,
       ROUND(CASE WHEN n_pred > 0 THEN CAST(n_hit AS DOUBLE) / n_pred END, 6)
           AS pair_precision,
       ROUND(CASE WHEN n_truth > 0 THEN CAST(n_hit AS DOUBLE) / n_truth END, 6)
           AS pair_recall
FROM stats
"""


DEDUP_AUDIT_ORACLE = _audit_oracle()


@register(
    "dedup_method_audit",
    oracle=DEDUP_AUDIT_ORACLE,
    tags=("dedup", "audit", "report", "unbenched"),
    past_window=True,
)
def dedup_method_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-method dedup quality report: (method, tier, n_pred, n_truth,
    n_hit, pair_precision, pair_recall) for MinHash-LSH and SimHash
    against the token-set Jaccard tier and winnowing against the
    3-gram shingle tier — each method scored against the ground truth
    it approximates.

    This is the config-tuning loop for the dedup family (bands × rows,
    Hamming radius, winnow window): run the audit at a labeled sample
    scale, adjust, rerun — then apply the chosen config corpus-wide
    where only the cheap tiers run. Deliberately NOT benchmarked as a
    headline query: it re-runs three pair queries plus both quadratic
    oracle tiers, which is the point (audits are sample-scale), and the
    components carry their own bench entries. Ratios are NULL-guarded
    for empty denominators at tiny SF.
    """
    docs = load_table(spark, sf_dir, "documents")
    src = docs.select("doc_id", "source")
    truth_ts = scoped_persist(
        dedup_jaccard_blocked(spark, sf_dir).select("doc_id_a", "doc_id_b")
    )
    truth_ng = dedup_ngram_jaccard(spark, sf_dir).select("doc_id_a", "doc_id_b")
    mh = _same_source_pairs(
        _minhash_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b"), src
    )
    sim = _same_source_pairs(
        simhash_near_dup(spark, sf_dir).select("doc_id_a", "doc_id_b"), src
    )
    win = _same_source_pairs(
        winnow_near_dup(spark, sf_dir).select(
            F.col("doc_a").alias("doc_id_a"), F.col("doc_b").alias("doc_id_b")
        ),
        src,
    )
    return (
        _audit_row("minhash_lsh", "token_set", mh, truth_ts)
        .unionByName(_audit_row("simhash", "token_set", sim, truth_ts))
        .unionByName(_audit_row("winnow", "ngram3", win, truth_ng))
    )


def cluster_best_keeper(labels: DataFrame, scored: DataFrame) -> DataFrame:
    """Quality-aware cluster representative: given (doc_id, cluster_id)
    assignments and (doc_id, clf_margin) scores, elect the HIGHEST-
    margin member of each near-dup cluster (ties break on lowest
    doc_id) — the production keep policy; min-id election
    (``dedup_cluster_keep``) is the id-stable default, this is the
    quality-optimal one. One window over (cluster, margin desc, id):
    partition-bounded by construction since a cluster is one partition
    key — no global sort."""
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("clf_margin"), F.asc("doc_id")
    )
    return (
        labels.join(scored.select("doc_id", "clf_margin"), "doc_id")
        .withColumn("_rk", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            "clf_margin",
            (F.col("_rk") == 1).alias("is_keeper"),
        )
    )


def _best_quality_oracle() -> str:
    """Recursive-CC core (see ``dedup._cluster_keep_oracle``) + the
    hash-classifier margin SQL (``quality.CLASSIFIER_ORACLE``'s pieces)
    + the argmax-margin window — the full keep policy as one DuckDB
    query, so the driver hash-pins the quality-aware election too."""
    from gmall_flink_parent_spark.functions.dedup import _minhash_pairs_ctes
    from gmall_flink_parent_spark.functions.quality import _CLF_BUCKETS, _W_DUCK

    return f"""
WITH RECURSIVE {_minhash_pairs_ctes()},
edges AS (
    SELECT doc_id_a AS u, doc_id_b AS v FROM mh_pairs
    UNION ALL
    SELECT doc_id_b, doc_id_a FROM mh_pairs
),
reach(doc_id, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT re.doc_id, e.v FROM reach re JOIN edges e ON e.u = re.r
),
cc AS (
    SELECT doc_id, CAST(min(r) AS BIGINT) AS cluster_id
    FROM reach GROUP BY doc_id
),
clf_weights AS (
    SELECT CAST(i AS BIGINT) AS bucket, {_W_DUCK} AS w
    FROM (SELECT unnest(range({_CLF_BUCKETS})) AS i)
),
tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
feat AS (
    SELECT doc_id,
           CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % {_CLF_BUCKETS}
               AS bucket
    FROM tok
),
margins AS (
    SELECT f.doc_id,
           ROUND(CAST(SUM(w.w) AS DOUBLE) / (128.0 * COUNT(*)), 6) AS clf_margin
    FROM feat f JOIN clf_weights w USING (bucket)
    GROUP BY f.doc_id
)
SELECT c.doc_id, c.cluster_id, m.clf_margin,
       (row_number() OVER (PARTITION BY c.cluster_id
                           ORDER BY m.clf_margin DESC, c.doc_id) = 1) AS is_keeper
FROM cc c JOIN margins m USING (doc_id)
"""


@register(
    "cluster_keep_best_quality",
    oracle=_best_quality_oracle(),
    tags=("dedup", "quality", "iterative", "unbenched"),
    past_window=True,
)
def cluster_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster collapse keeping the BEST document: connected
    components over the MinHash pair graph (the ``dedup_cluster_keep``
    core) + classifier margins, electing each cluster's highest-margin
    member instead of its lowest id.

    Why it matters: dup clusters in web corpora often mix a clean
    canonical page with boilerplate-laden mirrors — min-id keeps
    whichever crawled first, this keeps the one the quality model
    ranks highest, and the kept-token quality of the corpus rises at
    identical dedup rate. Formerly rows-only (iterative CC); round 11
    added the full hash oracle (``_best_quality_oracle``) —
    one-keeper-per-cluster, argmax-margin, and singleton invariants
    stay pinned in ``tests/test_operators.py``. The keep-list composes into
    ``build_pretraining_dataset(keep_docs=…)`` exactly like the min-id
    form.
    """
    from gmall_flink_parent_spark.functions.dedup import (
        _minhash_pairs,
        connected_components,
    )
    from gmall_flink_parent_spark.functions.quality import hash_classifier_frame

    pairs = _minhash_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b")
    docs = load_table(spark, sf_dir, "documents")
    labels = connected_components(docs.select("doc_id"), pairs).select(
        "doc_id", F.col("label").alias("cluster_id")
    )
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = hash_classifier_frame(tf, group_cols=("doc_id",))
    return cluster_best_keeper(labels, scored)
