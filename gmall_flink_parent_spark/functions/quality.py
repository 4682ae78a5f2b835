"""Repetition-rule quality filtering and hashed-feature classifier scoring.

Not in the reference (SURVEY §2.7's string surface stops at parse/
rewrite): the model-quality gates a 100 TB pretraining pipeline runs
after dedup and before mixing —

- **Repetition rules** (the Gopher / MassiveText heuristics, Rae et al.
  2021 §A1.1): documents dominated by a single repeated n-gram, by
  duplicated n-grams overall, or by literal token runs are machine
  artifacts (scraper loops, SEO spam, templated chrome) and get dropped
  before they poison the mixture. Everything is per-row higher-order
  array math over ``text`` — shuffle-free, whole-stage codegen, the
  same fused-scan shape as ``doc_text_profile``.
- **Hashed linear classifier** (the fastText-style quality model,
  Joulin et al. 2016): tokens are feature-hashed into a fixed bucket
  space and scored against a WEIGHT TABLE — weights are data (a trained
  model), not a formula, so the production shape is a broadcast join of
  the (bucket, weight) table against the exploded token stream, partial
  aggregation back to document grain. Here the weight table is derived
  deterministically from md5 so DuckDB reproduces scoring end-to-end
  (swap in real trained weights by replacing ``classifier_weights``;
  every downstream line is unchanged).

Both heads stay exact across engines by keeping cross-row arithmetic in
integers (weight sums, counts) and dividing once at the end — no
float-accumulation-order hazard between Spark's partial aggregates and
DuckDB's single-node sum.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_parent_spark.registry import register
from gmall_flink_parent_spark.sources.tables import fan_out, load_table

# --------------------------------------------------------------- thresholds
#
# Gopher's published cuts (top-2gram > 0.20, dup-3gram mass > 0.18,
# symbol ratios …) target web text; the synthetic corpus is drawn from a
# ~30-word vocabulary, so the SAME RULES need corpus-appropriate levels
# to exercise both verdicts. The rule STRUCTURE is what's pinned.
_TOP_BIGRAM_MAX = 0.05  # most frequent 2-gram may cover ≤ this fraction
_DUP_TRIGRAM_MAX = 0.10  # duplicated-3-gram occurrence fraction cap
_DUP_TOKEN_MAX = 0.60  # 1 - distinct/total cap (lexical diversity floor)
_MAX_TOKEN_RUN = 2  # longest literal same-token run allowed

_CLF_BUCKETS = 256  # feature-hash space (fastText uses 2M; shape is equal)
_CLF_SCALE = 4.0  # logit scale before the sigmoid


def _grams(toks: Column, n: Column, k: int) -> Column:
    """Overlapping k-gram strings over a token array (empty when short)."""
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    return F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))


def _max_run_col(toks: Column) -> Column:
    """Longest run of consecutive identical tokens — one linear pass via
    an ``aggregate`` struct accumulator (prev token, current run, best)."""
    init = F.struct(
        F.lit(" ").alias("prev"),  # space-sentinel: tokens are split on spaces
        F.lit(0).cast("long").alias("cur"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc: Column, t: Column) -> Column:
        cur = F.when(t == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            t.alias("prev"), cur.alias("cur"), F.greatest(acc["best"], cur).alias("best")
        )

    return F.aggregate(toks, init, step, lambda acc: acc["best"])


def _dup_mass_col(sorted_arr: Column) -> Column:
    """Number of elements of a SORTED array whose value occurs ≥ 2
    times: equal values are adjacent runs, so one linear fold tracks
    the current run and banks it into the duplicated mass whenever a
    run of length ≥ 2 closes (same accumulator shape as
    ``_max_run_col`` — a dynamic-index ``element_at`` spelling of the
    same scan measured ~2× SLOWER than even the quadratic original)."""
    init = F.struct(
        F.lit(" ").alias("prev"),
        F.lit(0).cast("long").alias("cur"),
        F.lit(0).cast("long").alias("dup"),
    )

    def step(acc: Column, t: Column) -> Column:
        closes = acc["cur"] >= 2  # the run that just ended was duplicated
        cur = F.when(t == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1).cast("long"))
        dup = F.when(
            t == acc["prev"], acc["dup"]
        ).otherwise(acc["dup"] + F.when(closes, acc["cur"]).otherwise(F.lit(0)))
        return F.struct(t.alias("prev"), cur.alias("cur"), dup.alias("dup"))

    return F.aggregate(
        sorted_arr,
        init,
        step,
        lambda acc: acc["dup"]
        + F.when(acc["cur"] >= 2, acc["cur"]).otherwise(F.lit(0)),
    )


REPETITION_ORACLE = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks, len(string_split(text, ' ')) AS n
    FROM documents
), g AS (
    SELECT doc_id, toks, n,
        CASE WHEN n >= 2 THEN list_transform(range(1, n),
            i -> concat(toks[i], ' ', toks[i + 1])) ELSE [] END AS bg,
        CASE WHEN n >= 3 THEN list_transform(range(1, n - 1),
            i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2])) ELSE [] END AS tg
    FROM t
), m AS (
    SELECT doc_id, n,
        CASE WHEN len(bg) > 0 THEN CAST(list_max(list_transform(list_distinct(bg),
            d -> len(list_filter(bg, x -> x = d)))) AS DOUBLE) / len(bg)
            ELSE 0.0 END AS top_bigram_frac_raw,
        CASE WHEN len(tg) > 0 THEN CAST(len(list_filter(tg,
            x -> len(list_filter(tg, y -> y = x)) >= 2)) AS DOUBLE) / len(tg)
            ELSE 0.0 END AS dup_trigram_frac_raw,
        1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / n AS dup_token_frac_raw,
        CAST(list_max(list_transform(range(1, n + 1), i ->
            coalesce(list_min(list_filter(range(i + 1, n + 1),
                j -> toks[j] != toks[i])), n + 1) - i)) AS BIGINT) AS max_token_run
    FROM g
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       ROUND(top_bigram_frac_raw, 6) AS top_bigram_frac,
       ROUND(dup_trigram_frac_raw, 6) AS dup_trigram_frac,
       ROUND(dup_token_frac_raw, 6) AS dup_token_frac,
       max_token_run,
       (top_bigram_frac_raw <= {_TOP_BIGRAM_MAX}
        AND dup_trigram_frac_raw <= {_DUP_TRIGRAM_MAX}
        AND dup_token_frac_raw <= {_DUP_TOKEN_MAX}
        AND max_token_run <= {_MAX_TOKEN_RUN}) AS gopher_keep
FROM m
"""


def doc_repetition_profile_frame(docs: DataFrame) -> DataFrame:
    """Frame-level core of ``doc_repetition_profile`` (shared with the
    ingest-time streaming form): one codegen projection per document."""
    toks = F.split(F.col("text"), " ")
    out = docs.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    t, n = F.col("toks"), F.col("n")
    bg, tg = _grams(t, n, 2), _grams(t, n, 3)

    # Multiplicity questions over the gram bags are answered on SORTED
    # copies (equal grams become adjacent runs): max multiplicity = the
    # longest run, duplicated mass = instances sharing a value with a
    # neighbor. O(n log n) per doc — the direct higher-order spelling
    # (per-distinct-gram filters, nested instance×instance filters) is
    # O(n·distinct)/O(n²) of INTERPRETED lambda evaluation (lambda
    # functions don't codegen) and measured ~10× slower at sf0.1.
    top_bigram = F.when(
        F.size(bg) > 0,
        _max_run_col(F.array_sort(bg)).cast("double") / F.size(bg),
    ).otherwise(F.lit(0.0))
    dup_trigram = F.when(
        F.size(tg) > 0,
        _dup_mass_col(F.array_sort(tg)).cast("double") / F.size(tg),
    ).otherwise(F.lit(0.0))
    dup_token = F.lit(1.0) - F.size(F.array_distinct(t)).cast("double") / n
    max_run = _max_run_col(t)

    return out.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.round(top_bigram, 6).alias("top_bigram_frac"),
        F.round(dup_trigram, 6).alias("dup_trigram_frac"),
        F.round(dup_token, 6).alias("dup_token_frac"),
        max_run.alias("max_token_run"),
        (
            (top_bigram <= _TOP_BIGRAM_MAX)
            & (dup_trigram <= _DUP_TRIGRAM_MAX)
            & (dup_token <= _DUP_TOKEN_MAX)
            & (max_run <= _MAX_TOKEN_RUN)
        ).alias("gopher_keep"),
    )


@register(
    "doc_repetition_profile",
    oracle=REPETITION_ORACLE,
    tags=("text", "quality", "gopher"),
    past_window=True,
)
def doc_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals + keep/drop verdict per document.

    Four MassiveText repetition rules in one scan:

    - ``top_bigram_frac`` — occurrence share of the single most frequent
      2-gram (scraper-loop detector);
    - ``dup_trigram_frac`` — fraction of 3-gram occurrences whose gram
      appears ≥ 2× in the document (templated-text detector);
    - ``dup_token_frac`` — ``1 − distinct/total`` lexical diversity;
    - ``max_token_run`` — longest literal same-token run, computed in
      ONE linear ``aggregate`` pass with a (prev, run, best) struct
      accumulator (the oracle spells the same value O(n²) because DuckDB
      lambdas don't thread struct state; values agree, shapes differ by
      design).

    ``gopher_keep`` conjoins the four thresholds. Everything is per-row
    higher-order array math — shuffle-free, no explode, no Python; at
    100 TB this fuses into the ingest scan beside ``doc_text_profile``
    (same frame-function pattern, ``*_frame`` shared with streaming).
    Verdict flips on threshold columns are exact: the comparison runs on
    the unrounded rationals on both engines, not the displayed rounding.
    """
    return doc_repetition_profile_frame(fan_out(spark, load_table(spark, sf_dir, "documents")))


# ------------------------------------------------------------- classifier

# Portable token→bucket hash and bucket→weight derivation: first 8 md5
# hex chars as a 32-bit integer (the engine-portable hash used across
# the dedup/simhash family), bucket = hash mod buckets, integer weight
# in [-128, 127] derived from the bucket id. Integer weights keep the
# cross-row sum EXACT on both engines; the single final division is
# correctly rounded to the same double.
_W_DUCK = (
    "CAST(CAST(concat('0x', substr(md5(concat('w:', CAST(bucket AS VARCHAR))), 1, 8)) "
    f"AS BIGINT) % 256 - 128 AS BIGINT)"
)

CLASSIFIER_ORACLE = f"""
WITH weights AS (
    SELECT CAST(i AS BIGINT) AS bucket, {_W_DUCK} AS w
    FROM (SELECT unnest(range({_CLF_BUCKETS})) AS i)
), tok AS (
    SELECT doc_id, source, unnest(string_split(text, ' ')) AS t
    FROM documents
), feat AS (
    SELECT doc_id, source,
           CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % {_CLF_BUCKETS} AS bucket
    FROM tok
), scored AS (
    SELECT f.doc_id, f.source,
           SUM(w.w) AS w_sum, COUNT(*) AS n_tok
    FROM feat f JOIN weights w USING (bucket)
    GROUP BY f.doc_id, f.source
)
SELECT doc_id, source,
       CAST(n_tok AS BIGINT) AS n_tokens,
       ROUND(CAST(w_sum AS DOUBLE) / (128.0 * n_tok), 6) AS clf_margin,
       ROUND(1.0 / (1.0 + exp(-{_CLF_SCALE} * (CAST(w_sum AS DOUBLE) / (128.0 * n_tok)))), 6)
           AS clf_score,
       w_sum > 0 AS clf_keep
FROM scored
"""


def classifier_weights(spark: SparkSession) -> DataFrame:
    """The DEFAULT (bucket, w) weight table — stand-in for a trained
    fastText / logistic model's hashed weights. md5-derived so the
    oracle can rebuild it; a real model drops in by passing its
    exported (bucket, w) table as ``hash_classifier_frame``'s
    ``weights=`` argument (same schema, same broadcast join) or a
    parquet path through ``load_classifier_weights``."""
    return spark.range(_CLF_BUCKETS).select(
        F.col("id").alias("bucket"),
        (
            F.conv(F.substring(F.md5(F.concat(F.lit("w:"), F.col("id").cast("string"))), 1, 8), 16, 10)
            .cast("long")
            % 256
            - 128
        ).alias("w"),
    )


def load_classifier_weights(spark: SparkSession, path: str) -> DataFrame:
    """External-model front door: a trained model's exported (bucket,
    weight) table from parquet, validated against the scoring
    contract — ``bucket`` (long, the feature-hash slot) and ``w``
    (long, the integer-quantized weight; integer so Σ tf·w stays exact
    at any parallelism, the same reason the default model is integer).
    A fastText/logistic model lands here by hashing its vocabulary with
    the engine's token hash (first 8 md5 hex chars mod ``_CLF_BUCKETS``)
    and quantizing each dimension's weight — the standard
    hashing-trick export. The table is feature-hash-BOUNDED
    (≤ ``_CLF_BUCKETS`` rows) so it broadcasts at any corpus size."""
    w = spark.read.parquet(path)
    missing = {"bucket", "w"} - set(w.columns)
    if missing:
        raise ValueError(
            f"classifier weights at {path} missing columns {sorted(missing)}; "
            "expected (bucket long, w long)"
        )
    return w.select(F.col("bucket").cast("long"), F.col("w").cast("long"))


def hash_classifier_frame(
    tf: DataFrame,
    group_cols: tuple[str, ...] = ("doc_id",),
    weights: DataFrame | None = None,
) -> DataFrame:
    """Shared scoring core over a (…, tok, tf) doc-term frame — one
    implementation serving the batch query and the vocab-store head, so
    the two verdicts cannot drift. ``Σ tf·w`` equals the token-instance
    weight sum because every instance of a (doc, tok) pair hashes to
    the same bucket; both factors are integers, so the cross-row sum is
    exact on any engine and at any parallelism.

    ``weights`` is the model: any (bucket, w) DataFrame — a trained
    model's exported table (``load_classifier_weights``) or ``None``
    for the md5-derived oracle default. Swapping models changes ONLY
    the broadcast side; the corpus-side plan is identical, so a
    retrain re-scores the distinct-terms-sized frame without touching
    the scan or shuffle shape."""
    if weights is None:
        weights = classifier_weights(tf.sparkSession)
    feat = tf.withColumn(
        "bucket",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long") % _CLF_BUCKETS,
    )
    scored = (
        feat.join(F.broadcast(weights), "bucket")
        .groupBy(*group_cols)
        .agg(
            F.sum(F.col("tf") * F.col("w")).alias("w_sum"),
            F.sum("tf").alias("n_tok"),
        )
    )
    margin = F.col("w_sum").cast("double") / (128.0 * F.col("n_tok"))
    return scored.select(
        *group_cols,
        F.col("n_tok").cast("long").alias("n_tokens"),
        F.round(margin, 6).alias("clf_margin"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-_CLF_SCALE * margin)), 6).alias("clf_score"),
        (F.col("w_sum") > 0).alias("clf_keep"),
    )


@register(
    "doc_hash_classifier_score",
    oracle=CLASSIFIER_ORACLE,
    tags=("text", "quality", "classifier"),
)
def doc_hash_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed linear quality classifier over the token stream.

    The fastText-shaped scoring path (Joulin et al. 2016): doc-term
    counts (map-side-combined — the frame is distinct-terms-sized, not
    instance-sized), feature-hash each term into ``bucket =
    hash32(token) mod 256``, BROADCAST-join the (bucket, weight) model
    table, tf-weighted integer partial sums back to document grain,
    then one division + sigmoid for the margin/score. ``clf_keep``
    thresholds the EXACT integer sum (no float compare at the decision
    point).

    Scale shape: the explode is narrow, the model join is a broadcast
    hash join (a real 2M-bucket fastText table is ~16 MB — still
    broadcast territory), and the only exchanges are the doc-term
    combine and the doc-grain aggregate — rows ≈ documents, not tokens.
    A weight table too big to broadcast would switch to the size-gated
    shuffle-join form ``dedup_cascade_verify`` uses. The within-row
    alternative (weights as a formula via higher-order functions, zero
    join) exists but hides the real contract: model weights are DATA
    produced by training, so the join IS the operator. Scoring runs
    with zero text re-scans over the ingest-time vocab store via
    ``streaming/jobs.py::doc_hash_classifier_from_store`` — same
    ``hash_classifier_frame`` core.
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    tf = (
        docs.select("doc_id", "source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "source", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    out = hash_classifier_frame(tf, group_cols=("doc_id", "source"))
    return out.select(
        "doc_id", "source", "n_tokens", "clf_margin", "clf_score", "clf_keep"
    )


# --------------------------------------------------------- threshold sweep

_SWEEP_THRESHOLDS = (0.3, 0.4, 0.5, 0.6, 0.7)

SWEEP_ORACLE = f"""
WITH weights AS (
    SELECT CAST(i AS BIGINT) AS bucket, {_W_DUCK} AS w
    FROM (SELECT unnest(range({_CLF_BUCKETS})) AS i)
), tok AS (
    SELECT doc_id, source, unnest(string_split(text, ' ')) AS t
    FROM documents
), feat AS (
    SELECT doc_id, source,
           CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % {_CLF_BUCKETS} AS bucket
    FROM tok
), scored AS (
    SELECT f.doc_id, f.source,
           ROUND(1.0 / (1.0 + exp(-{_CLF_SCALE} *
               (CAST(SUM(w.w) AS DOUBLE) / (128.0 * COUNT(*))))), 6) AS clf_score
    FROM feat f JOIN weights w USING (bucket)
    GROUP BY f.doc_id, f.source
), sweep AS (
    SELECT source, CAST(t.threshold AS DOUBLE) AS threshold, clf_score
    FROM scored, unnest([{", ".join(str(t) for t in _SWEEP_THRESHOLDS)}]) AS t(threshold)
)
SELECT source, threshold,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN clf_score >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       ROUND(SUM(CASE WHEN clf_score >= threshold THEN 1.0 ELSE 0.0 END) / COUNT(*), 6)
           AS keep_rate
FROM sweep
GROUP BY source, threshold
"""


@register(
    "quality_threshold_sweep",
    oracle=SWEEP_ORACLE,
    tags=("text", "quality", "classifier", "report", "unbenched"),
    past_window=True,
)
def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-threshold calibration grid: per (source, threshold),
    how many documents the quality gate would keep.

    The report a curation run reads BEFORE picking its cut — a
    threshold that keeps 90% of one source and 5% of another reshapes
    the mixture silently, so keep-rates are surfaced per source across
    the candidate grid. The grid rides a narrow ``explode`` of a
    5-element literal array (no join of any kind — each scored doc row
    fans out to |grid| rows in place), and the aggregate is one
    map-side-combined groupBy on (source, threshold), output bounded by
    |sources| × |grid|. The compare runs on the ROUNDED score — the
    same value the oracle hashes — so verdict flips at a boundary are
    engine-identical. Upstream is the shared ``hash_classifier_frame``
    core; at 100 TB the sweep adds one narrow stage to the scoring scan
    it already pays.
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    tf = (
        docs.select("doc_id", "source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "source", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = hash_classifier_frame(tf, group_cols=("doc_id", "source"))
    return quality_sweep_frame(scored)


def quality_sweep_frame(scored: DataFrame) -> DataFrame:
    """Threshold-grid core over any scored (…, source, clf_score) frame
    — shared by the registered sweep and the external-model path
    (``hash_classifier_frame(…, weights=<trained table>)`` feeds the
    identical calibration report), so the md5-default and a real
    trained model sweep through one implementation."""
    grid = F.array(*[F.lit(float(t)) for t in _SWEEP_THRESHOLDS])
    return (
        scored.select(
            "source", "clf_score", F.explode(grid).alias("threshold")
        )
        .groupBy("source", "threshold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("clf_score") >= F.col("threshold")).cast("long")).alias(
                "n_keep"
            ),
            F.round(
                F.sum((F.col("clf_score") >= F.col("threshold")).cast("double"))
                / F.count(F.lit(1)),
                6,
            ).alias("keep_rate"),
        )
    )
