"""Corpus-curation operators for large-scale training-data pipelines.

Beyond the reference's surface (SURVEY §2.7 lists only basic string/date
functions): the filtering / splitting / decontamination stages a 100 TB
document pipeline runs between ingestion and tokenization. Everything
here is either a pure map stage over the parquet scan (repetition stats,
cleaning, PII scrub, split assignment — shuffle-free, whole-stage
codegen) or an explicitly shuffle-bounded aggregation (top-token,
quantiles, contamination semi-join with a broadcast benchmark side).

Cross-engine parity notes baked into every oracle:

- DuckDB ``regexp_replace`` replaces the FIRST match unless the ``'g'``
  flag is passed; Spark replaces all — every oracle passes ``'g'``.
- Patterns avoid backslash escapes (``[.]`` not ``\\.``) so Java regex
  (Spark) and RE2 (DuckDB) parse them identically.
- Hash-based bucketing reuses the md5-prefix→integer trick from
  ``functions/dedup.py``: md5 is the one hash both engines compute
  identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_flink_parent_spark.functions.stopwords import _STOP_SQL, STOPWORDS
from gmall_flink_parent_spark.registry import register, scoped_persist
from gmall_flink_parent_spark.sources.tables import fan_out, load_table

# ------------------------------------------------------------ repetition

REPETITION_ORACLE = """
WITH t AS (
    SELECT doc_id,
           string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n
    FROM documents
), g AS (
    SELECT doc_id, n,
           1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / n AS r1,
           CASE WHEN n >= 2 THEN list_distinct(list_transform(
               range(1, greatest(n, 1)),
               i -> concat_ws(' ', toks[i], toks[i + 1]))) ELSE [] END AS g2,
           CASE WHEN n >= 3 THEN list_distinct(list_transform(
               range(1, greatest(n - 1, 1)),
               i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))) ELSE [] END AS g3
    FROM t
)
SELECT doc_id,
       ROUND(r1, 6) AS dup_token_ratio,
       ROUND(CASE WHEN n >= 2
                  THEN 1.0 - CAST(len(g2) AS DOUBLE) / (n - 1) ELSE 0.0 END,
             6) AS dup_2gram_ratio,
       ROUND(CASE WHEN n >= 3
                  THEN 1.0 - CAST(len(g3) AS DOUBLE) / (n - 2) ELSE 0.0 END,
             6) AS dup_3gram_ratio
FROM g
"""


def _ngrams(toks: Column, n_col: Column, n: int) -> Column:
    """Distinct word n-grams as a JVM-side higher-order expression."""
    grams = F.transform(
        F.sequence(F.lit(1), n_col - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + k) for k in range(n)]
        ),
    )
    return F.array_distinct(
        F.when(n_col >= n, grams).otherwise(F.array().cast("array<string>"))
    )


# ------------------------------------------------------------- top token

TOP_TOKEN_ORACLE = """
WITH e AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), c AS (
    SELECT doc_id, tok, count(*) AS cnt FROM e GROUP BY doc_id, tok
), r AS (
    SELECT doc_id, tok, cnt,
           row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, tok) AS rn,
           sum(cnt) OVER (PARTITION BY doc_id) AS n_tokens
    FROM c
)
SELECT doc_id,
       tok AS top_token,
       CAST(cnt AS BIGINT) AS top_count,
       ROUND(CAST(cnt AS DOUBLE) / n_tokens, 6) AS top_token_ratio
FROM r WHERE rn = 1
"""


# rotated OUT of the driver window in round 9 (chunk_bm25_multiquery took the slot)
@register("doc_top_token", oracle=TOP_TOKEN_ORACLE, tags=("text", "quality"), past_window=True)
def doc_top_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent token per document and its frequency ratio.

    The distributed shape (explode → partial-agg groupBy → per-doc
    window) is the 100 TB path: token counting gets map-side combine, and
    the window partitions by doc_id so no single reducer sees more than
    one document's vocabulary. Deterministic tie-break (count desc, token
    asc) keeps the result engine-independent.
    """
    docs = load_table(spark, sf_dir, "documents")
    e = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    c = e.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("doc_id")
    r = c.select(
        "doc_id",
        "tok",
        "cnt",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("tok")))
        .alias("rn"),
        F.sum("cnt").over(w).alias("n_tokens"),
    )
    return r.filter(F.col("rn") == 1).select(
        "doc_id",
        F.col("tok").alias("top_token"),
        F.col("cnt").alias("top_count"),
        F.round(F.col("cnt").cast("double") / F.col("n_tokens"), 6).alias(
            "top_token_ratio"
        ),
    )


# ------------------------------------------------------------- cleaning

CLEAN_ORACLE = """
SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               '  +', ' ', 'g'))) AS clean_fp,
       CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                       '  +', ' ', 'g'))) AS BIGINT) AS n_clean_chars
FROM documents
"""


# rotated out of the driver window in round 12 (long-green since r1;
# doc_text_profile + pii_scrub keep the text-clean family in-window)
@register(
    "doc_clean_normalize",
    oracle=CLEAN_ORACLE,
    tags=("text", "clean"),
    past_window=True,
)
def doc_clean_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization pass: lowercase → strip non-alphanumerics → collapse
    whitespace → trim; emits the cleaned-text fingerprint and length.

    The canonicalization that feeds exact dedup and tokenization. Pure
    regex/codegen map stage; the fingerprint (rather than the full
    cleaned text) keeps the output narrow, and value-hash comparison
    against the oracle pins byte-exact regex parity between engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), "  +", " "
        )
    )
    return docs.select(
        "doc_id",
        F.md5(cleaned).alias("clean_fp"),
        F.length(cleaned).cast("long").alias("n_clean_chars"),
    )


# ------------------------------------------------------------- PII scrub

# Patterns avoid backslashes so Java regex and RE2 agree: [.] not \\.
_EMAIL_PAT = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+"
_NUM_PAT = "[0-9]+"

PII_SCRUB_ORACLE = f"""
SELECT event_id,
       CAST(len(regexp_extract_all(props, '{_NUM_PAT}')) AS BIGINT) AS n_num_redactions,
       CAST(len(regexp_extract_all(props, '{_EMAIL_PAT}')) AS BIGINT) AS n_email_redactions,
       regexp_replace(regexp_replace(props, '{_EMAIL_PAT}', '[EMAIL]', 'g'),
                      '{_NUM_PAT}', '[NUM]', 'g') AS scrubbed
FROM events
"""


@register("pii_scrub", oracle=PII_SCRUB_ORACLE, tags=("text", "clean", "pii"))
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over semi-structured payloads: emails and number
    runs replaced with typed placeholders, with per-row redaction counts.

    Runs on ``events.props`` (the JSON payload column) where numeric
    identifiers actually occur. Order matters — emails first, so digits
    inside an address aren't half-redacted by the number pass. Per-row
    regex, shuffle-free; at 100 TB this fuses into the scan like the
    cleaning pass. Real deployments add SSN/phone/credit-card patterns
    to the same chain.
    """
    events = load_table(spark, sf_dir, "events")
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("props"), _EMAIL_PAT, "[EMAIL]"), _NUM_PAT, "[NUM]"
    )
    return events.select(
        "event_id",
        F.size(F.expr(f"regexp_extract_all(props, '{_NUM_PAT}', 0)"))
        .cast("long")
        .alias("n_num_redactions"),
        F.size(F.expr(f"regexp_extract_all(props, '{_EMAIL_PAT}', 0)"))
        .cast("long")
        .alias("n_email_redactions"),
        scrubbed.alias("scrubbed"),
    )


# ---------------------------------------------------------- sample/split

SAMPLE_SPLIT_ORACLE = """
WITH b AS (
    SELECT doc_id,
           CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                % 100 AS INTEGER) AS bucket
    FROM documents
)
SELECT doc_id, bucket,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       bucket < 10 AS in_10pct_sample
FROM b
"""


# rotated OUT of the driver window in round 9 (retention_cohorts took the slot)
@register("doc_sample_split", oracle=SAMPLE_SPLIT_ORACLE, tags=("text", "sampling"), past_window=True)
def doc_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment + 10% sample flag via
    content-stable hash bucketing (md5(doc_id) → bucket ∈ [0,100)).

    Hash-based splits are the only splits that survive reprocessing at
    100 TB: no RNG state, no ordering dependence — a doc lands in the
    same split on every run, on any cluster, under any partitioning.
    ``rand(seed)`` cannot promise that across engines or repartitions;
    the md5 trick (shared with the MinHash pipeline) can.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    ).cast("int")
    b = docs.select("doc_id", bucket.alias("bucket"))
    return b.select(
        "doc_id",
        "bucket",
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "val")
        .otherwise("test")
        .alias("split"),
        (F.col("bucket") < 10).alias("in_10pct_sample"),
    )


# ------------------------------------------------------------- quantiles

LENGTH_QUANTILES_ORACLE = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       ROUND(quantile_cont(n, 0.5), 6) AS p50_tokens,
       ROUND(quantile_cont(n, 0.9), 6) AS p90_tokens,
       ROUND(quantile_cont(n, 0.99), 6) AS p99_tokens,
       ROUND(avg(n), 6) AS avg_tokens
FROM (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents)
GROUP BY source
"""


# rotated OUT of the driver window in round 9 (corpus_expectations took the slot)
@register("doc_length_quantiles", oracle=LENGTH_QUANTILES_ORACLE, tags=("text", "stats"), past_window=True)
def doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-length distribution: exact p50/p90/p99 + mean.

    The length histogram that drives truncation and packing decisions.
    Exact ``percentile`` (linear interpolation, same definition as
    DuckDB's ``quantile_cont``) — one shuffle on the low-cardinality
    source key. At 100 TB swap in ``approx_percentile`` for a
    sketch-mergeable single-pass version; the query shape is unchanged.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(F.split("text", " ")).cast("long")
    return (
        docs.select("source", n.alias("n"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.percentile("n", F.lit(0.5)), 6).alias("p50_tokens"),
            F.round(F.percentile("n", F.lit(0.9)), 6).alias("p90_tokens"),
            F.round(F.percentile("n", F.lit(0.99)), 6).alias("p99_tokens"),
            F.round(F.avg("n"), 6).alias("avg_tokens"),
        )
    )


@register("doc_length_quantiles_approx", oracle=None, tags=("text", "stats", "approx", "unbenched"))
def doc_length_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ``doc_length_quantiles``: ``approx_percentile``
    (Greenwald–Khanna sketch, rel. error ≤ 1/accuracy) in the same
    single-shuffle plan shape.

    The sketch is MERGEABLE — partial sketches combine map-side exactly
    like partial sums, so the shuffle carries one bounded-size sketch
    per (source, partition) instead of every length value; that is the
    difference between this plan and the exact one at corpus scale.
    Rows-only by design: DuckDB's approx_quantile uses a different
    sketch, so there is no hash oracle — the invariant test bounds it
    against the exact query instead (``tests/test_operators.py``).
    """
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(F.split("text", " ")).cast("long")
    acc = F.lit(10000)  # rel. error <= 1e-4 of the rank
    return (
        docs.select("source", n.alias("n"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.approx_percentile("n", F.lit(0.5), acc).alias("p50_tokens"),
            F.approx_percentile("n", F.lit(0.9), acc).alias("p90_tokens"),
            F.approx_percentile("n", F.lit(0.99), acc).alias("p99_tokens"),
            F.round(F.avg("n"), 6).alias("avg_tokens"),
        )
    )


# ------------------------------------------------------ filter pipeline

# Thresholds sit at discriminative points of the corpus distributions
# (quality ≈ median, dup-2-gram ≈ p80) so the verdict actually splits
# the corpus rather than rubber-stamping it.
_MIN_QUALITY = 0.35
_MAX_DUP2 = 0.05
_MIN_TOKENS, _MAX_TOKENS = 10, 1000

FILTER_PIPELINE_ORACLE = f"""
WITH sig AS (
    SELECT doc_id,
           md5(lower(trim(text))) AS fp,
           len(string_split(text, ' ')) AS n,
           string_split(text, ' ') AS toks
    FROM documents
), flags AS (
    SELECT doc_id, fp,
           ROUND(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / n, 6)
               AS dup_token_ratio,
           ROUND(CASE WHEN n >= 2 THEN 1.0 - CAST(len(list_distinct(list_transform(
                range(1, greatest(n, 1)),
                i -> concat_ws(' ', toks[i], toks[i + 1])))) AS DOUBLE) / (n - 1)
                ELSE 0.0 END, 6) AS dup_2gram_ratio,
           ROUND(CASE WHEN n >= 3 THEN 1.0 - CAST(len(list_distinct(list_transform(
                range(1, greatest(n - 1, 1)),
                i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])))) AS DOUBLE)
                / (n - 2) ELSE 0.0 END, 6) AS dup_3gram_ratio,
           ROUND(
             0.4 * least(n, 200) / 200.0
           + 0.3 * least(CAST(len(list_distinct(toks)) AS DOUBLE) / n, 1.0)
           + 0.3 * least(CAST(len(list_filter(toks, t -> t IN ({{stop}}))) AS DOUBLE)
                         / n * 5.0, 1.0)
           , 6) >= {_MIN_QUALITY} AS pass_quality,
           (CASE WHEN n >= 2 THEN 1.0 - CAST(len(list_distinct(list_transform(
                range(1, greatest(n, 1)),
                i -> concat_ws(' ', toks[i], toks[i + 1])))) AS DOUBLE) / (n - 1)
                ELSE 0.0 END) <= {_MAX_DUP2} AS pass_repetition,
           n BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS} AS pass_length
    FROM sig
), keepers AS (
    SELECT fp, min(doc_id) AS keeper FROM sig GROUP BY fp
)
SELECT f.doc_id,
       f.dup_token_ratio, f.dup_2gram_ratio, f.dup_3gram_ratio,
       f.pass_quality, f.pass_repetition, f.pass_length,
       f.doc_id = k.keeper AS is_canonical,
       (f.pass_quality AND f.pass_repetition AND f.pass_length
        AND f.doc_id = k.keeper) AS keep
FROM flags f JOIN keepers k USING (fp)
"""


@register(
    "corpus_filter_pipeline",
    oracle=FILTER_PIPELINE_ORACLE.format(stop=_STOP_SQL),
    tags=("text", "quality", "pipeline"),
)
def corpus_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation verdict: Gopher-style repetition signals +
    quality ∧ repetition ∧ length ∧ exact-dup canonicality per document,
    one scan + one shuffle.

    The end-to-end decision a training-data pipeline actually executes,
    with the raw repetition ratios (duplicate token / 2-gram / 3-gram
    fractions) emitted alongside the boolean verdicts so downstream
    threshold tuning needs no second scan. Every per-row signal
    (repetition ratios, quality score, token count, fingerprint) is
    computed in a single projection over one scan; the only wide op is
    the fingerprint groupBy that elects the canonical copy — at 100 TB
    that shuffle carries (128-bit key, min-id), nothing else.
    Re-deriving the signals inline rather than joining the individual
    signal queries keeps it at 1 corpus scan instead of 5.
    """
    # fan_out: the 2-/3-gram construction per row is the CPU-dominant
    # stage — don't let a single-split scan pin it to one task.
    return corpus_filter_frame(fan_out(spark, load_table(spark, sf_dir, "documents")))


def corpus_filter_frame(docs: DataFrame) -> DataFrame:
    """Frame-level core of ``corpus_filter_pipeline`` — shared with
    ``pipeline.build_pretraining_dataset`` so a JSONL-ingested corpus
    (``sources/documents.py``) runs the identical verdict the parquet
    query is oracle-checked against. Split as facts → election:
    ``filter_flags_frame`` computes the per-doc signals (the stable
    facts an ingest store lands batch-by-batch), ``filter_verdict_frame``
    runs the corpus-wide canonical election on top (the moving verdict
    a store head re-derives per run)."""
    return filter_verdict_frame(filter_flags_frame(docs))


def filter_flags_frame(docs: DataFrame) -> DataFrame:
    """Per-document facts of the curation verdict: exact-dup
    fingerprint, repetition ratios, and the quality/repetition/length
    pass flags — everything that depends ONLY on the document's own
    text, hence per-doc independent (accumulation over any ingest
    split ≡ one-shot computation; Hypothesis-pinned). What it does NOT
    contain is ``is_canonical``/``keep``: the canonical-copy election
    compares fingerprints ACROSS the corpus and legitimately changes
    as the corpus grows, so it belongs to ``filter_verdict_frame``."""
    toks = F.split(F.col("text"), " ")
    sig = docs.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
        toks.alias("toks"),
        F.size(toks).alias("n"),
    )
    n = F.col("n")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    quality = F.round(
        F.lit(0.4) * F.least(n, F.lit(200)) / F.lit(200.0)
        + F.lit(0.3)
        * F.least(F.size(F.array_distinct("toks")).cast("double") / n, F.lit(1.0))
        + F.lit(0.3)
        * F.least(
            F.size(F.filter("toks", lambda t: F.array_contains(stop_arr, t))).cast(
                "double"
            )
            / n
            * 5.0,
            F.lit(1.0),
        ),
        6,
    )
    r1 = F.lit(1.0) - F.size(F.array_distinct("toks")).cast("double") / n
    dup2 = F.when(
        n >= 2,
        F.lit(1.0) - F.size(_ngrams(F.col("toks"), n, 2)).cast("double") / (n - 1),
    ).otherwise(0.0)
    dup3 = F.when(
        n >= 3,
        F.lit(1.0) - F.size(_ngrams(F.col("toks"), n, 3)).cast("double") / (n - 2),
    ).otherwise(0.0)
    return sig.select(
        "doc_id",
        "fp",
        F.round(r1, 6).alias("dup_token_ratio"),
        F.round(dup2, 6).alias("dup_2gram_ratio"),
        F.round(dup3, 6).alias("dup_3gram_ratio"),
        (quality >= _MIN_QUALITY).alias("pass_quality"),
        (dup2 <= _MAX_DUP2).alias("pass_repetition"),
        n.between(_MIN_TOKENS, _MAX_TOKENS).alias("pass_length"),
    )


def filter_verdict_frame(flags: DataFrame) -> DataFrame:
    """Corpus-wide close of the curation verdict over a
    ``filter_flags_frame``-shaped frame: elect each fingerprint's
    canonical copy (min doc_id — the one wide op, a (128-bit key,
    min-id) shuffle) and conjoin it with the stored pass flags into
    ``keep``. Shared by the batch ``corpus_filter_pipeline`` and the
    filter-store head (``streaming/jobs.py::corpus_filter_from_store``),
    so one-shot and ingest-store verdicts cannot drift."""
    keepers = flags.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    j = flags.join(keepers, "fp")
    is_canon = F.col("doc_id") == F.col("keeper")
    return j.select(
        "doc_id",
        "dup_token_ratio",
        "dup_2gram_ratio",
        "dup_3gram_ratio",
        "pass_quality",
        "pass_repetition",
        "pass_length",
        is_canon.alias("is_canonical"),
        (
            F.col("pass_quality")
            & F.col("pass_repetition")
            & F.col("pass_length")
            & is_canon
        ).alias("keep"),
    )


# ----------------------------------------------------- corpus reporting

VOCAB_TOPK = 50

VOCAB_ORACLE = f"""
SELECT tok, n_occurrences, n_docs, rnk
FROM (
    SELECT tok,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           row_number() OVER (ORDER BY count(*) DESC, tok) AS rnk
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
)
WHERE rnk <= {VOCAB_TOPK}
"""


# rotated OUT of the driver window in round 9 (contamination_bloom took the slot)
@register("vocab_top_tokens", oracle=VOCAB_ORACLE, tags=("text", "stats"), past_window=True)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: global top-50 tokens by occurrence.

    The canonical wordcount shape at 100 TB: explode → partial count
    map-side (the combine absorbs Zipf skew — hot tokens reduce to one
    row per task before the shuffle) → final count → ``orderBy().
    limit(k)``, which Catalyst compiles to **TakeOrderedAndProject**:
    every partition keeps a k-row heap and only those heads merge — no
    global sort, no single-partition WindowExec, the vocabulary never
    moves. Rank numbers for the 50 survivors come from a 50×50
    count-rows-before self-join (constant-sized by construction).
    Deterministic tie-break (count desc, token asc) makes the order
    total, so the rank equals row_number.
    """
    docs = load_table(spark, sf_dir, "documents")
    e = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    counts = e.groupBy("tok").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    top = counts.orderBy(F.desc("n_occurrences"), F.asc("tok")).limit(VOCAB_TOPK)
    x, y = top.alias("x"), top.alias("y")
    before = (F.col("y.n_occurrences") > F.col("x.n_occurrences")) | (
        (F.col("y.n_occurrences") == F.col("x.n_occurrences"))
        & (F.col("y.tok") < F.col("x.tok"))
    )
    return (
        x.join(y, before, "left")
        .groupBy("x.tok", "x.n_occurrences", "x.n_docs")
        .agg((F.count("y.tok") + 1).cast("int").alias("rnk"))
        .select("tok", "n_occurrences", "n_docs", "rnk")
    )


CORPUS_SUMMARY_ORACLE = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       ROUND(avg(len(string_split(text, ' '))), 6) AS avg_tokens
FROM documents
GROUP BY lang
"""


def corpus_token_projection(docs: DataFrame) -> DataFrame:
    """The (lang, source, n_chars, n_tokens) map-stage projection under
    ``corpus_summary_partials`` — one definition of "a token"."""
    n = F.size(F.split("text", " "))
    return docs.select("lang", "source", "n_chars", n.alias("n_tokens"))


# rotated OUT of the driver window in round 9 (part_pagerank took the slot)
@register("corpus_summary", oracle=CORPUS_SUMMARY_ORACLE, tags=("text", "stats"), past_window=True)
def corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language dataset-card statistics: doc/source/token/char totals.

    The reporting rollup every curated corpus ships with. One partial-
    aggregated shuffle on the language key (single digits of groups);
    token counting stays a per-row array expression in the map stage.
    """
    docs = load_table(spark, sf_dir, "documents")
    return corpus_summary_merge(corpus_summary_partials(docs))


def corpus_summary_partials(docs: DataFrame) -> DataFrame:
    """(lang, source) partials: doc count, token sum and char sum. The
    answer is per language, but ``countDistinct(source)`` does not merge
    from per-language partials, so the partials keep the finer (lang,
    source) grain, where every measure is a plain sum and the distinct
    source count falls out of the key set. The rows
    ``corpus_summary_job`` lands per micro-batch."""
    return (
        corpus_token_projection(docs)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_part"),
            F.sum("n_tokens").cast("long").alias("tokens_part"),
            F.sum("n_chars").cast("long").alias("chars_part"),
        )
    )


def corpus_summary_merge(partials: DataFrame) -> DataFrame:
    """Merge ``corpus_summary_partials`` rows per language. The avg is
    long sum / long count as double, which is Spark's integral
    ``avg`` exactly."""
    return partials.groupBy("lang").agg(
        F.sum("n_docs_part").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("tokens_part").alias("total_tokens"),
        F.sum("chars_part").alias("total_chars"),
        F.round(F.sum("tokens_part") / F.sum("n_docs_part"), 6).alias("avg_tokens"),
    )


# ----------------------------------------------------- sequence packing

_PACK_CAP = 2048  # tokens per packed training sequence

PACK_BINS_ORACLE = f"""
WITH t AS (
    SELECT doc_id, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
), c AS (
    SELECT doc_id, source, n_tokens,
           COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
    FROM t
)
SELECT doc_id, source, n_tokens,
       CAST(cum_before // {_PACK_CAP} AS BIGINT) AS seq_id,
       CAST(cum_before % {_PACK_CAP} AS BIGINT) AS seq_offset
FROM c
"""


@register("doc_pack_bins", oracle=PACK_BINS_ORACLE, tags=("text", "packing"))
def doc_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: assign each doc a target
    training sequence (cap 2048 tokens) and its token offset.

    GPT-style pretraining packs documents by concatenation into
    fixed-length sequences; the assignment is a running token sum per
    shard (source) — one window pass, deterministic under any cluster
    partitioning because the order key (source, doc_id) is total. At
    100 TB each shard's prefix sum is independent, so shards scale out
    embarrassingly; no global coordination, unlike RNG-based shuffling.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(F.split("text", " ")).cast("long")
    t = docs.select("doc_id", "source", n.alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.select(
        "doc_id",
        "source",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("cum_before"),
    )
    return c.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(F.col("cum_before") / _PACK_CAP).cast("long").alias("seq_id"),
        (F.col("cum_before") % _PACK_CAP).cast("long").alias("seq_offset"),
    )


# -------------------------------------------------------- contamination

_CONTAM_N = 4  # word-4-grams: discriminative but not vanishing at small SF
_BENCH_MOD = 97  # benchmark set = docs with doc_id % 97 == 0

CONTAMINATION_ORACLE = f"""
WITH sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - {_CONTAM_N - 2}, 1)),
               i -> concat_ws(' ', string_split(text, ' ')[i],
                              string_split(text, ' ')[i + 1],
                              string_split(text, ' ')[i + 2],
                              string_split(text, ' ')[i + 3])))) AS g
    FROM documents
), bench AS (
    SELECT DISTINCT g FROM sh WHERE doc_id % {_BENCH_MOD} = 0
)
SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated_ngrams
FROM sh s JOIN bench USING (g)
WHERE s.doc_id % {_BENCH_MOD} <> 0
GROUP BY s.doc_id
"""


def contamination_shingles(docs: DataFrame) -> DataFrame:
    """Distinct word-{_CONTAM_N}-gram shingles per document — the shared
    core of batch ``contamination_4gram`` and the streaming
    ``contamination_job`` (one construction, so batch and stream cannot
    drift). Input needs (doc_id, text); output is (doc_id, g).

    The token array is materialized in its own projection BEFORE
    building shingles: inlining split(text) into the transform lambda
    would re-split the document once per element_at (~5× per gram) — a
    10× scan-stage slowdown observed at sf0.1.
    """
    t = docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    grams = _ngrams(F.col("toks"), F.size("toks"), _CONTAM_N)
    return t.select("doc_id", F.explode(grams).alias("g"))


def contamination_counts(sh: DataFrame, bench: DataFrame) -> DataFrame:
    """Per-doc contaminated-shingle counts: broadcast the (tiny)
    benchmark shingle set, hash-join at scan speed, one per-doc agg —
    shared by the batch query and the streaming job."""
    return (
        sh.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"))
    )


@register("contamination_4gram", oracle=CONTAMINATION_ORACLE, tags=("text", "decontam"))
def contamination_4gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    4-gram with the held-out benchmark set, with overlap counts.

    The standard eval-set leakage check. Shape: shingle both sides →
    **broadcast** the benchmark shingle set (benchmarks are tiny — MMLU
    et al. are megabytes against 100 TB of training data) → hash
    semi-join at scan speed, then a groupBy on doc_id for the counts.
    No shuffle of the corpus-side shingles beyond the final per-doc agg.
    The benchmark here is a deterministic slice (doc_id % {_BENCH_MOD} == 0)
    of the same table, standing in for an external eval corpus.
    """
    # fan_out: shingle construction + explode is the CPU-dominant stage.
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    sh = contamination_shingles(docs)
    bench = sh.filter(F.col("doc_id") % _BENCH_MOD == 0).select("g").distinct()
    return contamination_counts(sh.filter(F.col("doc_id") % _BENCH_MOD != 0), bench)




# ------------------------------------------------- unigram LM scoring

UNIGRAM_ORACLE = """
WITH e AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), vocab AS (
    SELECT tok, CAST(count(*) AS DOUBLE) AS cnt FROM e GROUP BY tok
), tot AS (
    SELECT SUM(cnt) AS total FROM vocab
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       ROUND(-SUM(log2(v.cnt / t.total)) / count(*), 6) AS bits_per_token
FROM e JOIN vocab v USING (tok) CROSS JOIN tot t
GROUP BY doc_id
"""


def doc_term_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, tok, tf) doc-term counts — the unigram feature-store
    grain. Per-doc independent AND mergeable (a doc's rows land whole
    in whichever ingest batch carries the doc; corpus vocabulary counts
    are sums of stored tf), so this one frame serves both run-once-at-
    ingest accumulation (``vocab_store_job``) and the one-shot batch
    query through the same scoring core. Map-side combine collapses
    repeated tokens before the (doc_id, tok) shuffle — the frame is
    distinct-terms-sized, smaller than the token-instance explode it
    replaces."""
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def unigram_logprob_frame(tf: DataFrame) -> DataFrame:
    """Corpus unigram probabilities + per-doc cross-entropy over a
    (doc_id, tok, tf) doc-term frame — the shared core of the batch
    ``doc_unigram_logprob`` and the store head
    ``doc_unigram_logprob_from_store`` (one scoring implementation, so
    batch and store verdicts cannot drift). Callers persist ``tf``
    when it is not already materialized: both the vocab agg and the
    prob join read it.

    tf-weighted sums are exact: n_tokens = Σ tf, and the instance-level
    Σ log2(p) equals Σ tf·log2(p) because every instance of a (doc,
    tok) pair contributes the same log-probability.
    """
    vocab = tf.groupBy("tok").agg(F.sum("tf").cast("double").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    p = F.col("cnt") / F.col("total")
    probs = vocab.crossJoin(F.broadcast(total)).select("tok", p.alias("p"))
    return (
        tf.join(probs, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(
                -F.sum(F.col("tf") * F.log2("p")) / F.sum("tf"), 6
            ).alias("bits_per_token"),
        )
    )


@register(
    "doc_unigram_logprob",
    oracle=UNIGRAM_ORACLE,
    tags=("text", "quality", "lm", "unbenched"),
    past_window=True,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM cross-entropy per document (bits/token) — the
    perplexity-proxy quality signal of CCNet-style filtering: documents
    whose tokens are improbable under the corpus unigram distribution
    (gibberish, wrong-language, boilerplate-free spam) score high and
    get filtered or bucketed.

    Exact form: token probabilities from the full corpus vocabulary
    (count/total), per-doc tf-weighted mean negative log2 over the
    shared ``doc_term_counts`` → ``unigram_logprob_frame`` core (the
    same two stages ``vocab_store_job`` + its store head run, so batch
    and store cannot drift) — two map-side-combined shuffles (doc-term
    counts, vocab counts) plus the token-keyed prob join carrying
    distinct (doc, tok) rows rather than token instances. The
    corpus-total scalar rides a 1-row broadcast (constant side, the
    allowlisted BNLJ shape). At 100 TB the exact prob join keys on the
    full vocabulary; the scale variant broadcasts the top-V head of
    the (Zipfian) vocab with one OOV fallback probability — same plan
    with the join replaced by a broadcast lookup, trading tail-token
    exactness for zero vocab shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    # persisted (query-scoped): the vocab agg and the prob join both
    # read the doc-term frame — without it the explode+count runs twice
    return unigram_logprob_frame(scoped_persist(doc_term_counts(docs)))


_TOPV = 24  # broadcast vocabulary head size for the scale variant; the
# synthetic corpus has a 31-token vocabulary, so 24 leaves a real tail —
# both the head (byte-identical) and OOV paths execute at every SF


TOPV_LOGPROB_ORACLE = f"""
WITH e AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), vocab AS (
    SELECT tok, CAST(count(*) AS DOUBLE) AS cnt FROM e GROUP BY tok
), head AS (
    SELECT tok, cnt FROM vocab ORDER BY cnt DESC, tok ASC LIMIT {_TOPV}
), totals AS (
    SELECT SUM(cnt) AS total, CAST(count(*) AS DOUBLE) AS n_vocab FROM vocab
), ht AS (
    SELECT SUM(cnt) AS head_mass, CAST(count(*) AS DOUBLE) AS n_head FROM head
), stats AS (
    SELECT total, head_mass, n_vocab - n_head AS n_tail FROM totals, ht
), scored AS (
    SELECT e.doc_id,
           COALESCE(h.cnt / s.total,
                    (s.total - s.head_mass) / s.total
                        / GREATEST(s.n_tail, 1.0)) AS p
    FROM e LEFT JOIN head h USING (tok) CROSS JOIN stats s
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       ROUND(-SUM(log2(p)) / count(*), 6) AS bits_per_token
FROM scored GROUP BY doc_id
"""


@register(
    "doc_unigram_logprob_topv",
    # the top-V pick (count desc, token asc — deterministic) and the
    # shared-OOV-mass formula are exact functions of the corpus, so the
    # APPROXIMATION ITSELF has an exact SQL twin (round-11 upgrade from
    # rows-only); its deviation vs doc_unigram_logprob stays bounded in
    # tests
    oracle=TOPV_LOGPROB_ORACLE,
    tags=("text", "quality", "lm", "approx", "unbenched"),
    past_window=True,
)
def doc_unigram_logprob_topv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ``doc_unigram_logprob``: broadcast the top-V
    head of the (Zipfian) vocabulary and score tail tokens with one
    shared OOV probability (the remaining probability mass spread over
    the distinct tail tokens).

    Replaces the full-vocabulary shuffle join with a broadcast hash
    lookup: the corpus side is scored at scan speed, and the only
    full-data shuffle left is the per-doc agg. Head-token probabilities
    are IDENTICAL to the exact query's (count/total), so documents made
    of head tokens score byte-identically — pinned in tests, with a
    bounded deviation for tail-holding docs. Rows-only by design, like
    ``doc_length_quantiles_approx``.
    """
    docs = load_table(spark, sf_dir, "documents")
    e = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    # The vocab agg feeds both the head pick and the totals — persist it
    # (query-scoped) so the corpus explode+agg runs once, not per branch.
    vocab = scoped_persist(
        e.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    # Head via orderBy+limit = TakeOrderedAndProject (per-partition
    # partial top-V, NO single-reducer sort of the vocabulary — an
    # unpartitioned row_number window would plan Exchange
    # SinglePartition over every distinct token, exactly the
    # vocabulary-wide bottleneck this variant exists to avoid). Ties
    # break on token for determinism.
    head = vocab.orderBy(F.desc("cnt"), F.asc("tok")).limit(_TOPV)
    # Scalars from two tiny aggs (full-vocab totals; _TOPV-row head
    # totals); n_tail falls out as the difference.
    totals = vocab.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).cast("double").alias("n_vocab")
    )
    head_totals = head.agg(
        F.sum("cnt").alias("head_mass"),
        F.count(F.lit(1)).cast("double").alias("n_head"),
    )
    stats = totals.crossJoin(head_totals).select(
        "total", "head_mass", (F.col("n_vocab") - F.col("n_head")).alias("n_tail")
    )
    scored = (
        e.join(F.broadcast(head), "tok", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.coalesce(
                F.col("cnt") / F.col("total"),
                # OOV: leftover mass shared across the distinct tail
                (F.col("total") - F.col("head_mass"))
                / F.col("total")
                / F.greatest(F.col("n_tail"), F.lit(1.0)),
            ).alias("p"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(-F.sum(F.log2("p")) / F.count(F.lit(1)), 6).alias(
            "bits_per_token"
        ),
    )




# ------------------------------------------------- bigram LM scoring

BIGRAM_ORACLE = """
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), bg AS (
    SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
    FROM t, unnest(range(1, len(toks))) AS r(i)
), dtf AS (
    SELECT doc_id, bg, CAST(count(*) AS DOUBLE) AS tf FROM bg GROUP BY doc_id, bg
), c12 AS (
    SELECT bg, CAST(count(*) AS DOUBLE) AS c12 FROM bg GROUP BY bg
), c1 AS (
    SELECT string_split(bg, ' ')[1] AS w1, SUM(c12) AS c1 FROM c12 GROUP BY w1
), v AS (
    SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
), probs AS (
    SELECT c12.bg, (c12.c12 + 1.0) / (c1.c1 + v.v) AS p
    FROM c12 JOIN c1 ON string_split(c12.bg, ' ')[1] = c1.w1 CROSS JOIN v
)
SELECT dtf.doc_id,
       CAST(SUM(dtf.tf) AS BIGINT) AS n_bigrams,
       ROUND(-SUM(dtf.tf * log2(p.p)) / SUM(dtf.tf), 6) AS bits_per_bigram
FROM dtf JOIN probs p USING (bg)
GROUP BY dtf.doc_id
"""


@register(
    "doc_bigram_logprob",
    oracle=BIGRAM_ORACLE,
    tags=("text", "quality", "lm", "unbenched"),
    past_window=True,
)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM cross-entropy per document (bits/bigram, Laplace
    smoothing) — the context-aware step up from ``doc_unigram_logprob``:
    a document of individually-common tokens in improbable ORDER
    (shuffled text, keyword stuffing, word-salad spam) scores high here
    while the unigram head cannot see it.

    Model: ``p(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V)`` with corpus
    bigram counts, outgoing-unigram totals, and vocabulary size V.
    Plan: the bigram stream is built NARROWLY (``zip_with`` of the
    token array against its own shift — no positional self-join), then
    per-doc and corpus counts are two map-side-combined shuffles over
    distinct-bigram rows; the w1-total join is vocabulary-sized and the
    V scalar rides a 1-row broadcast. The scoring join keys on distinct
    (doc, bigram) pairs, not bigram instances — the same tf-weighting
    exactness argument as ``unigram_logprob_frame``. At 100 TB, the
    model tables are vocabulary²-bounded (≪ corpus) and every join is
    an equi-join.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bigrams = F.zip_with(
        F.expr("slice(toks, 1, size(toks) - 1)"),
        F.expr("slice(toks, 2, size(toks) - 1)"),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bg = scoped_persist(
        docs.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    c12 = bg.groupBy("bg").agg(F.sum("tf").alias("c12"))
    c1 = c12.groupBy(F.substring_index("bg", " ", 1).alias("w1")).agg(
        F.sum("c12").alias("c1")
    )
    v = (
        docs.select(F.explode(toks).alias("tok"))
        .agg(F.countDistinct("tok").cast("double").alias("v"))
    )
    probs = (
        c12.withColumn("w1", F.substring_index("bg", " ", 1))
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select("bg", ((F.col("c12") + 1.0) / (F.col("c1") + F.col("v"))).alias("p"))
    )
    return (
        bg.join(probs, "bg")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.round(-F.sum(F.col("tf") * F.log2("p")) / F.sum("tf"), 6).alias(
                "bits_per_bigram"
            ),
        )
    )


# -------------------------------------- trigram stupid-backoff scoring

_SB_ALPHA = 0.4  # stupid-backoff discount (Brants et al. 2007)
_SB_MODEL_MOD = 7  # model slice = docs with doc_id % 7 == 0

TRIGRAM_BACKOFF_ORACLE = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), tri AS (
    SELECT doc_id,
           concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]) AS tri,
           concat_ws(' ', toks[i], toks[i + 1]) AS pre,
           concat_ws(' ', toks[i + 1], toks[i + 2]) AS suf,
           toks[i + 2] AS w3
    FROM t, unnest(range(1, greatest(len(toks) - 1, 1))) AS r(i)
), bgs AS (
    SELECT doc_id, concat_ws(' ', toks[i], toks[i + 1]) AS bg
    FROM t, unnest(range(1, greatest(len(toks), 1))) AS r(i)
), dtf AS (
    SELECT doc_id, tri, pre, suf, w3, CAST(count(*) AS DOUBLE) AS tf
    FROM tri WHERE doc_id % {_SB_MODEL_MOD} <> 0
    GROUP BY doc_id, tri, pre, suf, w3
), mtri AS (
    SELECT tri, pre, CAST(count(*) AS DOUBLE) AS c123
    FROM tri WHERE doc_id % {_SB_MODEL_MOD} = 0 GROUP BY tri, pre
), mbg AS (
    SELECT bg, CAST(count(*) AS DOUBLE) AS c12
    FROM bgs WHERE doc_id % {_SB_MODEL_MOD} = 0 GROUP BY bg
), muni AS (
    SELECT tok, CAST(count(*) AS DOUBLE) AS c1
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    WHERE doc_id % {_SB_MODEL_MOD} = 0 GROUP BY tok
), n AS (
    SELECT SUM(c1) AS n FROM muni
), p3 AS (
    SELECT mtri.tri, mtri.c123 / mbg.c12 AS p3
    FROM mtri JOIN mbg ON mtri.pre = mbg.bg
), p2 AS (
    SELECT mbg.bg, mbg.c12 / muni.c1 AS p2
    FROM mbg JOIN muni ON string_split(mbg.bg, ' ')[1] = muni.tok
), p1 AS (
    SELECT tok, c1 / n.n AS p1 FROM muni CROSS JOIN n
)
SELECT d.doc_id,
       CAST(SUM(d.tf) AS BIGINT) AS n_trigrams,
       ROUND(-SUM(d.tf * log2(
           COALESCE(p3.p3, {_SB_ALPHA} * p2.p2,
                    {_SB_ALPHA * _SB_ALPHA} * COALESCE(p1.p1, 1.0 / n.n))
       )) / SUM(d.tf), 6) AS bits_per_trigram,
       ROUND(SUM(CASE WHEN p3.p3 IS NULL THEN d.tf ELSE 0 END) / SUM(d.tf), 6)
           AS backoff_frac
FROM dtf d
LEFT JOIN p3 USING (tri)
LEFT JOIN p2 ON d.suf = p2.bg
LEFT JOIN p1 ON d.w3 = p1.tok
CROSS JOIN n
GROUP BY d.doc_id
"""


def trigram_stream(docs: DataFrame) -> DataFrame:
    """(doc_id, tri) trigram instances, built NARROWLY: the token array
    zips against its own shifts (no positional self-join), trigrams
    explode straight off the scan. ONLY the trigram string crosses any
    downstream shuffle — the prefix/suffix/last-word join keys are
    derived from ``tri`` AFTER aggregation (``_tri_parts``), halving
    the corpus-side shuffle width. Docs shorter than 3 tokens
    contribute nothing (the ``greatest`` guard keeps the slice length
    non-negative instead of throwing)."""
    toks = F.split(F.col("text"), " ")
    bg_arr = F.zip_with(
        F.expr("slice(toks, 1, greatest(size(toks) - 1, 0))"),
        F.expr("slice(toks, 2, greatest(size(toks) - 1, 0))"),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    tri_arr = F.zip_with(
        F.expr("slice(bg, 1, greatest(size(bg) - 1, 0))"),
        F.expr("slice(toks2, 3, greatest(size(toks2) - 2, 0))"),
        lambda p, w: F.concat_ws(" ", p, w),
    )
    return (
        docs.select("doc_id", toks.alias("toks"))
        .select("doc_id", bg_arr.alias("bg"), F.col("toks").alias("toks2"))
        .select("doc_id", F.explode(tri_arr).alias("tri"))
    )


def _tri_parts(df: DataFrame) -> DataFrame:
    """Derive the backoff join keys from an aggregated ``tri`` column:
    pre = first two words, suf = last two, w3 = last — exact because
    tokens are space-split (no token contains a space)."""
    return df.withColumns(
        {
            "pre": F.substring_index("tri", " ", 2),
            "suf": F.substring_index("tri", " ", -2),
            "w3": F.substring_index("tri", " ", -1),
        }
    )


@register(
    "doc_trigram_backoff_logprob",
    oracle=TRIGRAM_BACKOFF_ORACLE,
    tags=("text", "quality", "lm"),
    past_window=True,
)
def doc_trigram_backoff_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram stupid-backoff cross-entropy per held-out document — the
    CCNet-shaped perplexity filter (Wenzek et al. 2020 score web text
    against a clean-reference KenLM; Brants et al. 2007's stupid
    backoff is the web-scale smoothing): the model is built from a
    REFERENCE SLICE (doc_id % 7 == 0, standing in for the
    curated corpus), every other document is scored against it, so —
    unlike the in-corpus unigram/bigram heads — unseen trigrams
    genuinely occur and the backoff chain actually fires.

    Model: S(w3|w1 w2) = c123/c12, else α·c23/c2, else α²·S(w3) with
    S(w3) = c1/N (or the 1/N unseen floor); α = 0.4. Plan: the
    trigram/bigram/unigram model tables are gram-vocabulary-bounded
    aggregates of the (small) reference slice; scoring is three LEFT
    equi-joins keyed on distinct per-doc grams (tf-weighted, so join
    cardinality is distinct grams, not instances) plus a 1-row
    broadcast N scalar. ``backoff_frac`` — the tf-weighted fraction of
    trigrams the model had never seen — is itself the novelty signal a
    curation run thresholds on. At 100 TB the corpus side shuffles
    once per distinct (doc, trigram) for the agg and joins
    model-bounded tables; nothing quadratic.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    is_model = F.col("doc_id") % _SB_MODEL_MOD == 0
    tri = scoped_persist(trigram_stream(docs))
    dtf = _tri_parts(
        tri.filter(~(F.col("doc_id") % _SB_MODEL_MOD == 0))
        .groupBy("doc_id", "tri")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    mtri = _tri_parts(
        tri.filter(F.col("doc_id") % _SB_MODEL_MOD == 0)
        .groupBy("tri")
        .agg(F.count(F.lit(1)).cast("double").alias("c123"))
    )
    bg_arr = F.zip_with(
        F.expr("slice(toks, 1, greatest(size(toks) - 1, 0))"),
        F.expr("slice(toks, 2, greatest(size(toks) - 1, 0))"),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    mbg = (
        docs.filter(is_model)
        .select("doc_id", toks.alias("toks"))
        .select(F.explode(bg_arr).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).cast("double").alias("c12"))
    )
    muni = scoped_persist(
        docs.filter(is_model)
        .select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("double").alias("c1"))
    )
    n = muni.agg(F.sum("c1").alias("n"))
    p3 = mtri.join(mbg, mtri["pre"] == mbg["bg"]).select(
        "tri", (F.col("c123") / F.col("c12")).alias("p3")
    )
    p2 = mbg.join(muni, F.substring_index(mbg["bg"], " ", 1) == muni["tok"]).select(
        "bg", (F.col("c12") / F.col("c1")).alias("p2")
    )
    p1 = muni.crossJoin(F.broadcast(n)).select(
        "tok", (F.col("c1") / F.col("n")).alias("p1")
    )
    scored = (
        dtf.join(p3, "tri", "left")
        .join(p2.withColumnRenamed("bg", "suf"), "suf", "left")
        .join(p1.withColumnRenamed("tok", "w3"), "w3", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tf",
            F.coalesce(
                F.col("p3"),
                F.lit(_SB_ALPHA) * F.col("p2"),
                F.lit(_SB_ALPHA * _SB_ALPHA)
                * F.coalesce(F.col("p1"), F.lit(1.0) / F.col("n")),
            ).alias("p"),
            F.col("p3").isNull().alias("backed_off"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_trigrams"),
        F.round(-F.sum(F.col("tf") * F.log2("p")) / F.sum("tf"), 6).alias(
            "bits_per_trigram"
        ),
        F.round(
            F.sum(F.when(F.col("backed_off"), F.col("tf")).otherwise(0.0))
            / F.sum("tf"),
            6,
        ).alias("backoff_frac"),
    )


# ----------------------------------------------------- boilerplate spans

_BOILER_DF = 5  # a 4-gram in >= this many docs is boilerplate


BOILERPLATE_ORACLE = f"""
WITH sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - {_CONTAM_N - 2}, 1)),
               i -> concat_ws(' ', string_split(text, ' ')[i],
                              string_split(text, ' ')[i + 1],
                              string_split(text, ' ')[i + 2],
                              string_split(text, ' ')[i + 3])))) AS g
    FROM documents
), boiler AS (
    SELECT g FROM sh GROUP BY g HAVING count(*) >= {_BOILER_DF}
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(b.g) AS BIGINT) AS n_boilerplate,
       ROUND(CAST(count(b.g) AS DOUBLE) / count(*), 6) AS boilerplate_frac
FROM sh s LEFT JOIN boiler b USING (g)
GROUP BY s.doc_id
"""


@register(
    "doc_boilerplate_fraction",
    oracle=BOILERPLATE_ORACLE,
    tags=("text", "quality", "dedup", "unbenched"),
    past_window=True,
)
def doc_boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-span signal (RefinedWeb/Gopher family): a word
    4-gram appearing in ≥ 5 documents is boilerplate (navigation
    chrome, license headers, templated spam); each document reports how
    much of it is made of such spans. High-fraction docs are filtered
    or span-stripped before training.

    Reuses the decontamination shingle core (distinct 4-grams per doc):
    one shingle scan feeds a document-frequency agg (map-side combined;
    shuffle carries (gram, partial count)), the boilerplate set comes
    back as a semi-join side — corpus-frequency-thresholded so it is a
    small fraction of the gram space — and a per-doc agg closes. Same
    two-wide-op budget as ``contamination_4gram``, sharing its audited
    CPU-stage shape (`fan_out` + single-projection token array).
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    # Persist the shingle frame (query-scoped): it feeds BOTH the
    # document-frequency agg and the probe side, and the explode is the
    # CPU-dominant stage — without the persist it runs twice per query.
    return boilerplate_fraction_frame(
        scoped_persist(contamination_shingles(docs))
    )


BOILER_BROADCAST_MAX_GRAMS = 1_000_000  # forced-broadcast cap on the
# PROVEN upper bound of the df-thresholded gram set (~tens of MB of gram
# strings) — the same order as spark's default broadcast-size comfort zone


def boilerplate_fraction_frame(
    sh: DataFrame,
    max_broadcast_grams: int = BOILER_BROADCAST_MAX_GRAMS,
    row_count: int | None = None,
) -> DataFrame:
    """Document-frequency threshold + per-doc boilerplate fraction over
    a (doc_id, g) shingle frame — the shared core of the batch
    ``doc_boilerplate_fraction`` and the shingle-store head
    ``boilerplate_fraction_from_store`` (one aggregation, so batch and
    store verdicts cannot drift). Callers persist ``sh``: both branches
    (df agg, probe) read it.

    The probe join picks between two value-identical physical plans,
    size-gated like ``dedup_cascade_verify``'s tier-2 switch — because
    the boilerplate set is DATA-DEPENDENT (df-thresholded over the
    corpus gram space), a forced broadcast is a corpus-shape assumption
    that boilerplate-heavy web crawls at 100 TB would break:

    - **forced broadcast** when the set is PROVABLY small:
      ``rows(sh) // _BOILER_DF`` bounds the qualifying gram count from
      above (each df ≥ threshold gram consumes at least threshold
      shingle rows), costs only a count over the caller-persisted /
      parquet-backed frame, and guards against a stats misestimate
      shuffling the corpus-side shingles;
    - **engine-decided join** otherwise: no hint, so AQE sizes the
      REAL aggregated set at runtime and broadcasts iff it actually
      fits — the corpus-side shuffle happens only when the set is
      genuinely too big for the driver, which is exactly when the
      forced broadcast would have OOMed it.

    ``row_count`` lets the caller supply the shingle-row count (or any
    upper bound on it) so the gate decides WITHOUT a count() action —
    the store heads read it from parquet footers
    (``streaming.store.store_row_count``: driver-side metadata, no
    job); the batch query keeps the count() over its query-scoped
    persisted frame, where it doubles as the cache fill.

    Both branches are pinned hash-equal against BOILERPLATE_ORACLE.
    """
    boiler = (
        sh.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= _BOILER_DF)
        .select("g", F.lit(1).alias("is_boiler"))
    )
    if row_count is None:
        row_count = sh.count()
    if row_count // _BOILER_DF <= max_broadcast_grams:
        probe = sh.join(F.broadcast(boiler), "g", "left")
    else:
        probe = sh.join(boiler, "g", "left")
    return (
        probe.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("is_boiler").alias("n_boilerplate"),
            F.round(
                F.count("is_boiler").cast("double") / F.count(F.lit(1)), 6
            ).alias("boilerplate_frac"),
        )
    )


CURATION_FUNNEL_ORACLE = f"""
WITH verdict AS ({{filter_oracle}})
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN pass_quality THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pass_quality,
       CAST(SUM(CASE WHEN pass_repetition THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pass_repetition,
       CAST(SUM(CASE WHEN pass_length THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pass_length,
       CAST(SUM(CASE WHEN is_canonical THEN 1 ELSE 0 END) AS BIGINT)
           AS n_canonical,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       ROUND(CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS keep_rate
FROM verdict
"""


@register(
    "curation_funnel",
    oracle=CURATION_FUNNEL_ORACLE.format(
        filter_oracle=FILTER_PIPELINE_ORACLE.format(stop=_STOP_SQL)
    ),
    tags=("text", "quality", "stats", "pipeline", "unbenched"),
    past_window=True,
)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filter funnel every curation run logs: how many documents
    survive each verdict axis (quality, repetition, length, exact-dup
    canonicality) and the final keep rate — one row, the run-report
    companion to ``corpus_filter_pipeline`` exactly as
    ``mixture_composition`` is to the mixture.

    Pure aggregation over the composed verdict (booleans summed
    map-side; the only wide op is the verdict's own fingerprint
    shuffle), so the funnel costs one scan more than nothing when run
    beside the verdict itself. At 100 TB this is the dashboard number
    that catches a mis-tuned threshold BEFORE a training run consumes
    the corpus.
    """
    v = corpus_filter_pipeline(spark, sf_dir)
    b = lambda c: F.sum(F.col(c).cast("long")).alias(f"n_{c}")  # noqa: E731
    return v.agg(
        F.count(F.lit(1)).alias("n_docs"),
        b("pass_quality"),
        b("pass_repetition"),
        b("pass_length"),
        F.sum(F.col("is_canonical").cast("long")).alias("n_canonical"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.round(
            F.sum(F.col("keep").cast("long")).cast("double") / F.count(F.lit(1)), 6
        ).alias("keep_rate"),
    )


# --------------------------------------------------- moved-name forwarding
#
# The mixture-assembly chain (corpus_mix_weighted → … → read_training_slice,
# plus its registered heads) lives in ``functions/mixture.py`` since round 7.
# Forward its names lazily (PEP 562) so historical imports keep working
# WITHOUT a module-level import here — an eager ``from .mixture import *``
# would deadlock the curation-first import order mixture itself relies on
# (mixture imports ``corpus_filter_pipeline``/oracle SQL from this module).

def __getattr__(name: str):
    from gmall_flink_parent_spark.functions import mixture as _mixture

    try:
        return getattr(_mixture, name)
    except AttributeError:
        raise AttributeError(
            f"module {__name__!r} has no attribute {name!r}"
        ) from None


# ------------------------------------------------------------- token entropy

TOKEN_ENTROPY_ORACLE = """
WITH e AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), c AS (
    SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY doc_id, tok
), d AS (
    SELECT doc_id,
           SUM(cnt) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           SUM(CAST(cnt AS DOUBLE) * log2(CAST(cnt AS DOUBLE))) AS s
    FROM c GROUP BY doc_id
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       n_distinct,
       ROUND(log2(CAST(n AS DOUBLE)) - s / CAST(n AS DOUBLE), 6)
           AS token_entropy
FROM d
"""


@register(
    "doc_token_entropy",
    oracle=TOKEN_ENTROPY_ORACLE,
    tags=("text", "quality", "entropy"),
    past_window=True,
)
def doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits/token) of each document's token frequency
    distribution — the whole-distribution summary between
    `doc_top_token` (one mode) and `doc_repetition_profile` (n-gram
    dup ratios): templated/boilerplate text collapses toward 0 bits,
    natural prose sits near log2 of its effective vocabulary, and the
    score is what RefinedWeb-style gibberish/template gates threshold
    on. Computed as H = log2(n) − (Σ c·log2 c)/n so the per-token
    probabilities never materialize.

    Determinism: counts are exact integers; c·log2(c) terms are
    identical doubles cross-engine (log2 on small integers — the LM
    heads' precedent), and the unordered Σ is guarded by the PSI-style
    ROUND(…,6) edge (addition-order noise ~1e-13 against a 1e-6
    grid). Scale shape: explode → map-side-combined (doc, token)
    counts → one doc-grain aggregate; no windows, no data crosses a
    second shuffle, and no reducer sees more than one document's
    vocabulary.
    """
    docs = load_table(spark, sf_dir, "documents")
    e = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    c = e.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    d = c.groupBy("doc_id").agg(
        F.sum("cnt").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum(
            F.col("cnt").cast("double") * F.log2(F.col("cnt").cast("double"))
        ).alias("s"),
    )
    return d.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        "n_distinct",
        F.round(
            F.log2(F.col("n").cast("double")) - F.col("s") / F.col("n").cast("double"),
            6,
        ).alias("token_entropy"),
    )
