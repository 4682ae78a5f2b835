"""Text analysis for large-scale training-data pipelines.

Not in the reference (its string surface is listed in SURVEY §2.7); these
are the first-class text operators a 100 TB document pipeline needs:
token counting, BPE-style piece counting, quality scoring, language ID,
document fingerprinting, SimHash signatures. All are per-row,
shuffle-free, and stay JVM-side via higher-order array functions
(``transform``/``filter``/``aggregate``) — no Python in the row path, so
they run inside whole-stage codegen at full scan speed.

Registered as two queries sharing one grain (one row per document, one
corpus scan each): ``doc_text_profile`` (counts + fingerprints +
SimHash) and ``doc_quality_lang`` (scored signals). A pipeline that
needs every signal runs ONE of these, not five separate scans — the
merge is the scale-friendly shape, not just registry compression.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_parent_spark.functions.simhash import (
    _simhash_value_col,
    _simhash_value_sql_duckdb,
    _TOK32_DUCK,
    token_hashes_col,
)
from gmall_flink_parent_spark.registry import register
from gmall_flink_parent_spark.sources.tables import fan_out, load_table

# Stopword list for quality / language heuristics (tiny, broadcast as a
# literal into the plan). Lives in the leaf module ``stopwords`` so
# sibling modules can import it without the plans-package init cycle.
from gmall_flink_parent_spark.functions.stopwords import _STOP_SQL, STOPWORDS  # noqa: E402,F401


def tokens(col: str = "text") -> Column:
    """Whitespace tokenizer as a JVM-side expression."""
    return F.split(F.col(col), " ")


# BPE-style pre-tokenizer classes, ASCII-only so Java regex (Spark) and
# RE2 (DuckDB) agree byte-for-byte: word runs, digit runs, punct runs.
_BPE_PAT = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"

TEXT_PROFILE_ORACLE = f"""
WITH h AS (
    SELECT doc_id, text,
           list_transform(list_distinct(string_split(text, ' ')),
                          t -> {_TOK32_DUCK}) AS hashes
    FROM documents
)
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq_tokens,
       ROUND(CAST(list_sum(list_transform(string_split(text, ' '), t -> strlen(t))) AS DOUBLE)
             / len(string_split(text, ' ')), 6) AS avg_token_len,
       ROUND(CAST(len(list_filter(string_split(text, ' '), t -> t IN ({_STOP_SQL}))) AS DOUBLE)
             / len(string_split(text, ' ')), 6) AS stopword_ratio,
       CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS BIGINT) AS n_pieces,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_word_pieces,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num_pieces,
       CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]+')) AS BIGINT) AS n_other_pieces,
       md5(lower(trim(text))) AS fingerprint,
       substr(md5(lower(trim(text))), 1, 8) AS fingerprint_prefix,
       {_simhash_value_sql_duckdb()} AS simhash32
FROM h
"""


@register("doc_text_profile", oracle=TEXT_PROFILE_ORACLE, tags=("text", "tokenize", "simhash"), past_window=True)
def doc_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text profile in one scan: whitespace-token stats,
    BPE-style piece counts, content fingerprint, SimHash signature.

    - **Token stats** — count, distinct count, mean token length,
      stopword ratio: higher-order array functions, no explode.
    - **BPE piece counts** — tokenizer-aware budgeting needs piece
      counts, not word counts: the pattern splits word / digit / symbol
      runs the way BPE pre-tokenizers (GPT-2 family) do before merges.
      A real vocab's merge table would drop in as a Pandas-UDF stage
      downstream; the budget signal is what's pinned here.
    - **Fingerprint** — md5 over normalized text, the exact-dup key
      (`dedup_exact` groups on it). md5 hex is identical across Spark
      and DuckDB, so the fingerprint is engine-portable.
    - **simhash32** — 32-bit majority-vote signature over token hashes
      (pair generation on top is `simhash_near_dup`).

    Everything is a single codegen projection over the parquet scan —
    per-row, shuffle-free; at 100 TB this is THE map stage a curation
    pipeline runs once and reuses for every downstream signal
    (run-once-at-ingest form: ``streaming/jobs.py::text_profile_job``).
    """
    # fan_out: 32 simhash bit votes + 3 regex passes per row are CPU-dense
    # enough that a single-split scan must not pin them to one task.
    return doc_text_profile_frame(fan_out(spark, load_table(spark, sf_dir, "documents")))


def doc_text_profile_frame(docs: DataFrame) -> DataFrame:
    """Frame-level core of ``doc_text_profile`` — the one-scan profile
    projection over any documents-shaped frame, so the ingest-time
    streaming job and the batch query share one definition."""
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    fp = F.md5(F.lower(F.trim(F.col("text"))))

    def n_matches(pat: str) -> Column:
        return F.size(F.expr(f"regexp_extract_all(text, '{pat}', 0)")).cast("long")

    return docs.select(
        "doc_id",
        "text",
        token_hashes_col().alias("hashes"),
    ).select(
        "doc_id",
        F.size(tokens()).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(tokens())).cast("long").alias("n_uniq_tokens"),
        F.round(
            F.aggregate(tokens(), F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
            .cast("double")
            / F.size(tokens()),
            6,
        ).alias("avg_token_len"),
        F.round(
            F.size(F.filter(tokens(), lambda t: F.array_contains(stop_arr, t))).cast("double")
            / F.size(tokens()),
            6,
        ).alias("stopword_ratio"),
        # n_pieces ≡ word + num + other: every combined-pattern match is a
        # maximal run of exactly one class, so the per-class counts
        # partition the combined count — one fewer full regex pass over
        # text than matching _BPE_PAT separately (the oracle spells it
        # with the combined pattern; values are identical by the
        # partition argument).
        (
            n_matches("[A-Za-z]+") + n_matches("[0-9]+") + n_matches("[^A-Za-z0-9 ]+")
        ).alias("n_pieces"),
        n_matches("[A-Za-z]+").alias("n_word_pieces"),
        n_matches("[0-9]+").alias("n_num_pieces"),
        n_matches("[^A-Za-z0-9 ]+").alias("n_other_pieces"),
        fp.alias("fingerprint"),
        F.substring(fp, 1, 8).alias("fingerprint_prefix"),
        _simhash_value_col().alias("simhash32"),
    )


QUALITY_LANG_ORACLE = f"""
SELECT doc_id,
       ROUND(
         0.4 * least(len(string_split(text, ' ')), 200) / 200.0
       + 0.3 * least(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')), 1.0)
       + 0.3 * least(CAST(len(list_filter(string_split(text, ' '), t -> t IN ({_STOP_SQL}))) AS DOUBLE)
                     / len(string_split(text, ' ')) * 5.0, 1.0)
       , 6) AS quality_score,
       lang AS lang_label,
       CASE WHEN CAST(len(list_filter(string_split(text, ' '), t -> t IN ({_STOP_SQL}))) AS DOUBLE)
                 / len(string_split(text, ' ')) >= 0.05
            THEN 'en' ELSE 'und' END AS lang_pred
FROM documents
"""


# rotated out of the driver window in round 13 (long-green since r3;
# corpus_filter_pipeline + doc_text_profile keep the quality family
# in-window)
@register(
    "doc_quality_lang",
    oracle=QUALITY_LANG_ORACLE,
    tags=("text", "quality", "langid"),
    past_window=True,
)
def doc_quality_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality score + language ID per document, one scan.

    - **quality_score ∈ [0,1]** — length + lexical diversity + stopword
      signal, linear combination only (no transcendentals) so the score
      is bit-identical across engines; weights follow common web-corpus
      quality filters (length cap, type/token ratio, stopword presence).
    - **lang_pred** — stopword-profile language ID (n-gram-heuristic
      family). Real deployments score character n-grams against
      per-language profiles; the decision layer — a ratio against
      marker sets with a threshold — is identical and is what's
      oracle-checked here. Marker lists per language plug into the same
      expression.

    Both share one stopword-filter subexpression in one codegen
    projection — per-row, shuffle-free.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens()
    n = F.size(toks)
    uniq_ratio = F.least(F.size(F.array_distinct(toks)).cast("double") / n, F.lit(1.0))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast("double") / n
    score = (
        F.lit(0.4) * F.least(n, F.lit(200)) / F.lit(200.0)
        + F.lit(0.3) * uniq_ratio
        + F.lit(0.3) * F.least(stop_ratio * F.lit(5.0), F.lit(1.0))
    )
    return docs.select(
        "doc_id",
        F.round(score, 6).alias("quality_score"),
        F.col("lang").alias("lang_label"),
        F.when(stop_ratio >= 0.05, "en").otherwise("und").alias("lang_pred"),
    )


# ---------------------------------------------- n-gram diversity

NGRAM_DIVERSITY_ORACLE = """
WITH t AS (
    SELECT source, string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n
    FROM documents
), g AS (
    SELECT source, 1 AS n, unnest(toks) AS g FROM t
    UNION ALL
    SELECT source, 2 AS n,
           unnest(list_transform(range(1, greatest(n, 1)),
                  i -> concat_ws(' ', toks[i], toks[i + 1]))) AS g
    FROM t
    UNION ALL
    SELECT source, 3 AS n,
           unnest(list_transform(range(1, greatest(n - 1, 1)),
                  i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))) AS g
    FROM t
)
SELECT source, CAST(n AS INTEGER) AS n,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
       ROUND(CAST(count(DISTINCT g) AS DOUBLE) / count(*), 6) AS distinct_ratio
FROM g
GROUP BY source, n
"""


@register(
    "source_ngram_diversity",
    oracle=NGRAM_DIVERSITY_ORACLE,
    tags=("text", "stats", "quality"),
)
def source_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity per source: for n ∈ {1, 2, 3}, the gram
    instance count, distinct count, and distinct ratio — the dataset-
    card repetitiveness metric (low distinct-2/3 = templated or
    machine-generated text; the corpus-level cousin of the per-doc
    Gopher repetition gates, which catch a repetitive DOCUMENT but not
    a source whose documents repeat EACH OTHER).

    One corpus scan emits every gram instance tagged by n (the token
    array and its two zip-shifts concatenate into a single tagged
    array, one explode — no three-pass scan), then one aggregate:
    map-side partial distincts shuffle one row per distinct
    (source, n, gram). At 100 TB the distinct-gram shuffle is the cost
    — the bounded-memory alternative is the CMS family
    (``gram_df_cms_estimate``) or per-source HLL of grams; this exact
    head is the audit-grade form.
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    bg = F.zip_with(
        F.expr("slice(toks, 1, greatest(size(toks) - 1, 0))"),
        F.expr("slice(toks, 2, greatest(size(toks) - 1, 0))"),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    tri = F.zip_with(
        F.expr("slice(bg, 1, greatest(size(bg) - 1, 0))"),
        F.expr("slice(toks2, 3, greatest(size(toks2) - 2, 0))"),
        lambda p, w: F.concat_ws(" ", p, w),
    )
    tagged = F.concat(
        F.transform(F.col("toks2"), lambda t: F.struct(F.lit(1).alias("n"), t.alias("g"))),
        F.transform(F.col("bg"), lambda b: F.struct(F.lit(2).alias("n"), b.alias("g"))),
        F.transform(tri, lambda x: F.struct(F.lit(3).alias("n"), x.alias("g"))),
    )
    grams = (
        docs.select("source", toks.alias("toks"))
        .select("source", bg.alias("bg"), F.col("toks").alias("toks2"))
        .select("source", F.explode(tagged).alias("t"))
        .select("source", F.col("t.n").alias("n"), F.col("t.g").alias("g"))
    )
    return grams.groupBy("source", "n").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.countDistinct("g").cast("long").alias("n_distinct"),
        F.round(
            F.countDistinct("g").cast("double") / F.count(F.lit(1)), 6
        ).alias("distinct_ratio"),
    )


# ------------------------------------------------------- Zipf fit

_ZIPF_TOP = 100  # fit over each source's top-100 tokens

ZIPF_ORACLE = f"""
WITH tok AS (
    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), cnt AS (
    SELECT source, tok, CAST(count(*) AS DOUBLE) AS c
    FROM tok GROUP BY source, tok
), ranked AS (
    SELECT source, c,
           row_number() OVER (PARTITION BY source ORDER BY c DESC, tok) AS r
    FROM cnt
), xy AS (
    SELECT source, ln(r) AS x, ln(c) AS y FROM ranked WHERE r <= {_ZIPF_TOP}
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_points,
       ROUND((count(*) * SUM(x * y) - SUM(x) * SUM(y))
             / (count(*) * SUM(x * x) - SUM(x) * SUM(x)), 6) AS zipf_slope
FROM xy GROUP BY source
"""


@register(
    "source_zipf_slope",
    oracle=ZIPF_ORACLE,
    tags=("text", "stats", "quality", "unbenched"),
    past_window=True,
)
def source_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit per source: the least-squares slope of
    ln(frequency) against ln(rank) over the source's top-100 tokens.
    Natural text sits near −1; templated or machine-generated text
    flattens (head tokens under-dominant) or steepens (a few tokens
    everywhere) — a one-number shape check that complements
    ``source_ngram_diversity``'s ratio view, with the same use: catch
    the source whose text stopped looking like language.

    The per-source token count is vocabulary-bounded (never
    corpus-row-bounded), so the rank window partitions by source over
    a vocab-sized frame — cheap; the regression is computed from its
    closed-form sums (Σx, Σy, Σxy, Σx²) so both engines run the
    identical formula rather than trusting two regr_slope
    implementations to agree bit-for-bit.
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    cnt = (
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("tok"))
    xy = (
        cnt.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _ZIPF_TOP)
        .select("source", F.log(F.col("r")).alias("x"), F.log("c").alias("y"))
    )
    n = F.count(F.lit(1))
    return xy.groupBy("source").agg(
        n.cast("long").alias("n_points"),
        F.round(
            (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y"))
            / (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")),
            6,
        ).alias("zipf_slope"),
    )


# --------------------------------------------- PMI collocations

_PMI_MIN_PAIR = 5  # noise floor: pairs seen fewer times carry no signal

PMI_ORACLE = f"""
WITH toks AS (
    SELECT string_split(text, ' ') AS t FROM documents
), uni AS (
    SELECT unnest(t) AS tok FROM toks
), cnt1 AS (
    SELECT tok, CAST(count(*) AS BIGINT) AS c1 FROM uni GROUP BY tok
), n1 AS (
    SELECT CAST(count(*) AS BIGINT) AS total1 FROM uni
), pairs AS (
    SELECT t[u.i] AS w1, t[u.i + 1] AS w2
    FROM toks, LATERAL (SELECT UNNEST(range(1, len(t))) AS i) u
), cnt2 AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
    FROM pairs GROUP BY w1, w2
), n2 AS (
    SELECT CAST(count(*) AS BIGINT) AS total2 FROM pairs
)
SELECT c.w1, c.w2, c.n_pair,
       ROUND(ln(CAST(CAST(c.n_pair AS HUGEINT) * CAST(n1.total1 AS HUGEINT)
                     * CAST(n1.total1 AS HUGEINT) AS DOUBLE)
                / CAST(CAST(n2.total2 AS HUGEINT) * CAST(a.c1 AS HUGEINT)
                       * CAST(b.c1 AS HUGEINT) AS DOUBLE)), 6) AS pmi
FROM cnt2 c
JOIN cnt1 a ON a.tok = c.w1
JOIN cnt1 b ON b.tok = c.w2
CROSS JOIN n1 CROSS JOIN n2
WHERE c.n_pair >= {_PMI_MIN_PAIR}
"""


@register(
    "collocation_pmi",
    oracle=PMI_ORACLE,
    tags=("text", "stats", "collocation"),
    # promoted into the driver window in the round-13 rotation
)
def collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of adjacent word pairs (Church &
    Hanks 1990): ``ln(P(w1,w2) / (P(w1)·P(w2)))`` for every bigram
    seen ≥ 5 times — the collocation-mining statistic behind phrase
    vocabularies and tokenizer merge candidates (`doc_bpe_tokens`
    trains merges by raw pair COUNT; PMI is the associativity view
    that separates "of the" (frequent, independent) from genuinely
    bound pairs). `phrase_heavy_hitters` surfaces the top pair counts;
    this head scores ALL above-floor pairs by association strength.

    Determinism: the ratio is assembled from five exact BIGINT counts
    as ONE integer numerator and ONE integer denominator, multiplied in
    DECIMAL(38,0) (HUGEINT in the oracle) so the products stay exact far
    past int64 — total1² alone crosses 2⁵³ near ~1e8 corpus tokens and
    overflows int64 past ~3e9, where Spark would silently wrap while
    DuckDB raises. Each side is cast to double exactly once at the
    final division; both engines round the same exact integer to the
    nearest double, so ln + round-6 agree bit-for-bit — the
    `source_zipf_slope` recipe, upgraded for 100 TB token counts.

    Scale shape: ONE corpus scan explodes each document's tagged
    unigram + bigram instances (the zip-shift slice, no self-join);
    the single map-side-combined aggregate lands at VOCABULARY grain,
    and everything downstream — the two 1-row totals (derived by
    summing the count table, never re-scanning the corpus), the
    unigram broadcasts, the final ratio — is vocab-sized.
    """
    from gmall_flink_parent_spark.registry import scoped_persist

    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    counts = scoped_persist(gram_count_frame(docs))
    cnt1 = counts.filter(F.col("n") == 1).select(
        F.col("w1").alias("tok"), F.col("c").alias("c1")
    )
    cnt2_all = counts.filter(F.col("n") == 2).select(
        "w1", "w2", F.col("c").alias("n_pair")
    )
    return pmi_from_counts(cnt1, cnt2_all)


def gram_count_frame(docs: DataFrame) -> DataFrame:
    """Tagged unigram + bigram counts ``(n, w1, w2, c)`` from ONE scan
    of a (…, text) frame — rows with ``n = 1`` are unigram counts
    (``w2 = ''``), rows with ``n = 2`` adjacent-pair counts. The
    counting core of ``collocation_pmi`` and the per-batch PARTIAL the
    ingest job lands in the gram store (``curation_ingest_job``'s
    ``gram_path``): counts are additive, so store partials merge by a
    vocab-grain SUM — the exactly-once contract is per DOCUMENT (each
    doc's text contributes from exactly ONE batch partition; a replayed
    batch overwrites its own ``batch_id=N`` partition, so checkpoint
    replay cannot double-count, but re-ingesting the same document
    under a NEW batch_id would — the store is append-only by doc, like
    the positional-postings store it rides along with).

    Scale shape: the explode carries both gram orders in one pass (the
    zip-shift slice, no self-join) into one map-side-combined aggregate
    that lands at VOCABULARY grain."""
    toks = F.split(F.col("text"), " ")
    base = docs.select(toks.alias("toks"))
    bg = F.zip_with(
        F.expr("slice(toks, 1, greatest(size(toks) - 1, 0))"),
        F.expr("slice(toks, 2, greatest(size(toks) - 1, 0))"),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    # one explode carries both gram orders (the ngram-diversity
    # tagged-array recipe): tag 1 = unigram instance, tag 2 = bigram
    tagged = F.concat(
        F.transform(
            F.col("toks"),
            lambda t: F.struct(
                F.lit(1).alias("n"), t.alias("w1"), F.lit("").alias("w2")
            ),
        ),
        F.transform(
            bg,
            lambda p: F.struct(
                F.lit(2).alias("n"),
                p["w1"].alias("w1"),
                p["w2"].alias("w2"),
            ),
        ),
    )
    return (
        base.select(F.explode(tagged).alias("g"))
        .select("g.n", "g.w1", "g.w2")
        .groupBy("n", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def pmi_from_counts(cnt1: DataFrame, cnt2_all: DataFrame) -> DataFrame:
    """The PMI scoring core over any unigram-count (tok, c1) and
    bigram-count (w1, w2, n_pair) frames — shared by the batch head
    (counts from the tagged-gram scan) and
    ``collocation_pmi_from_store`` (counts derived from the stored
    positional postings, text never re-scanned). The two totals are
    SUMS of the count tables, so both callers stay vocab-grain past
    their counting pass. The integer products run in DECIMAL(38,0) so
    they stay exact far past int64 (which wraps past ~3e9 tokens); the
    single double cast happens at the final division.

    Validity bound (round-13 review): DECIMAL(38,0) caps both products
    at 10^38 — the numerator ``n_pair*total1^2`` reaches it around
    total1 ~ 1e13 tokens with a frequent pair (n_pair ~ 1e12). Past the
    bound Spark (non-ANSI) silently NULLs the product while the DuckDB
    HUGEINT oracle errors loudly — a silent cross-engine divergence —
    so both products carry a per-row ``assert_true`` guard on their
    log10 magnitude: an overflowing corpus fails the job with an
    explicit message instead of scoring NULL. The guard is a couple of
    codegen flops per surviving bigram (the frame is vocab-grain, not
    corpus-grain) and conservatively rejects within ~1e-6 of the exact
    cap to absorb double rounding."""
    n1 = cnt1.agg(F.sum("c1").cast("bigint").alias("total1"))
    n2 = cnt2_all.agg(F.sum("n_pair").cast("bigint").alias("total2"))
    cnt2 = cnt2_all.filter(F.col("n_pair") >= _PMI_MIN_PAIR)
    a = cnt1.select(F.col("tok").alias("w1"), F.col("c1").alias("c1a"))
    b = cnt1.select(F.col("tok").alias("w2"), F.col("c1").alias("c1b"))
    return (
        cnt2.join(F.broadcast(a), "w1")
        .join(F.broadcast(b), "w2")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            "w1",
            "w2",
            F.col("n_pair").cast("bigint").alias("n_pair"),
            "total1",
            "total2",
            "c1a",
            "c1b",
        )
        .withColumn(
            "_bound_ok",
            F.assert_true(
                (
                    F.log10(F.col("n_pair").cast("double"))
                    + F.lit(2.0) * F.log10(F.col("total1").cast("double"))
                    < F.lit(38.0 - 1e-6)
                )
                & (
                    F.log10(F.col("total2").cast("double"))
                    + F.log10(F.col("c1a").cast("double"))
                    + F.log10(F.col("c1b").cast("double"))
                    < F.lit(38.0 - 1e-6)
                ),
                F.lit(
                    "pmi_from_counts: count product exceeds the "
                    "DECIMAL(38,0) validity bound (n_pair*total1^2 or "
                    "total2*c1a*c1b >= 1e38) — Spark would silently NULL "
                    "the score; shard the corpus or compute PMI per "
                    "sub-corpus and merge"
                ),
            ),
        )
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(
                F.when(
                    F.col("_bound_ok").isNull(),
                    F.log(
                        (
                            F.col("n_pair").cast("decimal(38,0)")
                            * F.col("total1").cast("decimal(38,0)")
                            * F.col("total1").cast("decimal(38,0)")
                        ).cast("double")
                        / (
                            F.col("total2").cast("decimal(38,0)")
                            * F.col("c1a").cast("decimal(38,0)")
                            * F.col("c1b").cast("decimal(38,0)")
                        ).cast("double")
                    ),
                ),
                6,
            ).alias("pmi"),
        )
    )


# --------------------------------------- cross-source JS divergence

JS_DIVERGENCE_ORACLE = """
WITH toks AS (
    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), cnt AS (
    SELECT source, tok, CAST(count(*) AS BIGINT) AS c
    FROM toks GROUP BY source, tok
), tot AS (
    SELECT source, SUM(c) AS n FROM cnt GROUP BY source
), shared AS (
    SELECT a.source AS source_a, b.source AS source_b,
           a.c AS ca, b.c AS cb, ta.n AS na, tb.n AS nb
    FROM cnt a
    JOIN cnt b ON b.tok = a.tok AND a.source < b.source
    JOIN tot ta ON ta.source = a.source
    JOIN tot tb ON tb.source = b.source
), terms AS (
    SELECT source_a, source_b,
           (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
             * log2(CAST(2 * ca * nb AS DOUBLE)
                    / CAST(ca * nb + cb * na AS DOUBLE))
           + (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
             * log2(CAST(2 * cb * na AS DOUBLE)
                    / CAST(ca * nb + cb * na AS DOUBLE)) AS t,
           ca, cb, na, nb
    FROM shared
)
SELECT s.source_a, s.source_b,
       COALESCE(g.n_shared_terms, 0) AS n_shared_terms,
       COALESCE(g.js_bits, 1.0) AS js_bits
FROM (
    SELECT a.source AS source_a, b.source AS source_b
    FROM tot a JOIN tot b ON a.source < b.source
) s
LEFT JOIN (
    SELECT source_a, source_b,
           CAST(count(*) AS BIGINT) AS n_shared_terms,
           ROUND(0.5 * SUM(t)
                 + 0.5 * (1.0 - CAST(SUM(ca) AS DOUBLE) / CAST(MIN(na) AS DOUBLE))
                 + 0.5 * (1.0 - CAST(SUM(cb) AS DOUBLE) / CAST(MIN(nb) AS DOUBLE)),
                 6) AS js_bits
    FROM terms GROUP BY source_a, source_b
) g ON g.source_a = s.source_a AND g.source_b = s.source_b
"""


@register(
    "source_js_divergence",
    oracle=JS_DIVERGENCE_ORACLE,
    tags=("text", "stats", "drift", "distribution"),
)
def source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (bits) between every source pair's
    unigram distribution — the symmetric, bounded [0, 1] cross-source
    drift matrix: `daily_mix_kl` watches the mix drift over TIME,
    `source_length_ks` compares length SHAPES; this is the vocabulary
    answer to "which sources are interchangeable and which bring
    genuinely different text" (the mixture-design input).

    Identity that keeps the join INNER: a term present in only one
    source contributes exactly half its probability mass to JS
    (p·log₂(p/(p/2)) = p), so JS = ½Σ_shared[p·log₂(2pN_b/(pN_b+qN_a))
    + q·log₂(2qN_a/(pN_b+qN_a))] + ½(1 − shared_a/N_a) +
    ½(1 − shared_b/N_b) — the one-sided tails fold into the shared
    sums and the per-source totals, no full-outer vocabulary join.
    A source pair with FULLY DISJOINT vocabularies has no shared-term
    row at all, yet is exactly the maximum-drift pair (JS = 1); the
    |sources|-row totals frame therefore builds a pair SPINE that the
    shared-term aggregate left-joins onto, emitting
    (n_shared_terms = 0, js_bits = 1.0) for zero-overlap pairs — a
    consumer scanning the matrix for worst drift always sees them.
    Every log argument is a ratio of exact BIGINTs (the
    `daily_mix_kl` recipe); rounded to 6 for the cross-engine hash.

    Scale shape: one corpus scan lands vocab-grain (source, tok)
    counts; the pair join runs at (source-pair, shared-term) grain —
    |sources|² × vocab, dim-bounded, never corpus-row-sized — and the
    totals broadcast.
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    from gmall_flink_parent_spark.registry import scoped_persist

    cnt = scoped_persist(
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = cnt.groupBy(F.col("source").alias("t_src")).agg(
        F.sum("c").cast("bigint").alias("n")
    )
    a = cnt.select(
        F.col("source").alias("source_a"), "tok", F.col("c").alias("ca")
    )
    b = cnt.select(
        F.col("source").alias("source_b"),
        F.col("tok").alias("tok_b"),
        F.col("c").alias("cb"),
    )
    ta = tot.select(F.col("t_src").alias("sa"), F.col("n").alias("na"))
    tb = tot.select(F.col("t_src").alias("sb"), F.col("n").alias("nb"))
    shared = (
        a.join(b, (a["tok"] == b["tok_b"]) & (a["source_a"] < b["source_b"]))
        .join(F.broadcast(ta), F.col("source_a") == F.col("sa"))
        .join(F.broadcast(tb), F.col("source_b") == F.col("sb"))
    )
    denom = (F.col("ca") * F.col("nb") + F.col("cb") * F.col("na")).cast("double")
    t = (
        F.col("ca").cast("double") / F.col("na").cast("double")
    ) * F.log2((F.lit(2) * F.col("ca") * F.col("nb")).cast("double") / denom) + (
        F.col("cb").cast("double") / F.col("nb").cast("double")
    ) * F.log2((F.lit(2) * F.col("cb") * F.col("na")).cast("double") / denom)
    agg = shared.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared_terms"),
        F.round(
            F.lit(0.5) * F.sum(t)
            + F.lit(0.5)
            * (
                F.lit(1.0)
                - F.sum("ca").cast("double") / F.min("na").cast("double")
            )
            + F.lit(0.5)
            * (
                F.lit(1.0)
                - F.sum("cb").cast("double") / F.min("nb").cast("double")
            ),
            6,
        ).alias("js_bits"),
    )
    # zero-overlap pairs (JS = 1, the maximum) have no shared-term row:
    # spine every source pair from the |sources|-row totals frame and
    # left-join the aggregate — the theta self-join is a broadcast
    # nested loop over ≤ |sources|² rows, dim-bounded.
    spine = (
        tot.select(F.col("t_src").alias("source_a"))
        .join(
            F.broadcast(tot.select(F.col("t_src").alias("source_b"))),
            F.col("source_a") < F.col("source_b"),
        )
    )
    return spine.join(agg, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        F.coalesce(F.col("n_shared_terms"), F.lit(0).cast("bigint")).alias(
            "n_shared_terms"
        ),
        F.coalesce(F.col("js_bits"), F.lit(1.0)).alias("js_bits"),
    )
