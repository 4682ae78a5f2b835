"""DSIR-style data selection: hashed n-gram importance weights and
Gumbel-top-k resampling.

Not in the reference (its string surface stops at parse/rewrite,
SURVEY §2.7): selecting which raw documents to TRAIN on is the step a
100 TB pretraining pipeline runs between quality gating and mixture
assembly. This module implements Data Selection via Importance
Resampling (Xie et al. 2023): score every raw document by how much
more likely its hashed n-gram bag is under a TARGET distribution
(a trusted high-quality corpus — here the ``lang = 'en'`` slice
stands in for it) than under the RAW distribution, then resample
top-k under Gumbel noise so selection is diverse rather than a hard
argmax of the weight.

Everything is hash-derived (md5 buckets, md5-seeded Gumbel), so DuckDB
reproduces the selection end-to-end — the same property the mixture
chain (``functions/mixture.py``) builds on: a selection decided by
content hashes is reproducible across engines, re-runs, and
re-partitionings, which is what makes a 100 TB selection auditable.

Scale shape:

- the hashed-gram frame is one narrow explode + map-side-combined
  groupBy at (doc, bucket) grain — smaller than the token stream;
- the bucket statistics table is BOUNDED at ``_DSIR_BUCKETS`` rows
  regardless of corpus size (feature hashing's point), so the
  log-ratio model is always a broadcast join, never a shuffle;
- per-doc scoring is one partial-aggregated groupBy back to document
  grain; the gram frame is persisted because both the stats aggregate
  and the scoring join read it (one corpus scan total);
- the resample head is a ``TakeOrderedAndProject`` top-k — per-
  partition heaps, no global sort, no window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_flink_parent_spark.positions import ordered_positions
from gmall_flink_parent_spark.registry import register, scoped_persist
from gmall_flink_parent_spark.sources.tables import fan_out, load_table

_DSIR_BUCKETS = 1024  # feature-hash space (the paper uses 10k; shape is equal)
_TARGET_LANG = "en"  # stand-in target corpus: the English slice
_DSIR_K = 64  # resample size

# Engine-portable 32-bit hash: first 8 md5 hex chars as an integer —
# the same primitive the dedup/simhash/mixture families use.
_H32_DUCK = "CAST(concat('0x', substr(md5({x}), 1, 8)) AS BIGINT)"


def _h32(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def hashed_gram_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, is_target, bucket, tf) hashed unigram+bigram counts.

    DSIR's feature map: the doc's token unigrams and space-joined
    bigrams, each hashed into ``bucket = hash32(gram) % B``. One
    explode over the concatenated gram array, map-side-combined to
    (doc, bucket) grain — repeated grams collapse before the shuffle.
    ``is_target`` is doc-constant, so carrying it through the groupBy
    adds no grain.
    """
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(
            "doc_id",
            (F.col("lang") == _TARGET_LANG).alias("is_target"),
            F.explode(F.concat(toks, bigrams)).alias("g"),
        )
        .select(
            "doc_id", "is_target", (_h32(F.col("g")) % _DSIR_BUCKETS).alias("bucket")
        )
        .groupBy("doc_id", "is_target", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def bucket_logratio(grams: DataFrame) -> DataFrame:
    """(bucket, lw) log₂-likelihood-ratio model over a hashed-gram frame.

    Per bucket: target count (grams from target docs) and raw count
    (all grams), add-1 smoothed into probabilities, ``lw = log2(p_t)
    − log2(p_r)``. The frame is bounded at ``_DSIR_BUCKETS`` rows —
    the model table stays broadcast-sized at any corpus scale, which
    is the point of feature hashing (a raw-vocabulary LR model would
    grow with the corpus). Counts stay integer until the single
    division per bucket, so the model is engine-exact.
    """
    stats = grams.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), F.col("tf")).otherwise(F.lit(0))).alias("c_t"),
        F.sum("tf").alias("c_r"),
    )
    totals = stats.agg(
        F.sum("c_t").alias("t_t"), F.sum("c_r").alias("t_r")
    )
    b = F.lit(_DSIR_BUCKETS)
    lw = F.log2((F.col("c_t") + 1).cast("double") / (F.col("t_t") + b)) - F.log2(
        (F.col("c_r") + 1).cast("double") / (F.col("t_r") + b)
    )
    return stats.crossJoin(F.broadcast(totals)).select("bucket", lw.alias("lw"))


def dsir_weight_frame(grams: DataFrame) -> DataFrame:
    """Per-doc average log-importance weight over a PERSISTED hashed-
    gram frame (both the model aggregate and the scoring join read it).

    ``dsir_logw`` is the per-gram mean of ``lw`` — tf-weighted sums are
    exact instance sums because every instance of a (doc, bucket) pair
    contributes the same ``lw``. The verdict compares the ROUNDED
    value (the same number the oracle hashes), and ``+ 0.0``
    canonicalizes IEEE signed zero on both engines.
    """
    model = bucket_logratio(grams)
    logw = F.round(F.sum(F.col("tf") * F.col("lw")) / F.sum("tf"), 6) + F.lit(0.0)
    return (
        grams.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_grams"),
            logw.alias("dsir_logw"),
        )
        .select(
            "doc_id",
            "n_grams",
            "dsir_logw",
            (F.col("dsir_logw") >= 0.0).alias("dsir_keep"),
        )
    )


_DSIR_GRAMS_DUCK = f"""
    t AS (
        SELECT doc_id, lang = '{_TARGET_LANG}' AS is_target,
               string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents
    ), f AS (
        SELECT doc_id, is_target,
               unnest(list_concat(toks,
                   CASE WHEN n >= 2 THEN list_transform(range(1, n),
                       i -> concat(toks[i], ' ', toks[i + 1])) ELSE [] END)) AS g
        FROM t
    ), gr AS (
        SELECT doc_id, is_target,
               {_H32_DUCK.format(x='g')} % {_DSIR_BUCKETS} AS bucket,
               count(*) AS tf
        FROM f GROUP BY doc_id, is_target, 3
    ), stats AS (
        SELECT bucket,
               SUM(CASE WHEN is_target THEN tf ELSE 0 END) AS c_t,
               SUM(tf) AS c_r
        FROM gr GROUP BY bucket
    ), tot AS (
        SELECT SUM(c_t) AS t_t, SUM(c_r) AS t_r FROM stats
    ), model AS (
        SELECT bucket,
               log2(CAST(c_t + 1 AS DOUBLE) / (t_t + {_DSIR_BUCKETS}))
             - log2(CAST(c_r + 1 AS DOUBLE) / (t_r + {_DSIR_BUCKETS})) AS lw
        FROM stats CROSS JOIN tot
    ), doc AS (
        SELECT gr.doc_id,
               CAST(SUM(gr.tf) AS BIGINT) AS n_grams,
               ROUND(SUM(gr.tf * m.lw) / SUM(gr.tf), 6) + 0.0 AS dsir_logw
        FROM gr JOIN model m USING (bucket)
        GROUP BY gr.doc_id
    )
"""

DSIR_ORACLE = f"""
WITH {_DSIR_GRAMS_DUCK}
SELECT doc_id, n_grams, dsir_logw, dsir_logw >= 0.0 AS dsir_keep
FROM doc
"""


@register(
    "dsir_importance_weights",
    oracle=DSIR_ORACLE,
    tags=("text", "selection", "dsir"),
    past_window=True,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weight per document (Xie et al. 2023).

    Hashed unigram+bigram bag-of-words likelihood ratio between the
    target distribution (the ``lang = 'en'`` slice standing in for a
    trusted corpus — swap the predicate for a real target sample; every
    downstream line is unchanged) and the raw corpus distribution,
    add-1 smoothed, averaged per gram. ``dsir_keep`` marks documents
    whose gram bag is at least as likely under the target as under the
    raw distribution.

    One corpus scan: the hashed-gram frame is persisted and feeds both
    the bounded bucket-stats aggregate (→ broadcast model) and the
    scoring join. At 100 TB the model table is still ~10k rows — the
    only full-data exchanges are the (doc, bucket) combine and the
    doc-grain aggregate.
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    return dsir_weight_frame(scoped_persist(hashed_gram_frame(docs)))


GUMBEL_ORACLE = f"""
WITH {_DSIR_GRAMS_DUCK}
SELECT doc_id, dsir_logw,
       ROUND(dsir_logw - ln(-ln(({_H32_DUCK.format(x="concat('gum:', CAST(doc_id AS VARCHAR))")} + 0.5)
           / 4294967296.0)), 6) + 0.0 AS gumbel_score
FROM doc
ORDER BY gumbel_score DESC, doc_id
LIMIT {_DSIR_K}
"""


@register(
    "dsir_gumbel_resample",
    oracle=GUMBEL_ORACLE,
    tags=("text", "selection", "dsir", "unbenched"),
    past_window=True,
)
def dsir_gumbel_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's selection step: top-k under Gumbel-perturbed weights.

    Adding independent Gumbel noise to log-weights and taking the
    top-k samples WITHOUT replacement from the softmax of the weights
    (the Gumbel-top-k trick) — the paper's fix for hard top-k
    selecting near-duplicate argmax documents. The noise is seeded
    from ``hash32('gum:' || doc_id)`` → uniform ``(h + 0.5)/2³²`` →
    ``−ln(−ln u)``, so the sample is deterministic, engine-portable,
    and stable under re-partitioning — reproducible selection being
    the property that makes a 100 TB training set auditable.

    The top-k runs on the ROUNDED score with ``doc_id`` as the total
    tie-break, so the selected SET is engine-identical; physically it
    is a ``TakeOrderedAndProject`` (per-partition heaps of k), never a
    global sort or window.
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    weights = dsir_weight_frame(scoped_persist(hashed_gram_frame(docs)))
    u = (_h32(F.concat(F.lit("gum:"), F.col("doc_id").cast("string"))) + 0.5) / F.lit(
        4294967296.0
    )
    score = F.round(F.col("dsir_logw") - F.log(-F.log(u)), 6) + F.lit(0.0)
    return (
        weights.select("doc_id", "dsir_logw", score.alias("gumbel_score"))
        .orderBy(F.col("gumbel_score").desc(), "doc_id")
        .limit(_DSIR_K)
    )


# ------------------------------------------------------ per-source cap

_CAP_N = 20  # max docs kept per source
_CAP_SALT = 4  # phase-1 fan-out per source

CAP_ORACLE = f"""
SELECT source, doc_id, cap_rank
FROM (
    SELECT source, doc_id,
           CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY {_H32_DUCK.format(x="concat('cap:', CAST(doc_id AS VARCHAR))")}, doc_id
           ) AS BIGINT) AS cap_rank
    FROM documents
)
WHERE cap_rank <= {_CAP_N}
"""


@register(
    "per_source_cap",
    oracle=CAP_ORACLE,
    tags=("text", "selection", "balancing"),
    past_window=True,
)
def per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain balancing: keep at most N documents per source, chosen by
    deterministic hash rank.

    The web-corpus cap rule (a handful of hot domains otherwise dominate
    a crawl): within each source, documents are ranked by
    ``hash32('cap:' || doc_id)`` — a uniform, reproducible shuffle that
    makes the cap an unbiased sample rather than a head-of-file
    artifact — and ranks beyond the cap are dropped.

    Scale shape — the naive spelling is one ``row_number`` window
    partitioned by source, which serializes each source's ENTIRE
    document set through one task; a hot domain with 10⁹ docs makes
    that the job. This runs the exact two-phase grouped top-N instead:

    1. rank within (source, salt) — ``_CAP_SALT`` parallel groups per
       source, each keeping its own top N. The phase-1 windows are
       bounded by the largest (source, salt) slice, 1/S of the hot key;
    2. re-rank the ≤ S·N survivors per source — the phase-2 window
       never sees more than ``_CAP_SALT × _CAP_N`` rows per source,
       CONSTANT in corpus size.

    Exact because ordering is doc-local (hash, doc_id): every global
    top-N member is top-N within its own salt group, so phase 1 never
    drops a winner. The oracle spells the single-window form; results
    are identical, plans differ by design (the two-phase ≡ single-window
    equivalence is additionally Hypothesis-pinned over arbitrary
    source-size skews in ``tests/test_properties.py``).
    """
    return per_source_cap_frame(load_table(spark, sf_dir, "documents"))


def per_source_cap_frame(
    docs: DataFrame, n: int = _CAP_N, salt: int = _CAP_SALT
) -> DataFrame:
    """Frame-level core of ``per_source_cap`` (see its docstring for the
    two-phase exactness argument) — parameterized so tests can pin the
    two-phase plan against the naive single window on adversarial
    source-size skews."""
    h = _h32(F.concat(F.lit("cap:"), F.col("doc_id").cast("string")))
    ranked = docs.select("source", "doc_id", h.alias("h"))
    w1 = Window.partitionBy("source", F.col("h") % salt).orderBy("h", "doc_id")
    phase1 = ranked.withColumn("r1", F.row_number().over(w1)).filter(F.col("r1") <= n)
    w2 = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        phase1.withColumn("cap_rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("cap_rank") <= n)
        .select("source", "doc_id", "cap_rank")
    )


# ------------------------------------------------ stratified sampling

_STRAT_FRAC = 0.1  # eval-split fraction per stratum

STRATIFIED_ORACLE = f"""
WITH c AS (
    SELECT source, COUNT(*) AS n_stratum FROM documents GROUP BY source
), r AS (
    SELECT d.source, d.doc_id, c.n_stratum,
           CAST(row_number() OVER (
               PARTITION BY d.source
               ORDER BY {_H32_DUCK.format(x="concat('strat:', CAST(d.doc_id AS VARCHAR))")}, d.doc_id
           ) AS BIGINT) AS strat_rank
    FROM documents d JOIN c USING (source)
)
SELECT source, doc_id, strat_rank, CAST(n_stratum AS BIGINT) AS n_stratum
FROM r
WHERE strat_rank <= CAST(floor({_STRAT_FRAC} * n_stratum) AS BIGINT)
"""


@register(
    "stratified_exact_sample",
    oracle=STRATIFIED_ORACLE,
    tags=("text", "selection", "sampling"),
    past_window=True,
)
def stratified_exact_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count stratified sample: exactly ``⌊f·n⌋`` documents per
    source, chosen by deterministic hash rank.

    The complement to ``doc_sample_split``'s hash-threshold splits:
    thresholding gives each doc an independent f-probability (split
    sizes are binomial — fine for train/val at corpus scale, wrong for
    an eval set that must have EXACTLY 5k examples per source). Here
    the per-stratum counts (a |sources|-row broadcast) set a hard rank
    cutoff, so sizes are exact by construction and membership is still
    hash-deterministic — stable across runs and re-partitionings.

    Scale shape is ``per_source_cap``'s two-phase grouped top-N with a
    DATA-DEPENDENT N: phase 1 ranks within (source, salt) and keeps
    ranks ≤ the stratum's cutoff (each salt group individually can
    never contribute a winner beyond it), phase 2 re-ranks the ≤
    salt·N survivors per source. The hot-stratum window stays bounded
    by its own cutoff, not the corpus. The oracle spells the single
    window; results identical, plans differ by design.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_stratum"))
    n_keep = F.floor(F.lit(_STRAT_FRAC) * F.col("n_stratum")).cast("long")
    h = _h32(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
    ranked = docs.select("source", "doc_id", h.alias("h")).join(
        F.broadcast(counts.select("source", n_keep.alias("n_keep"), "n_stratum")),
        "source",
    )
    w1 = Window.partitionBy("source", F.col("h") % _CAP_SALT).orderBy("h", "doc_id")
    phase1 = ranked.withColumn("r1", F.row_number().over(w1)).filter(
        F.col("r1") <= F.col("n_keep")
    )
    w2 = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        phase1.withColumn("strat_rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("strat_rank") <= F.col("n_keep"))
        .select("source", "doc_id", "strat_rank", F.col("n_stratum").cast("long").alias("n_stratum"))
    )


# ------------------------------------- quality-ranked token budgeting

_BUDGET_FRAC = 0.5  # spend half the corpus's tokens on the best docs


def token_budget_select_frame(
    scored: DataFrame, frac: float = _BUDGET_FRAC
) -> DataFrame:
    """Greedy token-budget fill over a (doc_id, clf_margin, n_tokens)
    scored frame: rank by (margin DESC, doc_id), keep documents while
    the running token total stays within ``floor(frac · total_tokens)``
    — strict semantics, the last doc that would overshoot is dropped.

    The global running total is ``positions.ordered_positions``, not a
    window: one range exchange on the (negated) margin, an Arrow
    in-partition cumsum and a #partitions-row summary, never a
    single-reducer ORDER BY over the corpus. The budget total rides that
    same summary, not a separate full-frame aggregate (one job and one
    broadcast fewer).
    """
    ranked = scored.select(
        "doc_id", "clf_margin", F.col("n_tokens").cast("long").alias("n_tokens")
    ).withColumn("_negm", -F.col("clf_margin"))
    sel = ordered_positions(ranked, ["_negm", "doc_id"], weight="n_tokens", eager=True)
    return sel.filter(
        F.col("cum_before") + F.col("n_tokens")
        <= F.floor(F.lit(frac) * F.col("total")).cast("long")
    ).select(
        "doc_id",
        F.col("clf_margin").alias("quality_margin"),
        "n_tokens",
        "cum_before",
    )


def _token_budget_oracle() -> str:
    from gmall_flink_parent_spark.functions.quality import CLASSIFIER_ORACLE

    return f"""
WITH s AS (
    SELECT doc_id, clf_margin, n_tokens FROM ({CLASSIFIER_ORACLE})
), tot AS (
    SELECT CAST(FLOOR({_BUDGET_FRAC} * SUM(n_tokens)) AS BIGINT) AS budget FROM s
), r AS (
    SELECT doc_id, clf_margin, n_tokens,
           COALESCE(SUM(n_tokens) OVER (
               ORDER BY clf_margin DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS cum_before
    FROM s
)
SELECT r.doc_id,
       r.clf_margin AS quality_margin,
       CAST(r.n_tokens AS BIGINT) AS n_tokens,
       CAST(r.cum_before AS BIGINT) AS cum_before
FROM r CROSS JOIN tot
WHERE r.cum_before + r.n_tokens <= tot.budget
"""


@register(
    "token_budget_select",
    oracle=_token_budget_oracle(),
    tags=("text", "selection", "quality", "budget"),
    past_window=True,
)
def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend a training-token budget on the highest-quality documents:
    rank the corpus by classifier margin and keep documents greedily
    until ``floor(0.5 · total_tokens)`` is filled — the
    DataComp/FineWeb-style "top documents by classifier" selection
    priced in TOKENS, which is what the budget actually is (a doc count
    ignores that long documents spend it faster).

    Scoring reuses ``hash_classifier_frame`` (same model table as
    ``doc_hash_classifier_score``, so the two heads cannot disagree on
    a margin); the oracle's single-node ``SUM OVER (ORDER BY …)``
    window is replaced by the distributed prefix sum the packing stage
    already audits — range exchange + Arrow in-partition cumsum +
    broadcast offsets — and the driver-checked ``cum_before`` column
    proves the distributed running total exact, not just the selected
    set. Composes into ``build_pretraining_dataset(keep_docs=…)`` like
    every selection head.
    """
    from gmall_flink_parent_spark.functions.quality import hash_classifier_frame

    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = hash_classifier_frame(tf, group_cols=("doc_id",)).select(
        "doc_id", "clf_margin", "n_tokens"
    )
    return token_budget_select_frame(scored)


# -------------------- weighted sampling without replacement (A-Res)

WS_SEED = "ws-r9"
WS_K = 30  # < the sf0.001 corpus size so every scale has a real cutoff
_WS_DENOM = float(1 << 60)  # md5's leading 15 hex chars are < 2^60

WEIGHTED_SAMPLE_ORACLE = f"""
WITH keyed AS (
    SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
           ROUND(
               ln((CAST(concat('0x', substr(md5(concat('{WS_SEED}', '#', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) + 1)
                  / {_WS_DENOM})
               / CAST(n_chars AS DOUBLE), 9) AS es_key
    FROM documents WHERE n_chars > 0
)
SELECT doc_id, weight, es_key
FROM keyed
ORDER BY es_key DESC, doc_id
LIMIT {WS_K}
"""


@register(
    "weighted_sample_docs",
    oracle=WEIGHTED_SAMPLE_ORACLE,
    tags=("text", "sampling", "selection"),
    past_window=True,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (k=30, weight = n_chars)
    via Efraimidis-Spirakis A-Res keys — the one-pass distributed
    answer to "sample documents proportional to length": each row gets
    key u^(1/w) for uniform u, and the k largest keys ARE a weighted
    sample without replacement (Efraimidis & Spirakis 2006, IPL).

    Determinism: u derives from md5(seed # doc_id) — the corpus-wide
    reproducibility discipline every sampling head here follows (same
    seed → same sample on any cluster, any partitioning). The rank
    runs on ln(u)/w, monotone in the key; the ROUNDED rank value with
    a doc_id tiebreak makes the cutoff engine-portable (the bm25
    discipline for libm's last ulp). Scale shape: one scan computing
    the key in codegen, then TakeOrderedAndProject — per-partition
    top-k, k rows to the driver side of the sort, never a global
    shuffle; the weighted sample of 100 TB costs one pass.
    """
    return weighted_sample_frame(
        load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0),
        weight_col="n_chars",
        k=WS_K,
        seed=WS_SEED,
    )


def weighted_sample_frame(
    docs: DataFrame, weight_col: str, k: int, seed: str
) -> DataFrame:
    """The A-Res core over any (doc_id, weight) frame — see
    ``weighted_sample_docs`` for the sampling and determinism
    arguments. Weights must be positive."""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("#", F.lit(seed), F.col("doc_id"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        + 1
    ) / F.lit(_WS_DENOM)
    es_key = F.round(F.log(u) / F.col(weight_col).cast("double"), 9)
    return (
        docs.select(
            "doc_id",
            F.col(weight_col).cast("long").alias("weight"),
            es_key.alias("es_key"),
        )
        .orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(k)
    )
