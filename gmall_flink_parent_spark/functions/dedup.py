"""Deduplication operators for large-scale corpus curation.

Four tiers, each a registered query over ``documents``:

- **exact** — hash-groupBy on a normalized md5 fingerprint; one shuffle
  on the 128-bit key, no skew (hash keys are uniform).
- **blocked exact Jaccard** — token-set Jaccard within blocking keys; the
  quadratic cost is bounded per block, not per corpus.
- **MinHash + LSH** — signatures → banding → bucket equi-join; the 100 TB
  path: candidate generation is a join on band hashes, never all-pairs.
- **SimHash** — 32-bit signatures + Hamming-ball candidate filter.

Portability note: every hash in this module is md5-derived because md5 is
the one hash function Spark and DuckDB compute identically (xxhash64 /
``hash()`` are engine-specific), letting the LSH pipelines be
oracle-checked end-to-end. MinHash signature components are *hex-string
minima* — order statistics over md5 strings — which avoids unportable
hex→int conversion entirely. In production the same plans run with
xxhash64 for speed; the structure is hash-agnostic.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_parent_spark.functions.simhash import (
    SIMHASH_BITS,
    _simhash_value_col,
    _simhash_value_sql_duckdb,
    _TOK32_DUCK,
    token_hashes_col,
)
from gmall_flink_parent_spark.registry import cached, register, scoped_persist
from gmall_flink_parent_spark.sources.tables import fan_out, load_table

NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS
JACCARD_THRESHOLD = 0.6
HAMMING_THRESHOLD = 3  # of SIMHASH_BITS=32 — ≈90% bit agreement


def band_hash_cols() -> list[Column]:
    """The LSH band-hash columns ``bh0..bh{BANDS-1}`` over the scalar
    signature columns ``s0..s{NUM_HASHES-1}`` — THE bucketing every band
    join in this module keys on. Single definition shared by the batch
    LSH, the incremental job, and the skew bench so the bucketing can
    never silently drift between them."""
    return [
        F.concat_ws(
            ":", *[F.col(f"s{j * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        ).alias(f"bh{j}")
        for j in range(BANDS)
    ]

DEDUP_EXACT_ORACLE = """
SELECT md5(lower(trim(text))) AS fingerprint,
       CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY md5(lower(trim(text)))
"""


@register("dedup_exact", oracle=DEDUP_EXACT_ORACLE, tags=("dedup",), past_window=True)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per content fingerprint.

    GroupBy on md5(normalized text) — partial aggregation map-side, one
    shuffle of (128-bit key, min-id, count) pairs. At 100 TB this is the
    cheapest possible exact-dup pass: bytes shuffled ≈ #distinct docs.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


JACCARD_ORACLE = f"""
WITH t AS (
    SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks
    FROM documents
)
SELECT doc_id_a, doc_id_b, jaccard
FROM (
    SELECT a.doc_id AS doc_id_a,
           b.doc_id AS doc_id_b,
           ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))),
                 6) AS jaccard
    FROM t a
    JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
)
WHERE jaccard >= {JACCARD_THRESHOLD}
"""


def dedup_jaccard_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup within source blocks.

    The blocking key bounds the self-join: cost is Σ_block n_b², not N².
    This is the ground-truth oracle the approximate tiers (MinHash,
    SimHash) are validated against in tests. Registered via
    ``dedup_jaccard_tiers`` (one query, ``tier`` column).
    """
    # fan_out: the blocked self-join is quadratic per block — run it as
    # wide as the cluster, not as wide as the (single-split) scan.
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    t = docs.select(
        "doc_id", "source", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    a = t.alias("a")
    b = t.alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.col("a.toks")) + F.size(F.col("b.toks")) - inter
    jac = F.round(inter.cast("double") / union, 6)
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


NGRAM_N = 3
NGRAM_JACCARD_THRESHOLD = 0.02

NGRAM_JACCARD_ORACLE = f"""
WITH t AS (
    SELECT doc_id, source, sh
    FROM (
        SELECT doc_id, source,
               list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                   i -> concat_ws(' ', string_split(text, ' ')[i],
                                  string_split(text, ' ')[i + 1],
                                  string_split(text, ' ')[i + 2])
               )) AS sh
        FROM documents
    )
    WHERE len(sh) > 0
)
SELECT doc_id_a, doc_id_b, jaccard
FROM (
    SELECT a.doc_id AS doc_id_a,
           b.doc_id AS doc_id_b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                 6) AS jaccard
    FROM t a
    JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
)
WHERE jaccard >= {NGRAM_JACCARD_THRESHOLD}
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram (shingle) Jaccard near-dup within source blocks.

    Shingling preserves word *order*, so unlike token-set Jaccard
    (`dedup_jaccard_blocked`) two docs drawing on the same vocabulary
    but phrased differently score near zero — the standard
    boilerplate-resistant near-dup signal. Same blocked self-join shape:
    cost is Σ_block n_b², and at corpus scale the shingle sets feed the
    MinHash pipeline instead of being compared exactly.
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    shingles = F.array_distinct(
        F.when(
            F.size("toks") >= NGRAM_N,
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (NGRAM_N - 1)),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("toks"), i),
                    F.element_at(F.col("toks"), i + 1),
                    F.element_at(F.col("toks"), i + 2),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    t = (
        docs.select("doc_id", "source", toks.alias("toks"))
        .select("doc_id", "source", shingles.alias("sh"))
        .filter(F.size("sh") > 0)
    )
    a, b = t.alias("a"), t.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    jac = F.round(inter.cast("double") / union, 6)
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= NGRAM_JACCARD_THRESHOLD)
    )


JACCARD_TIERS_ORACLE = f"""
SELECT 'token_set' AS tier, * FROM ({JACCARD_ORACLE})
UNION ALL
SELECT 'ngram3' AS tier, * FROM ({NGRAM_JACCARD_ORACLE})
"""


# rotated out of the driver window in round 12 (long-green since r1;
# dedup_exact/minhash/cascade/simhash/prefix keep the family in-window)
@register(
    "dedup_jaccard_tiers",
    oracle=JACCARD_TIERS_ORACLE,
    tags=("dedup", "ngram", "unbenched"),
    past_window=True,
)
def dedup_jaccard_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both exact-Jaccard ground-truth tiers in one query, tagged by
    ``tier``: token-set Jaccard (order-free, threshold 0.6) and word-
    3-gram shingle Jaccard (order-preserving, threshold 0.02).

    These are the documented ORACLE tiers (SURVEY §2 note): the blocked
    self-join is quadratic per source block by design, and the corpus-
    scale path is MinHash/SimHash whose candidates these tiers validate
    against in tests. One registration, two tiers — the union is two
    independent blocked joins off the same scan shape.
    """
    a = dedup_jaccard_blocked(spark, sf_dir).select(
        F.lit("token_set").alias("tier"), "doc_id_a", "doc_id_b", "jaccard"
    )
    b = dedup_ngram_jaccard(spark, sf_dir).select(
        F.lit("ngram3").alias("tier"), "doc_id_a", "doc_id_b", "jaccard"
    )
    return a.unionByName(b)


# ---------------------------------------------------------------- MinHash

# Universal-hash family over one base md5 per token: h_i(t) = (a_i·h + b_i)
# mod P, with h = md5(t)[0:15] parsed as an integer, reduced mod P. One
# digest per token (not per hash function) — 16× less hashing than the
# naive scheme; coefficients are fixed literals so Spark and the oracle
# compute identical signatures.
MINHASH_P = 1_000_000_007
A_COEF = [(i * 2_654_435_761 + 1) % MINHASH_P for i in range(NUM_HASHES)]
B_COEF = [(i * 40_503 + 12_345) % MINHASH_P for i in range(NUM_HASHES)]

# token → bounded integer hash (engine-specific hex parse, same value)
_TOKHASH_DUCK = f"CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % {MINHASH_P}"


def _perm_min(i: int):
    # factory (not default-arg binding) — PySpark introspects lambda arity
    a, b = A_COEF[i], B_COEF[i]
    return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)


def _minhash_sigs(docs: DataFrame) -> DataFrame:
    hashes = F.transform(
        F.array_distinct(F.split("text", " ")),
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
        % F.lit(MINHASH_P),
    )
    sig_cols = [
        F.array_min(F.transform(F.col("hashes"), _perm_min(i))).alias(f"s{i}")
        for i in range(NUM_HASHES)
    ]
    return docs.select("doc_id", hashes.alias("hashes")).select("doc_id", *sig_cols)


def _minhash_pairs_ctes() -> str:
    """The MinHash-LSH pair generation as a CTE list (no leading WITH),
    ending in ``mh_pairs`` — shared by the pair-level oracle and the
    recursive connected-components oracles built on the same graph."""
    sig_exprs = ",\n           ".join(
        f"list_min(list_transform(hashes, h -> (h * {A_COEF[i]} + {B_COEF[i]}) "
        f"% {MINHASH_P})) AS s{i}"
        for i in range(NUM_HASHES)
    )
    band_selects = "\n    UNION ALL\n".join(
        "    SELECT doc_id, {j} AS band_idx, concat_ws(':', {cols}) AS bh FROM sigs".format(
            j=j,
            cols=", ".join(f"s{j * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)),
        )
        for j in range(BANDS)
    )
    matches = " + ".join(
        f"(CASE WHEN x.s{i} = y.s{i} THEN 1 ELSE 0 END)" for i in range(NUM_HASHES)
    )
    return f"""base AS (
    SELECT doc_id,
           list_transform(list_distinct(string_split(text, ' ')),
                          t -> {_TOKHASH_DUCK}) AS hashes
    FROM documents
), sigs AS (
    SELECT doc_id,
           {sig_exprs}
    FROM base
), banded AS (
{band_selects}
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
    FROM banded a
    JOIN banded b ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
), mh_pairs AS (
    SELECT doc_id_a, doc_id_b, est_jaccard
    FROM (
        SELECT c.doc_id_a, c.doc_id_b,
               ROUND(({matches}) / {NUM_HASHES}.0, 6) AS est_jaccard
        FROM cand c
        JOIN sigs x ON c.doc_id_a = x.doc_id
        JOIN sigs y ON c.doc_id_b = y.doc_id
    )
    WHERE est_jaccard >= {JACCARD_THRESHOLD}
)"""


def _minhash_oracle() -> str:
    return f"""
WITH {_minhash_pairs_ctes()}
SELECT doc_id_a, doc_id_b, est_jaccard FROM mh_pairs
"""


def _cluster_keep_oracle() -> str:
    """Connected components over the MinHash pair graph as a DuckDB
    RECURSIVE CTE: ``reach`` enumerates every node reachable from each
    doc (UNION dedups, so recursion stops at the closure's fixed
    point), and the component label is the minimum reachable id —
    exactly the min-label fixed point the Spark pointer-jumping CC
    converges to. Closure size is Σ|component|² — fine at oracle scale
    (~230k rows at sf0.01), which is the point: the ORACLE may be
    quadratic where the engine must not be."""
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
)
SELECT doc_id,
       CAST(min(r) AS BIGINT) AS cluster_id,
       (doc_id = min(r)) AS is_keeper
FROM reach
GROUP BY doc_id
"""


@register("dedup_minhash_lsh", oracle=_minhash_oracle(), tags=("dedup", "lsh"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands × 4 rows) near-dup pairs.

    The scale path: shingle → minhash → **collapse identical
    signatures** → band → bucket equi-join — candidate generation is a
    shuffle on band hashes over *distinct signatures*, never an
    all-pairs product over docs. Two structural optimizations keep the
    wide stage small at 100 TB:

    - **Exact-dup collapse first.** Docs grouped by full signature into
      clusters before banding; duplicate-heavy corpora (boilerplate,
      mirrored pages) shrink the join quadratically. Doc-level pairs
      are re-expanded by a cheap codegen explode at the very end —
      output size is irreducible, the join no longer scales with it.
    - **First-matching-band filter, not dropDuplicates.** A pair
      colliding in k bands would surface k times; both full band lists
      ride the join, so rows where ``band_idx`` isn't the pair's first
      matching band die in a codegen filter — the output-sized
      dedup shuffle is gone entirely.

    The signature-cluster frame is **persisted** (see ``_minhash_pairs``)
    so all three consumers (both self-join sides + the within-cluster
    branch) read one materialization — one corpus scan, one signature
    computation — while AQE stays enabled for the band join (skew split,
    runtime partition coalescing). r1 achieved one-scan via an AQE-off
    child session relying on static ``ReusedExchange``; that broke down
    the moment the plan grew (the cascade query re-minhashed the corpus
    3×), so the explicit cache is the robust form.
    """
    return _minhash_pairs(spark, sf_dir)


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH pair generation against whatever session it is handed.

    ``clusters`` (one row per distinct signature: ids + sig + band
    hashes) is persisted and eagerly materialized: it is consumed three
    times downstream, and it is the REDUCED frame — distinct-signature
    count × ~200 B, orders of magnitude smaller than the corpus — so
    caching it is cheap at any scale while recomputing it means
    re-scanning and re-minhashing the corpus per consumer.
    """
    # fan_out: one md5 per token × 16 permutations is the CPU-dominant
    # stage — run it cluster-wide even on a single-split scan.
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    sig_cols = [f"s{i}" for i in range(NUM_HASHES)]
    band_cols = band_hash_cols()
    # Signatures and band hashes stay SCALAR columns (s0..s15, bh0..bh3)
    # through the join rather than arrays: the per-pair first-band and
    # match-count logic then unrolls to plain CASE/sum expressions inside
    # whole-stage codegen, where the array form (zip_with/array_position/
    # filter lambdas) is evaluated interpreted per pair — measured ~2× on
    # the join stage at sf0.1's ~5.8M-pair output.
    clusters = (
        _minhash_sigs(docs)
        .groupBy(*sig_cols)
        .agg(F.collect_list("doc_id").alias("ids"))
        .select(F.array_min("ids").alias("rep"), "ids", *sig_cols, *band_cols)
    )
    # query-scoped; EAGER: the first action is the band-join job whose
    # two self-join map stages + the within-cluster branch would race on
    # a lazily-filled cache (block-lock serialization — the r3 2× bench
    # regression). One count over the reduced frame restores r1's
    # fill-then-join profile while keeping the scoped lifecycle.
    clusters = scoped_persist(clusters, eager=True)
    # posexplode_outer, deliberately: plain posexplode makes the optimizer
    # infer `size(...) > 0`, and that filter is pushed below the signature
    # aggregate where it re-expands to all 16 minhash expressions per raw
    # row — doubling (and then some) the whole signature computation. The
    # band array is a literal 4-array, never empty, so _outer is identical
    # in output and infers no filter.
    banded = clusters.select(
        "rep",
        "ids",
        *sig_cols,
        F.posexplode_outer(F.array(*[F.col(f"bh{j}") for j in range(BANDS)])).alias(
            "band_idx", "bh"
        ),
    )
    # Structural skew fallback is opt-in via session config (see
    # _band_pairs): unset compiles the plain single-join plan.
    conf_threshold = spark.conf.get(HOT_BUCKET_CONF, None)
    cross = _band_pairs(
        banded,
        hot_threshold=int(conf_threshold) if conf_threshold is not None else None,
    )
    # identical-signature pairs: est_jaccard is exactly 16/16
    within = (
        clusters.filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), y -> struct(x, y))))"
                )
            ).alias("p")
        )
        .select(F.col("p.x").alias("x"), F.col("p.y").alias("y"), F.lit(1.0).alias("est_jaccard"))
    )
    return cross.unionByName(within).select(
        F.least("x", "y").alias("doc_id_a"),
        F.greatest("x", "y").alias("doc_id_b"),
        "est_jaccard",
    )


def _first_band_expr() -> Column:
    """Index of the first band where the joined a/b signature rows agree
    — unrolled over the scalar s-columns so it compiles to a codegen
    CASE, not an interpreted array lambda per pair."""
    first_band = F.when(F.col("a.s0").isNull(), None)  # never-taken seed
    for j in range(BANDS):
        cond = reduce(
            lambda acc, r: acc
            & (
                F.col(f"a.s{j * ROWS_PER_BAND + r}")
                == F.col(f"b.s{j * ROWS_PER_BAND + r}")
            ),
            range(1, ROWS_PER_BAND),
            F.col(f"a.s{j * ROWS_PER_BAND}") == F.col(f"b.s{j * ROWS_PER_BAND}"),
        )
        first_band = first_band.when(cond, j)
    return first_band


def _matches_expr() -> Column:
    """Count of agreeing signature components between joined a/b rows."""
    return reduce(
        lambda acc, i: acc + (F.col(f"a.s{i}") == F.col(f"b.s{i}")).cast("int"),
        range(1, NUM_HASHES),
        (F.col("a.s0") == F.col("b.s0")).cast("int"),
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """Public signature computation: (doc_id, s0..s15) — the frame a
    signature STORE persists so incremental dedup never re-minhashes
    the historical corpus. One row per document, ~150 B each."""
    return _minhash_sigs(docs)


def dedup_minhash_incremental(
    new_sigs: DataFrame, store_sigs: DataFrame | None = None
) -> DataFrame:
    """Near-dup pairs for a NEW batch of documents against itself and a
    persisted signature store — the incremental production shape (daily
    crawl vs corpus) where corpus signatures are computed once, ever.

    Candidate generation is a band equi-join with the batch on the probe
    side: new×store pairs via the store's banded side, new×new pairs via
    ``doc_id_a < doc_id_b`` within the batch — each unordered pair is
    emitted exactly once, in the batch where its later member arrives,
    so the union of per-batch outputs over any batch split equals the
    full-corpus batch run (pinned by a parity test). At 100 TB the store
    side shuffles on band hashes ∝ corpus while the batch side is
    batch-sized; with a small batch AQE broadcasts it and the store is
    probed in place. First-matching-band filter and match counting are
    the same codegen expressions as the batch path.

    Reprocessing a batch re-emits its pairs (at-least-once); the store
    upsert is idempotent by doc_id, so the streaming job's checkpoint is
    the dedup boundary for the pair sink.
    """
    sig_cols = [f"s{i}" for i in range(NUM_HASHES)]

    def banded(sigs: DataFrame, is_old: bool) -> DataFrame:
        band_cols = band_hash_cols()
        return sigs.select(
            "doc_id", *sig_cols, *band_cols, F.lit(is_old).alias("is_old")
        ).select(
            "doc_id",
            *sig_cols,
            "is_old",
            F.posexplode_outer(
                F.array(*[F.col(f"bh{j}") for j in range(BANDS)])
            ).alias("band_idx", "bh"),
        )

    new_banded = banded(new_sigs, False)
    all_banded = (
        new_banded.unionByName(banded(store_sigs, True))
        if store_sigs is not None
        else new_banded
    )
    pairs = (
        new_banded.alias("a")
        .join(
            all_banded.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (
                # store side: any orientation, but never the doc's own
                # stale store row when a doc_id is re-ingested
                (F.col("b.is_old") & (F.col("a.doc_id") != F.col("b.doc_id")))
                # batch side: one orientation per pair
                | (~F.col("b.is_old") & (F.col("a.doc_id") < F.col("b.doc_id")))
            ),
        )
        .filter(F.col("a.band_idx") == _first_band_expr())
        .select(
            F.col("a.doc_id").alias("x"),
            F.col("b.doc_id").alias("y"),
            F.round(_matches_expr() / F.lit(float(NUM_HASHES)), 6).alias(
                "est_jaccard"
            ),
        )
        .filter(F.col("est_jaccard") >= JACCARD_THRESHOLD)
    )
    return pairs.select(
        F.least("x", "y").alias("doc_id_a"),
        F.greatest("x", "y").alias("doc_id_b"),
        "est_jaccard",
    )


# Session config enabling the salted band join: set to a bucket-size
# threshold (clusters per band bucket) to activate. Unset → plain
# equi-join; AQE's skew split stays the runtime defense. Mirrors how
# Spark itself gates structural skew rewrites behind a switch.
HOT_BUCKET_CONF = "spark.gmall_flink.minhash.hotBucketThreshold"
# A band bucket with more signature-clusters than the threshold gets the
# salted join (its self-join would put threshold² candidate rows in one
# task); 2048² ≈ 4M join rows is the per-task pain boundary on
# executor-sized memory — the value to start from when enabling.
MINHASH_HOT_BUCKET = 2048
# Salt fan-out for hot buckets: quadratic work per bucket divides by
# this; probe-side replication multiplies by it (only for hot rows). At
# real scale size it ∝ the hottest bucket; fixed here for determinism.
N_BAND_SALT = 16


def _band_pairs(
    banded: DataFrame,
    n_salt: int = N_BAND_SALT,
    hot_threshold: int | None = None,
) -> DataFrame:
    """Candidate pairs from a banded signature frame (columns: rep, ids,
    s0..s15, band_idx, bh) — with an opt-in **salted fallback for hot
    buckets** (``hot_threshold``; wired to ``HOT_BUCKET_CONF``).

    AQE's skew-join split covers moderate skew at runtime, but a single
    pathological band bucket (boilerplate corpora: one template shared
    by millions of docs collapses to thousands of near-identical
    signature clusters in one bucket) concentrates B² join work on one
    task regardless of partition splitting, because every pair needs
    both rows. The structural fix mirrors ``skew_salted_join``
    (`operators/skew.py`): bucket sizes are counted (cluster-count-sized
    aggregate — cheap), buckets above ``hot_threshold`` are broadcast as
    a tag list, and hot rows take a salted self-join — the probe side
    replicated ``n_salt``× with an explicit probe group, the build side
    hashed into a group by ``rep`` — so each hot bucket's quadratic work
    spreads over ``n_salt`` tasks with a build side of B/n_salt rows.
    Cold buckets keep the plain equi-join. Any salt assignment yields
    identical pairs (each (x, y) joins exactly once: x's replica in
    y's group); the property test pins salted ≡ unsalted.

    ``hot_threshold=None`` (the default) compiles the plain single
    equi-join with ZERO added stages: the detect-tag-split machinery
    costs a measured ~25% on the flagship dedup queries when no bucket
    is hot (4 extra cached-frame consumers + an aggregate + a broadcast
    per run), so — like Spark's own skew-join switch — the structural
    rewrite is a config the operator flips when the corpus is known to
    be template-heavy, not a default tax.
    """

    def project(a_side: DataFrame, b_side: DataFrame, extra: Column) -> DataFrame:
        return (
            a_side.alias("a")
            .join(
                b_side.alias("b"),
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.bh") == F.col("b.bh"))
                & (F.col("a.rep") < F.col("b.rep"))
                & extra,
            )
            .filter(F.col("a.band_idx") == _first_band_expr())
            .select(
                F.col("a.ids").alias("ids_a"),
                F.col("b.ids").alias("ids_b"),
                F.round(
                    _matches_expr() / F.lit(float(NUM_HASHES)), 6
                ).alias("est_jaccard"),
            )
            .filter(F.col("est_jaccard") >= JACCARD_THRESHOLD)
        )

    if hot_threshold is None:
        return (
            project(banded, banded, F.lit(True))
            .select(F.explode("ids_a").alias("x"), "ids_b", "est_jaccard")
            .select("x", F.explode("ids_b").alias("y"), "est_jaccard")
        )
    hot_buckets = (
        banded.groupBy("band_idx", "bh")
        .agg(F.count(F.lit(1)).alias("n_bucket"))
        .filter(F.col("n_bucket") > hot_threshold)
        .select("band_idx", "bh", F.lit(True).alias("is_hot"))
    )
    # Four consumers read the tagged frame (both cold join sides, probe,
    # build) and AQE plans the bucket-count + broadcast + tag join anew
    # per consumer (no ReusedExchange under AQE — the r1 lesson), which
    # measured ~2× on the whole query. The tagged frame is the banded
    # frame + 1 bit, so the query-scoped cache is cheap at any scale.
    tagged = scoped_persist(
        banded.join(F.broadcast(hot_buckets), ["band_idx", "bh"], "left"),
        eager=True,  # 4 concurrent consumers — same lazy-fill race as clusters
    )
    cold = tagged.filter(F.col("is_hot").isNull()).drop("is_hot")
    hot = tagged.filter(F.col("is_hot").isNotNull()).drop("is_hot")
    pairs = project(cold, cold, F.lit(True))
    # Probe side replicated across all salt groups; build side hashed
    # into one group by rep. xxhash64 is engine-local but the salt never
    # reaches the output, so oracle portability is unaffected.
    probe = hot.withColumn(
        "probe_g", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    build = hot.withColumn("salt_g", F.pmod(F.xxhash64("rep"), F.lit(n_salt)))
    salted = project(probe, build, F.col("a.probe_g") == F.col("b.salt_g"))
    return (
        pairs.unionByName(salted)
        .select(F.explode("ids_a").alias("x"), "ids_b", "est_jaccard")
        .select("x", F.explode("ids_b").alias("y"), "est_jaccard")
    )


@register(
    "dedup_cluster_keep",
    oracle=_cluster_keep_oracle(),
    tags=("dedup", "iterative", "unbenched"),
    past_window=True,
)
def dedup_cluster_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup *cluster* assignment: connected components over the
    MinHash pair graph via min-label propagation; keep = lowest doc_id.

    The step a real dedup pipeline runs after pair generation — pairs
    alone can't answer "which docs do I drop" when A~B and B~C but A≁C.
    Label propagation: every doc starts as its own label; each round
    every doc takes the min label in its neighborhood, then **pointer-
    jumps** (label ← label[label]) so label information travels
    exponentially — convergence in O(log diameter) rounds, not
    O(diameter) like plain propagation. Formerly rows-only (iterative);
    round 11 gave it a FULL hash oracle — DuckDB recursive-CTE
    reachability computes the same min-label fixed point
    (``_cluster_keep_oracle``), so the driver now hash-pins the
    iterative core. Transitivity/minimality invariants additionally
    pinned in ``tests/test_operators.py`` and chain-graph convergence
    in ``test_connected_components_long_chain``.
    """
    pairs = _minhash_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    labels = connected_components(docs, pairs)
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).alias("is_keeper"),
    )


def _leakage_split_oracle() -> str:
    """Cluster-root split as SQL: the recursive-CC core (see
    ``_cluster_keep_oracle``) + the same md5 bucket DuckDB computes for
    ``doc_sample_split``, keyed on the cluster root."""
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
)
SELECT doc_id, cluster_id,
       CAST(bucket AS INTEGER) AS bucket,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split
FROM (
    SELECT doc_id, cluster_id,
           CAST(concat('0x', substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 100 AS bucket
    FROM cc
)
"""


@register(
    "leakage_safe_split",
    oracle=_leakage_split_oracle(),
    tags=("text", "sampling", "dedup", "iterative", "unbenched"),
    past_window=True,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment that a near-dup cluster can never
    straddle: every document is bucketed by the md5 of its CLUSTER
    ROOT (connected components over the MinHash pair graph), not its
    own id — so if A ~ B survived dedup (or dedup wasn't run), A in
    train and B in test is impossible by construction, which is the
    eval-leakage failure mode a plain per-doc hash split
    (``doc_sample_split``) cannot rule out.

    Same 80/10/10 bucket boundaries and md5 trick as
    ``doc_sample_split``, keyed on ``cluster_id``: a document in no
    near-dup pair has itself as root and receives EXACTLY the per-doc
    split (pinned in tests) — adopting the leakage-safe form
    reassigns only clustered documents. Split fractions stay ≈ 80/10/10
    in cluster-count terms; a pathological corpus that is one giant
    cluster degenerates to one split, which is the correct answer for
    eval hygiene. Formerly rows-only (iterative CC); round 11 gave it
    the recursive-CTE hash oracle (``_leakage_split_oracle``) — the
    no-straddle and singleton-consistency invariants stay pinned in
    ``tests/test_operators.py``.
    """
    pairs = _minhash_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    labels = connected_components(docs, pairs)
    bucket = (
        F.conv(F.substring(F.md5(F.col("label").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    ).cast("int")
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        bucket.alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    max_rounds: int = 32,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by min-label propagation + pointer jumping.

    Each round: (a) every node takes the min label over itself and its
    neighbors (join + groupBy); (b) every node replaces its label with
    its label's label (one self-join) — the pointer-doubling step that
    collapses long paths in O(log diameter) rounds where plain
    neighbor-min needs O(diameter). Labels are always existing node ids,
    so the jump join is total.

    Raises ``RuntimeError`` if the fixed point is not reached within
    ``max_rounds`` — silently returning unconverged labels would yield
    wrong cluster assignments with no signal (with doubling, 32 rounds
    covers diameters beyond 2³², i.e. never in practice).

    Returns ``(doc_id, label)`` with label = min doc_id of the component.
    ``stats`` (optional dict) receives ``{"rounds": n}`` on convergence —
    the scale-run artifact records iterations × edge throughput.
    """
    edges = pairs.unionByName(
        pairs.select(
            F.col("doc_id_b").alias("doc_id_a"), F.col("doc_id_a").alias("doc_id_b")
        )
    )
    with cached(edges) as edges:
        labels = nodes.select("doc_id", F.col("doc_id").alias("label"))
        for _round in range(max_rounds):
            neighbor_min = (
                edges.join(labels, edges.doc_id_b == labels.doc_id)
                .groupBy("doc_id_a")
                .agg(F.min("label").alias("nbr_label"))
                .withColumnRenamed("doc_id_a", "doc_id")
            )
            propagated = labels.join(neighbor_min, "doc_id", "left").select(
                "doc_id",
                F.least("label", F.coalesce("nbr_label", "label")).alias("label"),
            )
            # cache before the pointer jump: the jump self-joins
            # `propagated`, and without a cache BOTH sides re-run the
            # edge join + aggregate — the round's dominant cost paid
            # twice (measured on the 100x-doc shard: 870 s -> 554 s
            # for the 6-round fixed point over 1.16B directed edges)
            with cached(propagated) as propagated:
                # pointer jump: label ← label[label]. The jump
                # self-references `propagated`, which would DOUBLE the
                # logical plan every round (exponential analysis cost);
                # localCheckpoint truncates lineage to the materialized
                # result each round — at cluster scale the same role is
                # played by reliable checkpoint() on durable storage.
                ptr = propagated.select(
                    F.col("doc_id").alias("p_id"), F.col("label").alias("p_label")
                )
                new_labels = (
                    propagated.join(ptr, propagated.label == ptr.p_id, "left")
                    .select("doc_id", F.coalesce("p_label", "label").alias("label"))
                    .localCheckpoint(eager=True)
                )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "doc_id")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                if stats is not None:
                    stats["rounds"] = _round + 1
                return labels
        raise RuntimeError(
            f"connected_components did not converge within {max_rounds} rounds"
        )


# ------------------------------------------------------- cascade verify

_CASCADE_DOT = " + ".join(
    f"CAST(a.embedding[{i + 1}] AS DOUBLE) * CAST(b.embedding[{i + 1}] AS DOUBLE)"
    for i in range(64)
)
_CASCADE_NRM = " + ".join(
    f"CAST(embedding[{i + 1}] AS DOUBLE) * CAST(embedding[{i + 1}] AS DOUBLE)"
    for i in range(64)
)

CASCADE_ORACLE = f"""
WITH mh AS (
    SELECT * FROM ({{minhash}}) t
), eb AS (
    SELECT vec_id, embedding, sqrt({_CASCADE_NRM}) AS nrm FROM embeddings
)
SELECT m.doc_id_a, m.doc_id_b, m.est_jaccard,
       ROUND(({_CASCADE_DOT}) / (a.nrm * b.nrm), 6) + 0.0 AS cos_sim
FROM mh m
JOIN eb a ON a.vec_id = m.doc_id_a
JOIN eb b ON b.vec_id = m.doc_id_b
"""


# Max embedding rows the BLAS tier-2 path will broadcast (≈256 MB of
# float64 matrix at 64 dims — same order as a generous broadcast-join
# threshold). Above it, tier 2 falls back to the join+fold plan.
CASCADE_BROADCAST_MAX_ROWS = 500_000


@register(
    "dedup_cascade_verify",
    oracle=CASCADE_ORACLE.format(minhash=_minhash_oracle()),
    tags=("dedup", "lsh", "cascade"),
)
def dedup_cascade_verify(
    spark: SparkSession,
    sf_dir: str,
    max_broadcast_rows: int = CASCADE_BROADCAST_MAX_ROWS,
) -> DataFrame:
    """Cascade dedup: cheap textual candidates (MinHash LSH) verified by
    embedding cosine — the two-tier shape production pipelines run.

    Tier 1 (shingle/minhash/band join) is pennies per document and
    recall-oriented; tier 2 attaches exact semantic similarity to the
    *candidate pairs only* — never the corpus cross product. At 100 TB
    tier-2 cost scales with candidate-pair count (output-sized) while
    the embedding table is only probed, making expensive semantic
    verification affordable exactly where it matters. Pairs without
    embeddings (coverage is partial by design) drop out.

    Tier-2 scoring picks between two physically different, value-
    identical plans:

    - **broadcast + BLAS** (embedding table ≤ ``max_broadcast_rows``):
      the id-sorted embedding matrix rides a broadcast variable; an
      Arrow ``mapInPandas`` over the PAIRS scores each batch with
      vectorized numpy gathers (cf. ``cosine_topk_pandas``). Arrow
      transfer is 3 scalars/pair — ~40× less than shipping both 64-float
      vectors per pair — and the per-pair cost is a numpy multiply-add
      instead of an interpreted 64-term higher-order fold (measured
      ~3.5× faster end-to-end at sf0.1).
    - **join + fold** (big embedding tables): two hash joins keyed on
      doc id attach vectors to pairs; an interpreted fold computes the
      dot. The broadcast gate mirrors the broadcast-vs-shuffle join
      decision — at 100 TB embedding scale this is the path that runs.

    Both paths (and the DuckDB oracle) accumulate dimensions strictly
    left-to-right in float64, so results are bit-identical — the numpy
    kernel loops dims (64 vectorized adds) rather than calling
    ``dot``/``einsum``, whose pairwise/SIMD summation reorders floats.

    Tier 1's signature-cluster frame is cached inside ``_minhash_pairs``,
    so tier 2 cannot re-trigger the corpus scan/minhash (r1's no-AQE
    ReusedExchange did exactly that); AQE stays on throughout.
    """
    pairs = _minhash_pairs(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    # Parquet metadata count — no scan.
    if emb.count() <= max_broadcast_rows:
        return _cascade_cosine_broadcast(spark, pairs, emb)
    return _cascade_cosine_join(pairs, emb)


def _cascade_cosine_broadcast(
    spark: SparkSession, pairs: DataFrame, emb: DataFrame
) -> DataFrame:
    """Tier-2 scoring via broadcast embedding matrix + numpy kernel.

    The ``toPandas`` below is the broadcast BUILD — the same driver-side
    materialization a BroadcastExchange performs at plan time, done
    explicitly because the matrix rides a SparkContext broadcast rather
    than a join. It runs when the query is constructed (bounded by the
    ``max_broadcast_rows`` gate the caller enforced), which is the one
    registered-query construction that is not fully lazy — the price of
    choosing the physical strategy by data size, mirrored from how AQE
    materializes broadcast sides eagerly.
    """
    import numpy as np
    import pandas as pd

    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    order = np.argsort(ids)
    ids = ids[order]
    mat = np.stack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
    # Left-to-right accumulation — matches the SQL x1*x1 + x2*x2 + ...
    acc = np.zeros(len(ids))
    for i in range(mat.shape[1]):
        acc += mat[:, i] * mat[:, i]
    nrm = np.sqrt(acc)
    b_emb = spark.sparkContext.broadcast((ids, mat, nrm))

    # Pre-filter the pairs BEFORE the Arrow boundary (guide §3.2 — reduce
    # the big side before the expensive step): embedding coverage is
    # partial by design, and the kernel's inner-join semantics drop any
    # pair lacking a vec_id on either end — at sf0.1 that is 84% of the
    # 5.8M candidate pairs (941k survive). Two broadcast LEFT SEMI joins
    # on the id column make that drop in codegen, so only surviving rows
    # pay JVM→Python serialization. The broadcast is bounded by the same
    # ``max_broadcast_rows`` gate that admitted this path (ids-only, ~8 B
    # per row — far smaller than the matrix already broadcast above).
    # Measured 2× on the scoring action at sf0.1 (2.05 → 1.02 s
    # interleaved min-of-5); output bit-identical (941,177 rows compared).
    keys = emb.select("vec_id")
    pairs = pairs.join(
        F.broadcast(keys.withColumnRenamed("vec_id", "doc_id_a")),
        "doc_id_a",
        "left_semi",
    ).join(
        F.broadcast(keys.withColumnRenamed("vec_id", "doc_id_b")),
        "doc_id_b",
        "left_semi",
    )

    def score(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        ids, mat, nrm = b_emb.value
        hi = len(ids) - 1
        for pdf in batches:
            a_val = pdf["doc_id_a"].to_numpy(dtype=np.int64)
            b_val = pdf["doc_id_b"].to_numpy(dtype=np.int64)
            ia = np.clip(np.searchsorted(ids, a_val), 0, hi)
            ib = np.clip(np.searchsorted(ids, b_val), 0, hi)
            # inner-join semantics: drop pairs lacking an embedding
            ok = (ids[ia] == a_val) & (ids[ib] == b_val)
            ia, ib = ia[ok], ib[ok]
            A, B = mat[ia], mat[ib]
            acc = np.zeros(len(A))
            for i in range(A.shape[1]):
                acc += A[:, i] * B[:, i]
            yield pd.DataFrame(
                {
                    "doc_id_a": a_val[ok],
                    "doc_id_b": b_val[ok],
                    "est_jaccard": pdf["est_jaccard"].to_numpy()[ok],
                    "cos_sim": acc / (nrm[ia] * nrm[ib]),
                }
            )

    scored = pairs.mapInPandas(
        score,
        "doc_id_a long, doc_id_b long, est_jaccard double, cos_sim double",
    )
    return scored.select(
        "doc_id_a",
        "doc_id_b",
        "est_jaccard",
        # + 0.0 canonicalizes IEEE signed zero: a ~-1e-18 dot rounds to
        # -0.0, repr/hash-distinct from the oracle's +0.0 even though
        # numerically equal (first seen at sf0.1 pair volume); the
        # oracle side adds the same + 0.0
        (F.round("cos_sim", 6) + F.lit(0.0)).alias("cos_sim"),
    )


def _cascade_cosine_join(pairs: DataFrame, emb: DataFrame) -> DataFrame:
    """Tier-2 scoring via hash joins + interpreted fold (any-scale path)."""
    # Pre-cast to array<double> ONCE per document, so the per-PAIR fold
    # (millions of rows — the hot loop) runs multiply+add only, with no
    # per-element cast nodes in the interpreted higher-order evaluation.
    eb = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    ).select(
        "vec_id",
        "embedding",
        F.sqrt(
            F.aggregate(F.col("embedding"), F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("nrm"),
    )
    a = eb.select(
        F.col("vec_id").alias("doc_id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = eb.select(
        F.col("vec_id").alias("doc_id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("emb_a"), F.col("emb_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        pairs.join(a, "doc_id_a")
        .join(b, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            "est_jaccard",
            # + 0.0: same signed-zero canonicalization as the broadcast path
            (F.round(dot / (F.col("nrm_a") * F.col("nrm_b")), 6) + F.lit(0.0)).alias(
                "cos_sim"
            ),
        )
    )


# ---------------------------------------------------------------- SimHash


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (majority vote over token-hash bits).

    Pure higher-order expressions over the token array — per-row, no
    shuffle, whole-stage codegen (see ``functions/simhash.py``). Pair
    generation on top (Hamming ≤ t) is `simhash_near_dup`; the per-doc
    signature is exposed as the ``simhash32`` column of the registered
    ``doc_text_profile`` query.
    """
    # fan_out: 32 per-bit majority votes per row are CPU-dense enough to
    # deserve full width even on a single-split scan.
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    h = docs.select("doc_id", "source", token_hashes_col().alias("hashes"))
    return h.select("doc_id", "source", _simhash_value_col().alias("simhash32"))


# Multi-index probe tables (the Google simhash scheme: 64-bit/k≤3 uses
# 4×16-bit tables): the 32-bit signature splits into 4 blocks of 8 bits;
# a pair within Hamming distance 3 can have flipped bits in at most 3
# blocks, so by pigeonhole AT LEAST ONE block is identical — probing on
# each (block_idx, 8-bit block value) finds EVERY qualifying pair as an
# equi-join collision. Completeness is exact, so the oracle is plain
# brute force.
SIMHASH_BLOCK_BITS = 8
SIMHASH_N_BLOCKS = SIMHASH_BITS // SIMHASH_BLOCK_BITS


def _simhash_probe_key_sql(i: int, col: str = "simhash32", duck: bool = False) -> str:
    """Probe key for block ``i`` = that block's 8 bits.

    Same arithmetic in both dialects; only the shift spelling differs
    (DuckDB ``>>`` vs Spark SQL ``shiftright``).
    """
    mask = (1 << SIMHASH_BLOCK_BITS) - 1
    shift = SIMHASH_BLOCK_BITS * i
    if duck:
        return f"(({col} >> {shift}) & {mask})"
    return f"(shiftright({col}, {shift}) & {mask})"


SIMHASH_PAIRS_ORACLE = f"""
WITH h AS (
    SELECT doc_id,
           list_transform(list_distinct(string_split(text, ' ')),
                          t -> {_TOK32_DUCK}) AS hashes
    FROM documents
), s AS (
    SELECT doc_id, {_simhash_value_sql_duckdb()} AS simhash32 FROM h
)
SELECT a.doc_id AS doc_id_a,
       b.doc_id AS doc_id_b,
       CAST(bit_count(xor(a.simhash32, b.simhash32)) AS INTEGER) AS hamming
FROM s a
JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash32, b.simhash32)) <= {HAMMING_THRESHOLD}
"""


@register("simhash_near_dup", oracle=SIMHASH_PAIRS_ORACLE, tags=("dedup", "simhash"))
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs corpus-wide: Hamming(sig_a, sig_b) ≤ 3.

    Candidate generation is an **equi-join on bit-block probe keys**,
    exactly like the MinHash band join — never a quadratic block
    self-join (r1 blocked on ``source``, which a single hot source pins
    at 100 TB). Each signature emits 4 (block_idx, 8-bit block) probes;
    pigeonhole over 4×8-bit blocks makes the probe COMPLETE for
    Hamming ≤ 3, so the exact Hamming filter after the join is a
    rerank, not a recall patch — the oracle is plain brute force and
    matches by construction. A pair colliding in k probe tables
    survives only in its first matching table (codegen filter over both
    probe-key arrays — same trick as the LSH first-matching-band
    filter), so no output-sized dedup shuffle. At 64 signature bits the
    same plan probes 4×16-bit blocks (the production config); block
    width is the selectivity knob.

    The probed frame (doc_id, simhash32, 4 keys ≈ 60 B/row) is
    persisted: both join sides read one materialization instead of
    recomputing signatures per side.
    """
    sigs = simhash_signatures(spark, sf_dir)
    # query-scoped cache, filled by the caller's first action (the join's
    # first stage populates it; the second side reads the materialized
    # partitions) — no eager count needed, and construction stays lazy
    # like every other registered query. Probe keys stay SCALAR columns
    # (k0..k3) so the first-matching-table filter unrolls to a codegen
    # CASE over both sides instead of an interpreted zip_with per
    # candidate pair (same rewrite as the MinHash band join).
    probed = scoped_persist(
        sigs.select(
            "doc_id",
            "simhash32",
            *[
                F.expr(_simhash_probe_key_sql(i)).alias(f"k{i}")
                for i in range(SIMHASH_N_BLOCKS)
            ],
        )
    )
    key_cols = [f"k{i}" for i in range(SIMHASH_N_BLOCKS)]
    exploded = probed.select(
        "doc_id",
        "simhash32",
        *key_cols,
        F.posexplode_outer(F.array(*[F.col(c) for c in key_cols])).alias("tbl", "k"),
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    first_tbl = F.when(F.col("a.k0").isNull(), None)  # never-taken seed branch
    for i in range(SIMHASH_N_BLOCKS):
        first_tbl = first_tbl.when(F.col(f"a.k{i}") == F.col(f"b.k{i}"), i)
    hamming = F.bit_count(
        F.col("a.simhash32").bitwiseXOR(F.col("b.simhash32"))
    ).cast("int")
    return (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.k") == F.col("b.k"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.col("a.tbl") == first_tbl)
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_THRESHOLD)
    )


# ----------------------- prefix-filtered exact Jaccard join (AllPairs)

PREFIX_JOIN_ORACLE = f"""
WITH t AS (
    SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
    FROM documents
)
SELECT doc_id_a, doc_id_b, jaccard
FROM (
    SELECT a.doc_id AS doc_id_a,
           b.doc_id AS doc_id_b,
           ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))),
                 6) AS jaccard
    FROM t a
    JOIN t b ON a.doc_id < b.doc_id
)
WHERE jaccard >= {JACCARD_THRESHOLD}
"""


def jaccard_prefix_join_frame(docs: DataFrame, tau: float) -> DataFrame:
    """CORPUS-WIDE exact token-set Jaccard join (threshold ``tau``) via prefix
    filtering — the AllPairs/PPJoin family (Bayardo+ WWW'07, Xiao+
    WWW'08): every true pair found, NO blocking key and NO quadratic
    pass, unlike ``dedup_jaccard_blocked`` (exact but only within
    source blocks) and MinHash-LSH (corpus-wide but probabilistic).

    Completeness is a pigeonhole theorem: order every document's
    tokens by ascending global document frequency (rare first; ties by
    token — any fixed total order works) and keep each document's
    PREFIX of ``|x| − ⌈τ·|x|⌉ + 1`` tokens. Two documents with
    J ≥ τ must overlap in ≥ ⌈τ·max(|x|,|y|)⌉ tokens, so skipping
    either prefix entirely would leave fewer shared tokens than
    required — hence every qualifying pair shares ≥ 1 PREFIX token,
    and the equi-join on prefix tokens generates it. The driver's
    hash check against the full-quadratic oracle proves completeness
    empirically on this corpus.

    Scale shape: token df is one map-side-combined aggregate; prefix
    selection is a per-doc window (bounded by doc length); candidate
    generation is an EQUI-join on prefix tokens — rare-first ordering
    makes bucket sizes small by construction (frequency-ordered
    prefixes are exactly the trick that bounds the join's fan-out);
    a τ·|x| ≤ |y| ≤ |x|/τ size filter prunes residually, candidates
    dedup before ONE exact verify join per distinct pair (array
    intersect over the two token arrays). Every stage is a shuffle on
    a real key — nothing quadratic, nothing cartesian.

    The **PPJoin positional filter** (Xiao+ WWW'08 §3.2) rides the
    candidate join as a second residual: a shared prefix token at
    (1-based, df-ordered) positions (pa, pb) bounds the overlap by
    ``1 + min(|x| − pa, |y| − pb)``, and J ≥ τ needs overlap
    ``≥ τ·(|x|+|y|)/(1+τ)`` — candidate rows whose bound can't reach
    that die BEFORE the distinct + verify join ever sees the pair.
    Completeness holds because a true pair's FIRST shared prefix token
    yields a bound ≥ the true overlap, so at least one generating row
    always survives (the filter is applied per row, the pair lives if
    any row lives). Measured on the sf0.1 corpus: 9,811,811 distinct
    candidates without the filter → 9,555,683 with it (−2.6%) — this
    corpus is the filter's worst case (57% of all pairs are TRUE dups
    over a ~100-word shared vocabulary, so near-dup pairs share many
    early prefix tokens and the bound rarely bites); on a natural
    Zipfian corpus with a long vocabulary tail the published cuts are
    far larger, and the filter is a pure residual expression — no new
    shuffle, no new join — so its cost is noise either way. The
    ε-slack is on the KEEP side: borderline float ties can only admit
    an extra candidate for the exact verify to reject, never drop a
    true pair.
    """
    t = scoped_persist(
        docs.select(
            "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
        ).withColumn("sz", F.size("toks"))
    )
    toks = t.select("doc_id", "sz", F.explode("toks").alias("token"))
    df_tab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("token"))
    prefix_len = F.col("sz") - F.ceil(F.lit(tau) * F.col("sz")) + 1
    prefixes = (
        toks.join(df_tab, "token")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= prefix_len)
        .select("token", "doc_id", "sz", "pos")
    )
    a = prefixes.select(
        F.col("token"),
        F.col("doc_id").alias("id_a"),
        F.col("sz").alias("sz_a"),
        F.col("pos").alias("pos_a"),
    )
    b = prefixes.select(
        F.col("token"),
        F.col("doc_id").alias("id_b"),
        F.col("sz").alias("sz_b"),
        F.col("pos").alias("pos_b"),
    )
    tau_c = F.lit(tau)
    # PPJoin positional bound: overlap ≤ 1 + min(remaining after pa,
    # remaining after pb); J ≥ τ needs overlap ≥ τ(sz_a+sz_b)/(1+τ).
    # ε keeps the borderline on the ADMIT side (the verify is exact).
    ubound = F.lit(1) + F.least(
        F.col("sz_a") - F.col("pos_a"), F.col("sz_b") - F.col("pos_b")
    )
    alpha_ok = ubound * (F.lit(1.0) + tau_c) >= tau_c * (
        F.col("sz_a") + F.col("sz_b")
    ) - F.lit(1e-9)
    cands = (
        a.join(b, "token")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("sz_b") * tau_c <= F.col("sz_a"))
            & (F.col("sz_a") * tau_c <= F.col("sz_b"))
            & alpha_ok
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ta = t.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"))
    tb = t.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    return (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            F.col("id_a").alias("doc_id_a"),
            F.col("id_b").alias("doc_id_b"),
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= tau_c)
    )


@register(
    "jaccard_prefix_join",
    oracle=PREFIX_JOIN_ORACLE,
    tags=("dedup", "similarity-join", "unbenched"),
    # promoted into the driver window in the round-10 rotation (cheap at
    # the driver's sf0.01; the 153 s output-bound cost is sf0.1-only)
)
def jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The τ=0.6 registered head of ``jaccard_prefix_join_frame`` —
    matches ``JACCARD_THRESHOLD`` so its truth set extends
    ``dedup_jaccard_blocked``'s beyond the source blocks. Bench-tiered
    output-bound (QUERIES.md): 57%% of this corpus's pairs qualify."""
    return jaccard_prefix_join_frame(
        fan_out(spark, load_table(spark, sf_dir, "documents")), JACCARD_THRESHOLD
    )


STRICT_PREFIX_TAU = 0.9

STRICT_PREFIX_ORACLE = f"""
WITH t AS (
    SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
    FROM documents
)
SELECT doc_id_a, doc_id_b, jaccard
FROM (
    SELECT a.doc_id AS doc_id_a,
           b.doc_id AS doc_id_b,
           ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))),
                 6) AS jaccard
    FROM t a
    JOIN t b ON a.doc_id < b.doc_id
)
WHERE jaccard >= {STRICT_PREFIX_TAU}
"""


@register(
    "jaccard_prefix_join_strict",
    oracle=STRICT_PREFIX_ORACLE,
    tags=("dedup", "similarity-join", "unbenched"),
    past_window=True,
)
def jaccard_prefix_join_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``jaccard_prefix_join_frame`` at τ=0.9 — the near-identical
    tier, and the BENCHABLE form of the prefix join: the strict
    threshold shrinks prefixes to ~⌈0.1·|x|⌉+1 rare tokens and the
    answer to the true near-dup clusters, so the sweep times the
    ALGORITHM (df aggregate, prefix window, candidate equi-join,
    verify) rather than materializing the dup-saturated τ=0.6 answer
    this corpus produces (7.1M rows — see the QUERIES.md tier note)."""
    return jaccard_prefix_join_frame(
        fan_out(spark, load_table(spark, sf_dir, "documents")), STRICT_PREFIX_TAU
    )


# -------------------- prefix-filtered exact CONTAINMENT join (asymmetric)

CONTAINMENT_TAU = 0.9

CONTAINMENT_JOIN_ORACLE = f"""
WITH t AS (
    SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
    FROM documents
)
SELECT doc_id_a, doc_id_b, containment
FROM (
    SELECT a.doc_id AS doc_id_a,
           b.doc_id AS doc_id_b,
           ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / len(a.toks), 6) AS containment
    FROM t a
    JOIN t b ON a.doc_id <> b.doc_id
)
WHERE containment >= {CONTAINMENT_TAU}
"""


def containment_prefix_join_frame(docs: DataFrame, t: float) -> DataFrame:
    """Corpus-wide exact CONTAINMENT join: ordered pairs (a, b) with
    |toks(a) ∩ toks(b)| / |toks(a)| ≥ ``t`` — "a's vocabulary lives
    (almost) inside b's", the ASYMMETRIC sibling of the Jaccard join
    that Jaccard structurally cannot express (a 50-token quote inside
    a 5 000-token document has J ≈ 0.01 but containment 1.0). The
    partial-copy / quotation / subset-document detector.

    The asymmetry reshapes the prefix filter (the overlap constraint
    ``O ≥ t·|a|`` binds only the contained side): the A side keeps the
    standard df-ascending prefix of ``|a| − ⌈t·|a|⌉ + 1`` tokens
    (pigeonhole: skipping it all leaves < t·|a| shared tokens), but
    the B side must index EVERY token — a container may hold a's
    vocabulary anywhere in its tail, so no B prefix is sound. Rare-
    first ordering still bounds the join: candidates are Σ df(token)
    over A-PREFIX tokens only, and prefixes hold each document's
    rarest tokens by construction. Residuals: ``|b| ≥ t·|a|`` (the
    only sound size filter — containment does not bound |b| above)
    and the PPJoin-style positional bound ``1 + min(|a|−pa, |b|−pb) ≥
    t·|a|`` (sound at the pair's first shared token, which the
    pigeonhole puts inside a's prefix, so at least one generating row
    always survives). One exact verify per distinct candidate pair;
    ε-slack on the ADMIT side throughout — the verify is exact.
    """
    tt = scoped_persist(
        docs.select(
            "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
        ).withColumn("sz", F.size("toks"))
    )
    toks = tt.select("doc_id", "sz", F.explode("toks").alias("token"))
    df_tab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("token"))
    positioned = scoped_persist(
        toks.join(df_tab, "token")
        .withColumn("pos", F.row_number().over(w))
        .select("token", "doc_id", "sz", "pos")
    )
    prefix_len = F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1
    a = positioned.filter(F.col("pos") <= prefix_len).select(
        F.col("token"),
        F.col("doc_id").alias("id_a"),
        F.col("sz").alias("sz_a"),
        F.col("pos").alias("pos_a"),
    )
    b = positioned.select(
        F.col("token"),
        F.col("doc_id").alias("id_b"),
        F.col("sz").alias("sz_b"),
        F.col("pos").alias("pos_b"),
    )
    t_c = F.lit(t)
    need = t_c * F.col("sz_a") - F.lit(1e-9)  # ε on the admit side
    ubound = F.lit(1) + F.least(
        F.col("sz_a") - F.col("pos_a"), F.col("sz_b") - F.col("pos_b")
    )
    cands = (
        a.join(b, "token")
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (F.col("sz_b") >= need)
            & (ubound >= need)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ta = tt.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"))
    tb = tt.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    return (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            F.col("id_a").alias("doc_id_a"),
            F.col("id_b").alias("doc_id_b"),
            F.round(inter.cast("double") / F.size("toks_a"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= t_c)
    )


@register(
    "containment_prefix_join",
    oracle=CONTAINMENT_JOIN_ORACLE,
    tags=("dedup", "similarity-join", "containment", "unbenched"),
)
def containment_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The t=0.9 registered head of ``containment_prefix_join_frame``.
    Oracle is the full quadratic, so the driver's hash proves the
    asymmetric prefix filter complete. Bench-tiered output-bound like
    the τ=0.6 Jaccard head (QUERIES.md): this dup-saturated corpus
    makes most ordered pairs qualify, so the answer itself is the
    cost."""
    return containment_prefix_join_frame(
        fan_out(spark, load_table(spark, sf_dir, "documents")), CONTAINMENT_TAU
    )


# --------------------------------- MinHash estimator calibration

def _calibration_oracle() -> str:
    return f"""
WITH {_minhash_pairs_ctes()},
t AS (
    SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
    FROM documents
)
SELECT p.est_jaccard,
       ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))),
             6) AS exact_jaccard,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM mh_pairs p
JOIN t a ON a.doc_id = p.doc_id_a
JOIN t b ON b.doc_id = p.doc_id_b
GROUP BY 1, 2
"""


@register(
    "minhash_estimator_calibration",
    oracle=_calibration_oracle(),
    tags=("dedup", "minhash", "calibration", "validation", "unbenched"),
)
def minhash_estimator_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint (estimated, exact) Jaccard distribution over the MinHash
    head's surviving candidate pairs — the estimator's calibration
    table: for each of the ≤ NUM_HASHES+1 discrete estimate values the
    LSH join can emit, how the TRUE token-set Jaccard of those pairs
    distributes. Motivated by a real finding of the 100× CC run
    (SCALE.md "connected components at 100x"): borderline pairs flip
    in/out of the candidate set per hash family because the 16-hash
    estimate carries ~1/√16 standard error — this head quantifies
    exactly that spread, pair-accounting which estimates over/under
    shoot and by how much, so a threshold choice reads off the table
    instead of folklore. (Broder 1997's bound; the per-bucket spread
    IS the resampling variance the CC invariant hit.)

    Determinism: the output is pure INTEGER counts grouped by two
    discrete keys — the estimate is k/16 by construction and the exact
    Jaccard is one round-6 ratio of integers per pair — no
    floating-point aggregation at all, so Spark and DuckDB agree
    bit-for-bit with no summation-order caveat.

    Scale shape: candidate pairs only (never all-pairs — the LSH
    equi-join bounds the input), two doc_id equi-joins to attach token
    sets, one map-side-combined count at the tiny (est, exact) grain.
    """
    pairs = _minhash_pairs(spark, sf_dir).select(
        "doc_id_a", "doc_id_b", "est_jaccard"
    )
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    t = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    a = t.select(F.col("doc_id").alias("doc_id_a"), F.col("toks").alias("toks_a"))
    b = t.select(F.col("doc_id").alias("doc_id_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    return (
        pairs.join(a, "doc_id_a")
        .join(b, "doc_id_b")
        .select(
            "est_jaccard",
            F.round(inter.cast("double") / union, 6).alias("exact_jaccard"),
        )
        .groupBy("est_jaccard", "exact_jaccard")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
