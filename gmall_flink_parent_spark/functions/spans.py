"""Sub-document dedup: winnowing fingerprints and repeated-span removal.

Not in the reference (SURVEY §2.7 covers only basic string/date
functions): the span-level dedup stages of a 100 TB curation pipeline.
Document-level dedup (``functions/dedup.py``: exact, MinHash, SimHash,
embedding-cosine) decides which DOCUMENTS to keep; these operators work
BELOW the document grain —

- **Winnowing** (Schleimer/Wilkerson/Aiken, the MOSS fingerprinting
  algorithm): per document, hash every word k-gram, then keep the
  minimum hash of each window of w consecutive gram hashes. The selected
  set is a guaranteed cover — any shared run of at least w + k - 1
  tokens between two documents shares at least one fingerprint — at a
  fraction (~2/(w+1)) of the full shingle set's size, which is exactly
  the storage/shuffle trade a 100 TB near-dup index wants.
- **Repeated-span removal** (the C4/CCNet move): spans that occur
  verbatim many times across the corpus (license headers, navigation
  chrome, templated footers) are cut OUT of documents rather than used
  to drop whole documents — the complement of
  ``doc_boilerplate_fraction``, which only scores them.

Everything is hash-decided via md5 (the one hash Spark and DuckDB
compute identically), so every head here is oracle-backed: fingerprint
selection, pair overlaps, and the rewritten text are reproduced
byte-identically by DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_parent_spark.registry import register, scoped_persist
from gmall_flink_parent_spark.sources.tables import fan_out, load_table

_WIN_K = 5  # winnowing k-gram width (tokens)
_WIN_W = 4  # winnowing window (consecutive gram hashes per selection)
_WIN_SHARED = 3  # near-dup verdict: pairs sharing >= this many fingerprints
_SPAN_LEN = 8  # repeated-span grain: non-overlapping 8-token windows
_SPAN_DF = 3  # a span occurring >= this many times corpus-wide is cut
_SPAN_BROADCAST_MAX = 2_000_000  # forced-broadcast cap for the repeated set


def _empty_str_array() -> Column:
    return F.array().cast("array<string>")


def winnow_sets_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, n_toks, fps) winnowing fingerprint sets — k-gram md5
    hashes, then the distinct window minima, per document.

    Pure higher-order array functions (``transform``/``slice``/
    ``array_min``) over the scan: per-row, shuffle-free, the map stage
    an ingest pipeline fuses into the scan. Each array (tokens, gram
    hashes) is MATERIALIZED in its own projection before the next
    lambda consumes it — inlining the gram expression into the
    window-minima transform makes Catalyst re-evaluate the ENTIRE gram
    array per window element (and the token split per gram element):
    O(n²) md5s + O(n³)-ish splits per document, measured ~95 s at sf0.1
    against ~2 s staged. The same pitfall ``contamination_shingles``
    documents, one lambda deeper. md5 hex compares lexicographically
    the same in Spark and DuckDB (lowercase hex of equal length), so
    the window minima — and therefore the selected set — are
    engine-portable.
    """
    t = docs.select("doc_id", F.split(F.col("text"), " ").alias("toks")).select(
        "doc_id", F.size("toks").alias("n_toks"), "toks"
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.col("n_toks") - (_WIN_K - 1)),
        lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("toks"), i, _WIN_K))),
    )
    g = t.select(
        "doc_id",
        "n_toks",
        F.when(F.col("n_toks") >= _WIN_K, grams)
        .otherwise(_empty_str_array())
        .alias("hs"),
    ).select("doc_id", "n_toks", F.size("hs").alias("m"), "hs")
    mins = F.transform(
        F.sequence(F.lit(1), F.col("m") - (_WIN_W - 1)),
        lambda i: F.array_min(F.slice(F.col("hs"), i, _WIN_W)),
    )
    return g.select(
        "doc_id",
        "n_toks",
        F.when(F.col("m") >= _WIN_W, F.array_distinct(mins))
        .when(F.col("m") > 0, F.array(F.array_min("hs")))
        .otherwise(_empty_str_array())
        .alias("fps"),
    )


def winnow_fp_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, n_fps, fp) exploded winnowing fingerprints — the
    near-dup index grain (each row also carries its document's set size
    so overlap ratios need no second join). The frame a fingerprint
    store accumulates at ingest.

    ``explode_outer`` + an explicit null filter, NOT plain ``explode``:
    Catalyst's ``InferFiltersFromGenerate`` gives a plain explode a
    ``size(fps) > 0`` filter below the Generate, and predicate pushdown
    substitutes the ENTIRE staged fingerprint expression into it — the
    O(n²) re-nesting ``winnow_sets_frame`` exists to avoid, evaluated
    once more per document in the Filter node (measured 87 s of the
    batch head's 91 s at sf0.1). The rule skips outer generates; the
    null filter on the generator OUTPUT cannot push below the Generate,
    so the staged projections keep their one-evaluation shape (~2 s).
    Result rows are identical: explode_outer only adds the null rows
    the filter then drops.
    """
    return (
        winnow_sets_frame(docs)
        .select(
            "doc_id", F.size("fps").alias("n_fps"), F.explode_outer("fps").alias("fp")
        )
        .filter(F.col("fp").isNotNull())
    )


# Shared oracle CTE: toks -> k-gram md5s -> window minima, the exact
# DuckDB mirror of ``winnow_fingerprint_sets`` (list slicing is
# inclusive in DuckDB: toks[i:i+k-1] is k elements).
_WINNOW_CTE = f"""
t AS (
    SELECT doc_id, string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n
    FROM documents
), g AS (
    SELECT doc_id,
           CASE WHEN n >= {_WIN_K} THEN
               list_transform(range(1, n - {_WIN_K - 2}),
                   i -> md5(array_to_string(toks[i:i+{_WIN_K - 1}], ' ')))
           ELSE [] END AS hs
    FROM t
), w AS (
    SELECT doc_id, len(hs) AS m,
           CASE WHEN len(hs) >= {_WIN_W} THEN
               list_distinct(list_transform(range(1, len(hs) - {_WIN_W - 2}),
                   i -> list_aggregate(hs[i:i+{_WIN_W - 1}], 'min')))
           WHEN len(hs) > 0 THEN [list_aggregate(hs, 'min')]
           ELSE [] END AS fps
    FROM g
)"""


WINNOW_FPS_ORACLE = f"""
WITH {_WINNOW_CTE}
SELECT doc_id,
       CAST(m AS BIGINT) AS n_grams,
       CAST(len(fps) AS BIGINT) AS n_fps,
       ROUND(CASE WHEN m > 0 THEN CAST(len(fps) AS DOUBLE) / m
                  ELSE 0.0 END, 6) AS fp_density,
       CASE WHEN len(fps) > 0 THEN list_aggregate(fps, 'min')
            ELSE NULL END AS min_fp
FROM w
"""


@register(
    "winnow_fingerprints",
    oracle=WINNOW_FPS_ORACLE,
    tags=("text", "dedup", "fingerprint", "unbenched"),
    past_window=True,
)
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing summary: gram count, selected-fingerprint
    count, selection density, and the minimum fingerprint (a stable
    per-doc sample the oracle can check without hashing full sets).

    Winnowing guarantees density <= 1 and ~2/(w+1) in expectation for
    random text — the observability number that tells an index operator
    how much smaller the fingerprint store is than the full shingle
    store. One codegen projection over the scan: per-row, shuffle-free.
    """
    # fan_out: per-row k-gram hashing is the CPU-dense stage; a
    # single-split scan must not pin it to one task.
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    sets = winnow_sets_frame(docs)
    # gram count m = n - k + 1 when n >= k else 0 — recomputed from the
    # token count (cheaper than carrying the hash array twice).
    m = F.when(
        F.col("n_toks") >= _WIN_K, (F.col("n_toks") - (_WIN_K - 1)).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    return sets.select(
        "doc_id",
        m.alias("n_grams"),
        F.size("fps").cast("long").alias("n_fps"),
        F.round(
            F.when(m > 0, F.size("fps").cast("double") / m).otherwise(0.0), 6
        ).alias("fp_density"),
        F.when(F.size("fps") > 0, F.array_min("fps")).alias("min_fp"),
    )


WINNOW_NEAR_DUP_ORACLE = f"""
WITH {_WINNOW_CTE},
fp AS (
    SELECT doc_id, len(fps) AS n_fps, unnest(fps) AS fp FROM w
),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS shared, min(a.n_fps) AS fa, min(b.n_fps) AS fb
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(shared AS BIGINT) AS n_shared,
       ROUND(CAST(shared AS DOUBLE) / least(fa, fb), 6) AS fp_overlap
FROM pairs WHERE shared >= {_WIN_SHARED}
"""


@register(
    "winnow_near_dup",
    oracle=WINNOW_NEAR_DUP_ORACLE,
    tags=("text", "dedup", "fingerprint"),
)
def winnow_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by winnowing-fingerprint overlap: documents
    sharing >= 3 selected fingerprints, with the overlap ratio against
    the smaller set (the MOSS similarity report).

    Scale shape: the pair join is an EQUI-join on the fingerprint value
    — candidates meet only inside a fingerprint's posting list, the
    same bucket-join discipline as MinHash-LSH band joins, never
    all-pairs. The winnowing selection keeps posting lists ~2/(w+1) the
    size of a full-shingle inverted index, and each exploded row
    carries its doc's set size so the overlap ratio closes from the
    pair agg alone (no join back to a per-doc summary). The fingerprint
    frame is persisted (query-scoped): both sides of the self-join read
    it, and without one materialization the two shuffle-map stages
    would each recompute the k-gram hashing scan.
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    fp = scoped_persist(winnow_fp_frame(docs))
    return winnow_pairs_frame(fp)


def winnow_pairs_frame(fp: DataFrame) -> DataFrame:
    """Near-dup pairs over an exploded (doc_id, n_fps, fp) fingerprint
    frame — the shared core of the batch ``winnow_near_dup`` and the
    ingest-store head ``winnow_near_dup_from_store`` (one pair
    implementation, so batch and store verdicts cannot drift). Callers
    persist ``fp``: both self-join sides read it."""
    a = fp.select(
        F.col("doc_id").alias("doc_a"), F.col("n_fps").alias("fa"), "fp"
    )
    b = fp.select(
        F.col("doc_id").alias("doc_b"), F.col("n_fps").alias("fb"), "fp"
    )
    pairs = (
        a.join(b, (a["fp"] == b["fp"]) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.min("fa").alias("fa"),
            F.min("fb").alias("fb"),
        )
        .filter(F.col("shared") >= _WIN_SHARED)
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.col("shared").cast("long").alias("n_shared"),
        F.round(
            F.col("shared").cast("double") / F.least("fa", "fb"), 6
        ).alias("fp_overlap"),
    )


def span_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, span, sk) non-overlapping ``_SPAN_LEN``-token spans
    with their md5 key — the repeated-span grain. The md5 key, not the
    span text, is what shuffles through the corpus-frequency agg and
    the probe join (fixed 32 bytes vs arbitrary span width)."""
    # token array materialized in its own projection: inlining the
    # split into the transform lambda re-splits the document once per
    # span element (the contamination_shingles/winnow_sets_frame pitfall)
    t = docs.select("doc_id", F.split(F.col("text"), " ").alias("toks")).select(
        "doc_id", F.size("toks").alias("n"), "toks"
    )
    spans = F.transform(
        F.sequence(
            F.lit(0), F.ceil(F.col("n") / F.lit(float(_SPAN_LEN))).cast("int") - 1
        ),
        lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i * _SPAN_LEN + 1, _SPAN_LEN)),
    )
    return t.select(
        "doc_id", F.posexplode(spans).alias("pos", "span")
    ).withColumn("sk", F.md5("span"))


SPAN_DEDUP_ORACLE = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n
    FROM documents
), s AS (
    SELECT doc_id, u.i AS pos,
           array_to_string(toks[u.i*{_SPAN_LEN}+1:u.i*{_SPAN_LEN}+{_SPAN_LEN}], ' ') AS span
    FROM t CROSS JOIN
         unnest(range(0, CAST(ceil(n / {_SPAN_LEN}.0) AS BIGINT))) AS u(i)
), c AS (
    SELECT span, count(*) AS cnt FROM s GROUP BY span
), k AS (
    SELECT s.doc_id, s.pos, s.span, c.cnt >= {_SPAN_DF} AS is_rep
    FROM s JOIN c USING (span)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN is_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       COALESCE(string_agg(span, ' ' ORDER BY pos)
                    FILTER (WHERE NOT is_rep), '') AS kept_text
FROM k GROUP BY doc_id
"""


def span_dedup_frame(
    sh: DataFrame,
    max_broadcast_spans: int = _SPAN_BROADCAST_MAX,
    row_count: int | None = None,
) -> DataFrame:
    """Repeated-span removal over a (doc_id, pos, span, sk) frame — the
    shared core of the batch ``span_dedup_rewrite`` and any ingest-time
    twin (one frequency agg + one rewrite, so batch and store verdicts
    cannot drift). Callers persist ``sh``: both the frequency agg and
    the probe join read it.

    The probe join is size-gated exactly like
    ``boilerplate_fraction_frame`` — the repeated-span set is
    DATA-DEPENDENT (frequency-thresholded over the corpus span space),
    so a forced broadcast is a corpus-shape assumption:

    - **forced broadcast** when PROVABLY small: ``rows(sh) // _SPAN_DF``
      bounds the qualifying span count from above (each repeated span
      consumes at least threshold rows);
    - **engine-decided join** otherwise: AQE sizes the REAL aggregated
      set at runtime and broadcasts iff it actually fits.

    ``row_count`` lets the caller supply the span-row count (or any
    upper bound) so the gate decides WITHOUT a count() action — the
    store head reads it from parquet footers
    (``streaming.store.store_row_count``); the batch query keeps the
    count() over its persisted frame, where it doubles as the cache
    fill.

    The rewrite reassembles each document from its kept spans in
    position order with ``array_sort(collect_list(struct(pos, span)))``
    — collect_list over the per-doc group, never a global window; the
    per-doc span count is bounded by document length, so the collected
    array is document-sized, not corpus-sized.
    """
    rep = (
        sh.groupBy("sk")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= _SPAN_DF)
        .select("sk", F.lit(1).alias("is_rep"))
    )
    if row_count is None:
        row_count = sh.count()
    if row_count // _SPAN_DF <= max_broadcast_spans:
        probe = sh.join(F.broadcast(rep), "sk", "left")
    else:
        probe = sh.join(rep, "sk", "left")
    kept = F.array_sort(
        F.collect_list(
            F.when(F.col("is_rep").isNull(), F.struct("pos", "span"))
        )
    )
    return probe.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.count("is_rep").cast("long").alias("n_removed"),
        F.concat_ws(
            " ", F.transform(kept, lambda x: x["span"])
        ).alias("kept_text"),
    )


def span_rewrite_token_counts(
    sh: DataFrame,
    max_broadcast_spans: int = _SPAN_BROADCAST_MAX,
    row_count: int | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, n_removed_spans) AFTER repeated-span removal —
    the accounting face of ``span_dedup_frame`` for pipelines that need
    the rewritten document's token budget but not the text itself
    (``build_pretraining_dataset``'s packing stage stores token counts,
    never text). Same frequency agg, same size-gated probe join, but
    the per-doc close is a plain sum of kept-span token counts instead
    of the ordered text reassembly — no collect_list. Consistent with
    the rewrite by construction: ``concat_ws(' ', spans)`` over
    non-empty spans has exactly Σ size(split(span)) tokens
    (equality with the kept_text token count is pinned in tests).
    Docs whose spans are ALL removed report n_tokens = 0."""
    rep = (
        sh.groupBy("sk")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= _SPAN_DF)
        .select("sk", F.lit(1).alias("is_rep"))
    )
    if row_count is None:
        row_count = sh.count()
    if row_count // _SPAN_DF <= max_broadcast_spans:
        probe = sh.join(F.broadcast(rep), "sk", "left")
    else:
        probe = sh.join(rep, "sk", "left")
    kept_toks = F.when(
        F.col("is_rep").isNull(), F.size(F.split("span", " "))
    ).otherwise(0)
    return probe.groupBy("doc_id").agg(
        F.sum(kept_toks).cast("long").alias("n_tokens"),
        F.count("is_rep").cast("long").alias("n_removed_spans"),
    )


@register(
    "span_dedup_rewrite",
    oracle=SPAN_DEDUP_ORACLE,
    tags=("text", "dedup", "rewrite"),
    past_window=True,
)
def span_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide repeated-span removal, rewriting each document with
    its over-represented spans cut out (C4/CCNet-style): any
    8-token span occurring >= 3 times across the corpus — license
    boilerplate, navigation chrome, templated spam — is dropped from
    every document containing it; the document survives with the
    remaining text.

    The complement of ``doc_boilerplate_fraction`` (which only SCORES
    boilerplate): this head performs the span surgery and returns the
    rewritten text, oracle-checked byte-for-byte (DuckDB reassembles
    with an ordered ``string_agg``, Spark with
    ``array_sort(collect_list(struct(pos, span)))`` — agreement pins
    the distributed rewrite to exact position order).

    Scale: one span scan (persisted — frequency agg and probe both
    read it), one map-side-combined frequency shuffle carrying (md5
    key, partial count), the size-gated probe join, and the per-doc
    reassembly agg. Nothing corpus-sized ever sits on one node.
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    sh = scoped_persist(span_frame(docs))
    return span_dedup_frame(sh)
