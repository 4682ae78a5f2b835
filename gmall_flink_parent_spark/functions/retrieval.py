"""Lexical retrieval scoring over the chunk grain — BM25 and the
inverted-index statistics an index build ships.

Not in the reference (SURVEY §2.7): a retrieval stack needs a lexical
ranker next to the ANN family (`similarity.py`) — BM25 is the standard
first-stage ranker and the sparse half of hybrid retrieval. Two heads:

- ``term_postings_stats`` — the index-build statistics head: per term,
  its chunk document frequency, collection frequency, distinct source
  documents, and Robertson idf. This is the tiny table an index build
  publishes once and every query-time scorer broadcasts.
- ``chunk_bm25_topk`` — BM25 top-k for a fixed query-term set. Because
  the query is a handful of terms, per-chunk term frequencies come from
  ``array``-filter expressions on the chunk token array — NO explode,
  NO per-term shuffle: the whole scoring pass is a narrow codegen scan
  over the chunker, and the only exchanges are the 1-row corpus-stats
  broadcast and the final ``TakeOrderedAndProject`` partial top-k.

Scale shape: at query time the corpus constants (N, avgdl, per-term df)
come from the published postings stats, so scoring 100 TB of chunks is
one scan → broadcast-join → partial top-k; nothing here is proportional
to the vocabulary or requires a global sort. In these self-contained
batch heads the constants are derived in-query from a second narrow
pass over a query-scoped persisted tf projection (a few ints per
chunk). Both heads are md5/ln-deterministic and DuckDB-oracle-backed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_parent_spark.functions.chunks import _CHUNK_CTE, chunk_windows_frame
from gmall_flink_parent_spark.registry import register, scoped_persist
from gmall_flink_parent_spark.sources.tables import fan_out, load_table

# The fixed demo query; any term set works — scoring cost is O(|terms|)
# array filters per chunk, so a real query-time path is the same plan.
QUERY_TERMS = ("spark", "join", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 50


def _tf_col(term: str):
    """Occurrences of ``term`` in the chunk token array — an array
    filter, not an explode, so it stays inside whole-stage codegen."""
    return F.size(F.filter(F.col("ctoks"), lambda x: x == F.lit(term)))


def bm25_topk_frame(chunks: DataFrame) -> DataFrame:
    """BM25 top-k over any (doc_id, chunk_idx, chunk_id, chunk_text)
    chunk frame for the fixed ``QUERY_TERMS``."""
    tf_names = [f"tf_{i}" for i in range(len(QUERY_TERMS))]
    base = scoped_persist(
        chunks.select(
            "doc_id",
            "chunk_idx",
            "chunk_id",
            F.split(F.col("chunk_text"), " ").alias("ctoks"),
        ).select(
            "doc_id",
            "chunk_idx",
            "chunk_id",
            F.size("ctoks").cast("double").alias("dl"),
            *[_tf_col(t).cast("double").alias(n) for t, n in zip(QUERY_TERMS, tf_names)],
        )
    )
    # 1-row corpus stats: N, avgdl, and per-term chunk df — at scale
    # this row IS the published postings-stats table.
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_chunks"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(n) > 0).cast("double")).alias(f"df_{i}")
            for i, n in enumerate(tf_names)
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    score = None
    for i, n in enumerate(tf_names):
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_chunks") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
        )
        norm = F.col(n) + F.lit(BM25_K1) * (
            F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
        )
        term_score = idf * F.col(n) * F.lit(BM25_K1 + 1.0) / norm
        score = term_score if score is None else score + term_score
    # Rank on the ROUNDED score (the value the oracle hashes) with a
    # chunk_id tiebreak, so the top-k SET is engine-independent even
    # when ln() differs in the last ulp.
    return (
        scored.select(
            "doc_id",
            "chunk_idx",
            "chunk_id",
            F.round(score, 6).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), F.asc("chunk_id"))
        .limit(BM25_TOPK)
    )


def bm25_topk_multi(
    chunks: DataFrame,
    queries: DataFrame,
    top_k: int = BM25_TOPK,
    salt: int = 8,
) -> DataFrame:
    """BM25 top-k per query for a query TABLE — the real-workload form
    of ``bm25_topk_frame``, which compiles ONE fixed term set into the
    plan. ``queries`` is any (query_id, terms array<string>) frame (a
    few rows to a few thousand — query sets are broadcast-bounded by
    nature); duplicate terms within a query count once.

    Returns (query_id, doc_id, chunk_idx, chunk_id, bm25, rnk) with
    ``rnk`` 1..k per query, ranked on the ROUNDED score with a
    chunk_id tiebreak — the same engine-portable ordering as the fixed
    head. Only chunks matching ≥ 1 query term appear (postings
    semantics: a zero-score chunk is not a retrieval result, while the
    fixed head's global sort can pad its tail with zero-score rows
    when fewer than k chunks match).

    Scale shape: the distinct query-term table broadcasts against one
    narrow pass over the chunks (per-(chunk, term) tf via an array
    filter — no token explode; the crossJoin is the allowlisted
    bounded-broadcast shape), rows with tf = 0 are dropped immediately
    so what flows on is POSTINGS of the query vocabulary, not the
    corpus × vocabulary product. Per-term df and the 1-row corpus
    stats come back as broadcasts, scoring closes with one
    map-side-combined (query, chunk) aggregate, and the per-query
    top-k runs the exact two-phase grouped top-N
    (``per_source_cap``'s shape): phase 1 ranks within (query, salt
    of chunk_id) so a hot query's candidates split across ``salt``
    tasks, phase 2 re-ranks the ≤ salt·k survivors — bounded by the
    cutoff, never the corpus. Exact because the order is row-local:
    a global top-k member is top-k within its own salt group.
    """
    from pyspark.sql import Window

    base = scoped_persist(
        chunks.select(
            "doc_id",
            "chunk_idx",
            "chunk_id",
            F.split(F.col("chunk_text"), " ").alias("ctoks"),
        ).select(
            "doc_id",
            "chunk_idx",
            "chunk_id",
            F.size("ctoks").cast("double").alias("dl"),
            "ctoks",
        )
    )
    qt = queries.select(
        "query_id", F.explode("terms").alias("term")
    ).distinct()
    dterms = qt.select("term").distinct()
    postings = scoped_persist(
        base.crossJoin(F.broadcast(dterms))
        .select(
            "doc_id",
            "chunk_idx",
            "chunk_id",
            "dl",
            "term",
            F.size(F.filter(F.col("ctoks"), lambda x: x == F.col("term")))
            .cast("double")
            .alias("tf"),
        )
        .filter(F.col("tf") > 0)
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_chunks"),
        F.avg("dl").alias("avgdl"),
    )
    tstats = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_chunks") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
    )
    scored = (
        postings.join(F.broadcast(qt), "term")
        .join(F.broadcast(tstats), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id", "chunk_idx", "chunk_id")
        .agg(
            F.round(
                F.sum(idf * F.col("tf") * F.lit(BM25_K1 + 1.0) / norm), 6
            ).alias("bm25")
        )
    )
    w1 = Window.partitionBy(
        "query_id", F.pmod(F.xxhash64("chunk_id"), F.lit(salt))
    ).orderBy(F.desc("bm25"), F.asc("chunk_id"))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc("chunk_id"))
    return (
        scored.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= top_k)
        .withColumn("rnk", F.row_number().over(w2).cast("long"))
        .filter(F.col("rnk") <= top_k)
        .select("query_id", "doc_id", "chunk_idx", "chunk_id", "bm25", "rnk")
    )


# Fixed query TABLE for the registered multi-query head — two queries
# with overlapping vocabulary (shared "spark"/"join" terms make the df
# sharing across queries observable) plus a guaranteed-absent term.
MULTI_QUERIES = (
    (0, ("spark", "join", "window")),
    (1, ("scan", "merge", "join", "zzz-absent")),
)
MULTI_TOPK = 20


def _multi_queries_sql() -> str:
    rows = ", ".join(
        f"({qid}, ['" + "', '".join(terms) + "'])" for qid, terms in MULTI_QUERIES
    )
    return f"(VALUES {rows}) AS q(query_id, terms)"


BM25_MULTI_ORACLE = (
    _CHUNK_CTE
    + f"""
, q AS (
    SELECT CAST(query_id AS BIGINT) AS query_id, unnest(terms) AS term
    FROM {_multi_queries_sql()}
), b AS (
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, chunk_id,
           CAST(len(ctoks) AS DOUBLE) AS dl, ctoks
    FROM ch
), p AS (
    SELECT b.doc_id, b.chunk_idx, b.chunk_id, b.dl, dt.term,
           CAST(len(list_filter(b.ctoks, x -> x = dt.term)) AS DOUBLE) AS tf
    FROM b CROSS JOIN (SELECT DISTINCT term FROM q) dt
    WHERE len(list_filter(b.ctoks, x -> x = dt.term)) > 0
), s AS (
    SELECT CAST(count(*) AS DOUBLE) AS n_chunks, avg(dl) AS avgdl FROM b
), d AS (
    SELECT term, CAST(count(*) AS DOUBLE) AS df FROM p GROUP BY term
), scored AS (
    SELECT q.query_id, p.doc_id, p.chunk_idx, p.chunk_id,
           ROUND(SUM(
               ln(1.0 + (s.n_chunks - d.df + 0.5) / (d.df + 0.5))
               * p.tf * {BM25_K1 + 1.0}
               / (p.tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * p.dl / s.avgdl))
           ), 6) AS bm25
    FROM p JOIN q USING (term) JOIN d USING (term) CROSS JOIN s
    GROUP BY 1, 2, 3, 4
)
SELECT query_id, doc_id, chunk_idx, chunk_id, bm25, rnk
FROM (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY bm25 DESC, chunk_id
    ) AS BIGINT) AS rnk
    FROM scored
)
WHERE rnk <= {MULTI_TOPK}
"""
)


@register(
    "chunk_bm25_multiquery",
    oracle=BM25_MULTI_ORACLE,
    tags=("text", "chunk", "retrieval"),
    # rotated INTO the driver window in round 9 (swap: doc_top_token out)
)
def chunk_bm25_multiquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 per query for a query TABLE — the registered,
    oracle-checked head of ``bm25_topk_multi`` (the real-workload form
    behind the fixed-term ``chunk_bm25_topk``). Two queries with
    overlapping vocabulary share the corpus-side postings pass: the
    distinct union of query terms drives ONE array-filter scan, per-term
    df is computed once and joined back per (query, term), and an
    absent term exercises the drop-out path. Plan shape per
    ``bm25_topk_multi``'s docstring: bounded broadcasts + one
    map-side-combined (query, chunk) aggregate + the exact two-phase
    grouped top-N. Duplicate terms count once; only matching chunks
    rank (zero-score padding is not a retrieval result).
    """
    chunks = chunk_windows_frame(
        fan_out(spark, load_table(spark, sf_dir, "documents"))
    )
    queries = spark.createDataFrame(
        [(qid, list(terms)) for qid, terms in MULTI_QUERIES],
        "query_id long, terms array<string>",
    )
    return bm25_topk_multi(chunks, queries, top_k=MULTI_TOPK)


def _duck_tf(term: str) -> str:
    return f"len(list_filter(ctoks, x -> x = '{term}'))"


_BM25_TERM_SQL = " + ".join(
    f"""(
        ln(1.0 + (s.n_chunks - s.df_{i} + 0.5) / (s.df_{i} + 0.5))
        * b.tf_{i} * {BM25_K1 + 1.0}
        / (b.tf_{i} + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * b.dl / s.avgdl))
    )"""
    for i in range(len(QUERY_TERMS))
)

BM25_ORACLE = (
    _CHUNK_CTE
    + f"""
, b AS (
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           chunk_id,
           CAST(len(ctoks) AS DOUBLE) AS dl,
           {", ".join(f"CAST({_duck_tf(t)} AS DOUBLE) AS tf_{i}" for i, t in enumerate(QUERY_TERMS))}
    FROM ch
), s AS (
    SELECT CAST(count(*) AS DOUBLE) AS n_chunks,
           avg(dl) AS avgdl,
           {", ".join(f"SUM(CASE WHEN tf_{i} > 0 THEN 1.0 ELSE 0.0 END) AS df_{i}" for i in range(len(QUERY_TERMS)))}
    FROM b
)
SELECT doc_id, chunk_idx, chunk_id,
       ROUND({_BM25_TERM_SQL}, 6) AS bm25
FROM b CROSS JOIN s
ORDER BY bm25 DESC, chunk_id ASC
LIMIT {BM25_TOPK}
"""
)


@register(
    "chunk_bm25_topk",
    oracle=BM25_ORACLE,
    tags=("text", "chunk", "retrieval"),
    past_window=True,
)
def chunk_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) top-50 chunks for a fixed 3-term query —
    the lexical first-stage ranker of a hybrid retrieval stack, run at
    the same chunk grain the ANN family indexes.

    Plan: the chunker's narrow explode feeds a codegen projection that
    computes each query term's tf via an array filter (no token
    explode, no per-term shuffle), corpus constants ride one 1-row
    broadcast (the allowlisted constant-BNLJ shape), and the top-k is
    ``TakeOrderedAndProject`` — per-partition partial top-50, no global
    sort. The ranking key is the ROUNDED score with a chunk_id
    tiebreak, making the top-k set reproducible across engines. At
    100 TB the constants come from ``term_postings_stats`` instead of
    the in-query second pass, leaving exactly one scan over the corpus.
    """
    chunks = chunk_windows_frame(fan_out(spark, load_table(spark, sf_dir, "documents")))
    return bm25_topk_frame(chunks)


POSTINGS_ORACLE = (
    _CHUNK_CTE
    + """
, e AS (
    SELECT doc_id, chunk_id, unnest(ctoks) AS term
    FROM ch
), g AS (
    SELECT term,
           CAST(COUNT(DISTINCT chunk_id) AS BIGINT) AS df_chunks,
           CAST(COUNT(*) AS BIGINT) AS cf,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM e
    GROUP BY term
), n AS (
    SELECT CAST(COUNT(DISTINCT chunk_id) AS DOUBLE) AS n_chunks FROM e
)
SELECT term, df_chunks, cf, n_docs,
       ROUND(ln(1.0 + (n.n_chunks - g.df_chunks + 0.5) / (g.df_chunks + 0.5)), 6) AS idf
FROM g CROSS JOIN n
"""
)


@register(
    "term_postings_stats",
    oracle=POSTINGS_ORACLE,
    tags=("text", "chunk", "retrieval", "unbenched"),
    past_window=True,
)
def term_postings_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index statistics per term over the chunk corpus: chunk
    document frequency, collection frequency, distinct source docs, and
    Robertson idf ``ln(1 + (N − df + ½)/(df + ½))``.

    This is the vocabulary-sized table an index build publishes once;
    query-time scorers (``chunk_bm25_topk`` at scale) broadcast it
    instead of re-deriving corpus constants. Plan: chunker → token
    explode → one map-side-combined groupBy on term (the only
    data-proportional shuffle), with the chunk count riding a 1-row
    broadcast. Output is vocabulary-sized — tiny relative to the corpus
    at any scale.
    """
    chunks = chunk_windows_frame(fan_out(spark, load_table(spark, sf_dir, "documents")))
    return postings_stats_frame(chunks)


def postings_stats_frame(chunks: DataFrame) -> DataFrame:
    """Postings statistics over any (doc_id, chunk_id, chunk_text)
    chunk frame — shared by the batch query and the chunk-store head
    (``streaming/jobs.py::term_postings_from_store``), so index-build
    stats cannot drift between the one-shot and ingest-time paths."""
    e = scoped_persist(
        chunks.select(
            "doc_id", "chunk_id", F.explode(F.split("chunk_text", " ")).alias("term")
        )
    )
    g = e.groupBy("term").agg(
        F.countDistinct("chunk_id").cast("long").alias("df_chunks"),
        F.count(F.lit(1)).cast("long").alias("cf"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )
    n = e.agg(F.countDistinct("chunk_id").cast("double").alias("n_chunks"))
    return g.crossJoin(F.broadcast(n)).select(
        "term",
        "df_chunks",
        "cf",
        "n_docs",
        F.round(
            F.log(
                F.lit(1.0)
                + (F.col("n_chunks") - F.col("df_chunks") + F.lit(0.5))
                / (F.col("df_chunks") + F.lit(0.5))
            ),
            6,
        ).alias("idf"),
    )


# ------------------------------------------------- hybrid fusion (RRF)

_RRF_K = 60  # the standard reciprocal-rank-fusion constant
_RRF_TOP = 20


def _hybrid_rrf_oracle() -> str:
    from gmall_flink_parent_spark.functions.similarity import TOP_K, _cosine_oracle

    return f"""
WITH lex_src AS ({BM25_ORACLE}),
dense_src AS ({_cosine_oracle(TOP_K, same_label=False)}),
lex AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY s DESC, doc_id) AS lex_rank
    FROM (SELECT doc_id, max(bm25) AS s FROM lex_src GROUP BY doc_id)
), dense AS (
    SELECT neighbor_id AS doc_id, CAST(rnk AS BIGINT) AS dense_rank
    FROM dense_src WHERE query_id = 0
), fused AS (
    SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
           l.lex_rank, d.dense_rank,
           ROUND(COALESCE(1.0 / ({_RRF_K} + l.lex_rank), 0)
                 + COALESCE(1.0 / ({_RRF_K} + d.dense_rank), 0), 6) AS rrf
    FROM lex l FULL OUTER JOIN dense d USING (doc_id)
)
SELECT doc_id, CAST(lex_rank AS BIGINT) AS lex_rank,
       CAST(dense_rank AS BIGINT) AS dense_rank, rrf
FROM fused ORDER BY rrf DESC, doc_id LIMIT {_RRF_TOP}
"""


@register(
    "hybrid_rrf_topk",
    oracle=_hybrid_rrf_oracle(),
    tags=("text", "retrieval", "similarity", "hybrid"),
    past_window=True,
)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion: the lexical ranking
    (``chunk_bm25_topk`` reduced to document grain) and the dense
    ranking (``cosine_topk_bruteforce``'s query 0, vec_id ≡ doc_id)
    fused as ``Σ 1/(60 + rank)`` — the standard score-free ensemble
    (Cormack et al., SIGIR 2009) that needs no calibration between
    BM25 scores and cosines, exactly how production RAG stacks combine
    a sparse and a dense retriever.

    Both inputs are the already-audited registered heads, so fusion
    adds only rank windows over TOP-K-SIZED frames (≤ 50 lexical docs,
    ≤ 5 dense hits — constant, so the global rank window is a
    constant-size sort, not a corpus sort), one full outer join on
    doc_id, and a constant-size top-20. A missing side contributes 0,
    so a doc found by only one retriever still places — the property
    that makes RRF robust to either retriever missing.
    """
    from gmall_flink_parent_spark.functions.similarity import (
        cosine_topk_bruteforce,
    )
    from pyspark.sql import Window

    lex_src = chunk_bm25_topk(spark, sf_dir)
    lex = (
        lex_src.groupBy("doc_id")
        .agg(F.max("bm25").alias("s"))
        .withColumn(
            "lex_rank",
            F.row_number().over(Window.orderBy(F.desc("s"), F.asc("doc_id"))),
        )
        .select("doc_id", F.col("lex_rank").cast("long").alias("lex_rank"))
    )
    dense = (
        cosine_topk_bruteforce(spark, sf_dir)
        .filter(F.col("query_id") == 0)
        .select(
            F.col("neighbor_id").alias("doc_id"),
            F.col("rnk").cast("long").alias("dense_rank"),
        )
    )
    fused = (
        lex.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "dense_rank",
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("dense_rank")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(_RRF_TOP)


# --------------------------------------------------- per-doc TF-IDF

_TFIDF_TOP = 3

TFIDF_ORACLE = f"""
WITH tokens AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term,
           ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tfidf, rnk FROM (
    SELECT doc_id, term, tfidf,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY tfidf DESC, term) AS rnk
    FROM scored)
WHERE rnk <= {_TFIDF_TOP}
"""


@register(
    "doc_tfidf_topterms",
    oracle=TFIDF_ORACLE,
    tags=("retrieval", "text"),
    past_window=True,
)
def doc_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the keyword-extraction
    primitive behind document tagging and sparse query expansion
    (BM25's ``term_postings_stats`` is corpus-grain; this is the
    doc-grain dual).

    Plan: explode → (doc, term) counts with map-side combine; the
    (term, df) aggregate DERIVES from that persisted frame, so the
    token stream is built once; the scoring join shuffles on term
    (Zipf-hot terms are AQE skew-split; at 100 TB the df side can also
    be size-gated broadcast when the vocabulary is bounded). n_docs
    travels as a 1-row broadcast crossJoin (the bounded-stats shape),
    NEVER a driver collect. The per-doc top-3 window partitions on
    doc_id — each partition is one document's distinct terms, bounded
    by document length. IDF = ln(N/df) is a correctly-rounded IEEE op
    over exact integers, so scores are bit-identical across engines;
    the window orders by the ROUNDED score + term on both sides so
    rank ties resolve identically.
    """
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = scoped_persist(
        tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TFIDF_TOP)
        .select("doc_id", "term", "tfidf", "rnk")
    )


# --------------------------------------- positional phrase search

# Fixed demo phrase workload: five bigrams plus one trigram, all drawn
# from the corpus vocabulary. Any phrase set works — probe cost is
# proportional to the QUERY TERMS' posting lists, never the corpus.
PHRASES = (
    "table hash",
    "order fast",
    "part filter",
    "scan slow",
    "spark data",
    "window fast query",
)


def _phrase_terms() -> list[tuple[str, str, int, int]]:
    """(phrase, term, offset, n_terms) rows for the phrase workload."""
    rows = []
    for p in PHRASES:
        toks = p.split(" ")
        rows += [(p, t, i, len(toks)) for i, t in enumerate(toks)]
    return rows


def _phrase_oracle() -> str:
    values = ", ".join(
        f"('{p}', '{t}', {off}, {n})" for p, t, off, n in _phrase_terms()
    )
    return f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), pos AS (
    SELECT doc_id, u.w, u.i
    FROM toks, LATERAL (
        SELECT UNNEST(t) AS w, UNNEST(range(0, len(t))) AS i
    ) u
), terms(phrase, term, off, n_terms) AS (
    VALUES {values}
), probe AS (
    SELECT tm.phrase, p.doc_id, p.i - tm.off AS start, tm.off, tm.n_terms
    FROM pos p JOIN terms tm ON p.w = tm.term
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


PHRASE_ORACLE = _phrase_oracle()


@register(
    "phrase_search_positional",
    oracle=PHRASE_ORACLE,
    tags=("text", "retrieval", "phrase"),
    # promoted into the driver window in the round-13 rotation
)
def phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over a positional inverted index: for each
    query phrase, every document containing it verbatim, with its
    occurrence count and first token position — the retrieval primitive
    BM25 can't express (bag-of-words scoring loses adjacency) and the
    reason real search indexes store positions.

    Plan = the positional-index probe, not a text rescan per phrase:
    tokens posexplode once into (doc, pos, token) postings; an inner
    join against the BROADCAST query-term table (term, offset) discards
    every posting outside the query vocabulary — on a stored index this
    is the partition-pruned read of the query terms' posting lists —
    and adjacency then resolves WITHOUT any positional self-join: a
    posting for offset-``o`` of a phrase starting at ``pos − o`` votes
    for span ``start = pos − o``, so ONE map-side-combined aggregate on
    (phrase, doc, start) counting distinct offsets finds the complete
    spans (repeated words in a phrase are handled because votes at the
    same start come from distinct offsets). The final per-(phrase, doc)
    rollup is a second small aggregate. Cost scales with the query
    terms' posting lists; phrase length only widens the tiny broadcast.
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    return phrase_match_frame(spark, positional_postings_frame(docs))


def positional_postings_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, token) positional postings of a (doc_id, text)
    frame — the stored shape of a positional inverted index. Shared by
    the batch head and the ingest-time postings store
    (``streaming/jobs.py``), so index rows cannot drift from the
    in-query tokenization."""
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )


def phrase_match_frame(spark: SparkSession, postings: DataFrame) -> DataFrame:
    """The phrase probe over any (doc_id, pos, token) postings frame —
    shared by the batch head (postings derived in-query) and
    ``phrase_search_from_store`` (postings read from the ingest store,
    text never re-scanned)."""
    terms = spark.createDataFrame(
        _phrase_terms(), "phrase string, term string, off int, n_terms int"
    )
    probe = postings.join(
        F.broadcast(terms), postings["token"] == terms["term"]
    ).select(
        "phrase",
        "doc_id",
        (F.col("pos") - F.col("off")).alias("start"),
        "off",
        "n_terms",
    )
    spans = (
        probe.groupBy("phrase", "doc_id", "start", "n_terms")
        .agg(F.countDistinct("off").alias("k"))
        .filter(F.col("k") == F.col("n_terms"))
    )
    return spans.groupBy("phrase", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
        F.min("start").cast("bigint").alias("first_pos"),
    )


# ------------------------------------------- proximity (NEAR) search

# Fixed demo NEAR workload over the corpus vocabulary: unordered term
# pairs that must co-occur within PROX_SLOP tokens.
PROX_PAIRS = (
    ("spark", "join"),
    ("table", "scan"),
    ("fast", "slow"),
)
PROX_SLOP = 3


def _prox_oracle() -> str:
    values = ", ".join(f"('{a}', '{b}')" for a, b in PROX_PAIRS)
    return f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), pos AS (
    SELECT doc_id, u.w, u.i
    FROM toks, LATERAL (
        SELECT UNNEST(t) AS w, UNNEST(range(0, len(t))) AS i
    ) u
), qp(term_a, term_b) AS (
    VALUES {values}
), hits AS (
    SELECT qp.term_a, qp.term_b, a.doc_id,
           abs(a.i - b.i) AS dist
    FROM qp
    JOIN pos a ON a.w = qp.term_a
    JOIN pos b ON b.w = qp.term_b AND b.doc_id = a.doc_id
    WHERE abs(a.i - b.i) <= {PROX_SLOP}
)
SELECT term_a, term_b, doc_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(min(dist) AS BIGINT) AS min_dist
FROM hits GROUP BY term_a, term_b, doc_id
"""


PROX_ORACLE = _prox_oracle()


@register(
    "term_proximity_search",
    oracle=PROX_ORACLE,
    tags=("text", "retrieval", "proximity"),
    # promoted into the driver window in the round-13 rotation
)
def term_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NEAR operator over the positional index: for each query term
    pair, every document where the two terms co-occur within
    ``PROX_SLOP`` tokens (unordered), with the within-window pair count
    and the closest distance — the proximity-search primitive between
    bag-of-words BM25 (no positions) and `phrase_search_positional`
    (exact adjacency), and the classic signal for "terms about the
    same thing HERE, not merely in the same document".

    Plan: the same broadcast index probe as the phrase head — postings
    join the tiny query-pair table on the term, so only the query
    terms' posting lists survive — then the two sides meet in ONE
    equi-join on (pair, doc) with the band predicate |pa − pb| ≤ slop
    as a residual. Per-(pair, doc) work is that document's tf(a)·tf(b)
    — bounded by per-doc term frequency, never corpus² — and the final
    aggregate is map-side combined at (pair, doc) grain. The oracle
    states the naive all-positions join; the probe is losslessly
    identical (hash-proved every run).
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    return proximity_match_frame(spark, positional_postings_frame(docs))


def proximity_match_frame(spark: SparkSession, postings: DataFrame) -> DataFrame:
    """The NEAR probe over any (doc_id, pos, token) postings frame —
    shared by the batch head (postings derived in-query) and
    ``term_proximity_from_store`` (the SAME stored positional index
    that serves the phrase probe: one index, both query types)."""
    qp = spark.createDataFrame(list(PROX_PAIRS), "term_a string, term_b string")
    vocab = qp.select(F.col("term_a").alias("qterm")).unionByName(
        qp.select(F.col("term_b").alias("qterm"))
    ).distinct()
    # ONE corpus scan: only postings of the query vocabulary survive the
    # broadcast probe; both join sides below read this tiny cached frame.
    probe = scoped_persist(
        postings.join(
            F.broadcast(vocab), F.col("token") == F.col("qterm")
        ).select("doc_id", "token", "pos")
    )
    a = probe.join(F.broadcast(qp), probe["token"] == F.col("term_a")).select(
        "term_a", "term_b", "doc_id", F.col("pos").alias("pa")
    )
    b = probe.select(
        F.col("token").alias("tb"),
        F.col("doc_id").alias("doc_b"),
        F.col("pos").alias("pb"),
    )
    hits = a.join(
        b,
        (F.col("term_b") == F.col("tb"))
        & (F.col("doc_id") == F.col("doc_b"))
        & (F.abs(F.col("pa") - F.col("pb")) <= PROX_SLOP),
    )
    return hits.groupBy("term_a", "term_b", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        F.min(F.abs(F.col("pa") - F.col("pb"))).cast("bigint").alias("min_dist"),
    )
