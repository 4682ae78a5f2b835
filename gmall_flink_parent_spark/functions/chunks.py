"""Document chunking — the retrieval/RAG grain below documents.

Not in the reference (SURVEY §2.7): retrieval pipelines index CHUNKS —
fixed-size overlapping token windows with stable ids — not whole
documents, and chunk-grain exact-dup detection is how an index avoids
storing the same passage once per mirror site. Two heads:

- ``doc_chunk_windows`` — the chunker itself: 32-token windows every 16
  tokens, each with a deterministic ``chunk_id = md5(doc_id:idx)``.
  A chunk is emitted only when it covers at least one token no earlier
  chunk covers (``1 + ceil((n－C)/S)`` chunks per doc), so re-chunking a
  grown document extends the id sequence instead of shifting it.
- ``chunk_dup_overlap`` — cross-document repeated chunks by content
  fingerprint: the chunk-grain analog of ``dedup_exact``, and the
  dedup gate an embedding/index stage runs before paying to embed.

Scale shape: the chunker is a NARROW explode (each document expands to
its own chunks in place — no shuffle, ~n/S output rows per doc), so at
100 TB it pipelines straight from the scan into whatever consumes the
chunks; the overlap head is one map-side-combined aggregate on fixed
32-byte md5 keys. Chunk ids and fingerprints are md5-derived, so both
heads are DuckDB-oracle-backed end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_parent_spark.registry import register
from gmall_flink_parent_spark.sources.tables import fan_out, load_table

CHUNK_TOKENS = 32  # window width C
CHUNK_STRIDE = 16  # hop S (C−S = 16 tokens of overlap for boundary recall)


def chunk_windows_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_idx, chunk_id, n_chunk_tokens, chunk_text) — the
    sliding-window chunker over any documents-shaped frame, shared by
    the batch query and ingest-time forms."""
    c, s = CHUNK_TOKENS, CHUNK_STRIDE
    toks = F.split(F.col("text"), " ")
    base = docs.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    # last chunk index: 0 for short docs, else ceil((n−C)/S) — emitting
    # further windows would only re-cover tokens earlier chunks own.
    max_idx = F.when(
        F.col("n") > c, ((F.col("n") - c + (s - 1)) / s).cast("int")
    ).otherwise(F.lit(0))
    chunked = base.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), max_idx)).alias("chunk_idx"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.slice(F.col("toks"), F.col("chunk_idx") * s + 1, c).alias("ctoks"),
    )
    return chunked.select(
        "doc_id",
        "chunk_idx",
        F.md5(F.concat_ws(":", F.col("doc_id"), F.col("chunk_idx"))).alias("chunk_id"),
        F.size("ctoks").cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", F.col("ctoks")).alias("chunk_text"),
    )


_CHUNK_CTE = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks, len(string_split(text, ' ')) AS n
    FROM documents
), idx AS (
    SELECT doc_id, toks,
           unnest(range(0, (CASE WHEN n > {CHUNK_TOKENS}
               THEN (n - {CHUNK_TOKENS} + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE}
               ELSE 0 END) + 1)) AS chunk_idx
    FROM t
), ch AS (
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           md5(concat(CAST(doc_id AS VARCHAR), ':', CAST(chunk_idx AS VARCHAR))) AS chunk_id,
           list_slice(toks, chunk_idx * {CHUNK_STRIDE} + 1,
                      chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}) AS ctoks
    FROM idx
)
"""

CHUNK_ORACLE = (
    _CHUNK_CTE
    + """
SELECT doc_id, chunk_idx, chunk_id,
       CAST(len(ctoks) AS BIGINT) AS n_chunk_tokens,
       array_to_string(ctoks, ' ') AS chunk_text
FROM ch
"""
)


@register(
    "doc_chunk_windows",
    oracle=CHUNK_ORACLE,
    tags=("text", "chunk", "retrieval"),
    past_window=True,
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunker: 32-token chunks every 16 tokens with
    deterministic ids.

    The grain converter between curation (documents) and retrieval
    (chunks): downstream embedding, ANN indexing, and decontamination
    all run per chunk. ``chunk_id = md5(doc_id:chunk_idx)`` is stable
    across reprocessing — the id a vector store keys on. The emission
    rule (``1 + ceil((n−C)/S)`` windows) guarantees every token is
    covered exactly while no window is fully contained in its
    predecessors, and Spark/DuckDB both clip the final short window the
    same way. Narrow explode: zero shuffles at any scale.
    """
    return chunk_windows_frame(fan_out(spark, load_table(spark, sf_dir, "documents")))


CHUNK_DUP_ORACLE = (
    _CHUNK_CTE
    + """
, fp AS (
    SELECT md5(array_to_string(ctoks, ' ')) AS chunk_fp,
           doc_id, len(ctoks) AS nt
    FROM ch
)
SELECT chunk_fp,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc,
       CAST(MIN(nt) AS BIGINT) AS n_chunk_tokens
FROM fp
GROUP BY chunk_fp
HAVING COUNT(DISTINCT doc_id) >= 2
"""
)


@register(
    "chunk_dup_overlap",
    oracle=CHUNK_DUP_ORACLE,
    tags=("text", "chunk", "dedup", "unbenched"),
    past_window=True,
)
def chunk_dup_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-grain exact duplicates across documents — passages whose
    32-token window text repeats verbatim in ≥ 2 documents.

    The pre-embedding dedup gate: a retrieval index that embeds every
    chunk of every mirror page pays the embedding bill once per copy
    and then returns the same passage k times; fingerprint-grouping
    first costs one aggregate. ``keeper_doc`` (min doc_id) is the
    canonical copy, matching ``dedup_exact``'s keeper rule one grain
    down. One shuffle: map-side-combined groupBy on the 32-byte md5 —
    the chunker itself adds none.
    """
    chunks = chunk_windows_frame(fan_out(spark, load_table(spark, sf_dir, "documents")))
    return (
        chunks.select(
            F.md5(F.col("chunk_text")).alias("chunk_fp"),
            "doc_id",
            "n_chunk_tokens",
        )
        .groupBy("chunk_fp")
        .agg(
            F.count("*").alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc"),
            F.min("n_chunk_tokens").alias("n_chunk_tokens"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            "chunk_fp",
            F.col("n_chunks").cast("long").alias("n_chunks"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("keeper_doc").cast("long").alias("keeper_doc"),
            F.col("n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
        )
    )
