"""Similarity search over embedding columns (array<float>, dim 64).

Two tiers, both oracle-checked:

- **brute-force cosine top-k** — the correctness baseline; a broadcast
  join of the (small) query set against all candidates, cosine computed
  JVM-side, top-k via window rank.
- **IVF-style bucketed ANN** — candidates restricted to the query's
  coarse cell (here the ``label`` column plays the IVF cell id, i.e. the
  k-means assignment is precomputed); at 100 TB this prunes the scan to
  1/n_cells of the corpus and the join is an equi-join on the cell key.

Determinism note: the dot product is generated as a fixed left-to-right
64-term chain of double-cast multiplies, so Spark, DuckDB, and any
IEEE-754 engine produce bit-identical cosines — which makes ranking (and
hence the oracle hash) stable. sqrt/divide are correctly-rounded IEEE
ops. The vectorized-numpy variant for raw throughput is
``cosine_topk_pandas`` (same results, mapInPandas + Arrow).
"""

from __future__ import annotations

from functools import reduce
from typing import Iterator

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_flink_parent_spark.registry import register, scoped_persist
from gmall_flink_parent_spark.sources.tables import fan_out, load_table

DIM = 64
N_QUERIES = 8  # query set = vec_id < 8
TOP_K = 5
IVF_TOP_K = 3


def _dot(a: str, b: str) -> Column:
    # aggregate(zip_with(...)) folds left: 0.0 + t0 + t1 + … — the same
    # IEEE-754 evaluation order as the oracle's unrolled t0 + t1 + …
    # chain (0.0 + x ≡ x), so cosines are bit-identical across engines,
    # but the expression tree is ~6 nodes instead of ~260 — plan and
    # codegen time stay flat no matter how the filter duplicates it.
    return F.aggregate(
        F.zip_with(
            F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm_sq(a: str) -> Column:
    return F.aggregate(
        F.col(a),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )


def _dot_sql(a: str, b: str) -> str:
    # DuckDB lists are 1-indexed.
    return " + ".join(
        f"CAST({a}[{i + 1}] AS DOUBLE) * CAST({b}[{i + 1}] AS DOUBLE)"
        for i in range(DIM)
    )


def _cosine_oracle(top_k: int, same_label: bool) -> str:
    label_cond = "AND q.label = c.label" if same_label else ""
    return f"""
WITH base AS (
    SELECT vec_id, label, embedding,
           sqrt({_dot_sql("embedding", "embedding")}) AS nrm
    FROM embeddings
), scored AS (
    SELECT q.vec_id AS query_id,
           c.vec_id AS neighbor_id,
           ({_dot_sql("q.embedding", "c.embedding")}) / (q.nrm * c.nrm) AS cs
    FROM base q
    JOIN base c ON c.vec_id <> q.vec_id {label_cond}
    WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, neighbor_id, rnk, ROUND(cs, 6) AS cos_sim
FROM (
    SELECT query_id, neighbor_id, cs,
           row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk
    FROM scored
)
WHERE rnk <= {top_k}
"""


def cosine_topk_frame(
    emb: DataFrame,
    queries: DataFrame,
    top_k: int = TOP_K,
    same_label: bool = False,
    exclude_self: bool = True,
) -> DataFrame:
    """Brute-force cosine top-k for a caller-supplied query TABLE — the
    real-workload form of the registered heads, which fix the query set
    to ``vec_id < 8``. ``queries`` is any (query_id, q_emb [, q_label])
    frame; query sets are broadcast-bounded by nature (a few to a few
    thousand vectors), so the plan is unchanged from the fixed heads:
    query side broadcast, candidate side streams through one scan, the
    64-term dot product stays fixed-order codegen arithmetic (same
    bit-exactness argument as the module docstring), and the only
    exchange is the tiny per-query top-k window.

    ``same_label=True`` restricts candidates to the query's coarse
    cell (``q_label`` required — the IVF-pruned form);
    ``exclude_self=True`` drops the candidate whose vec_id equals
    query_id (the self-match convention of the registered heads —
    turn off for external query vectors, whose ids live in a
    different space).
    """
    base = emb.select(
        "vec_id", "label", "embedding", F.sqrt(_norm_sq("embedding")).alias("nrm")
    )
    q_nrm = F.sqrt(
        F.aggregate(
            F.col("q_emb"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    q_cols = ["query_id", "q_emb"] + (["q_label"] if same_label else [])
    q = queries.select(*q_cols, q_nrm.alias("q_nrm"))
    cond = F.lit(True)
    if exclude_self:
        cond = F.col("vec_id") != F.col("query_id")
    if same_label:
        cond = cond & (F.col("label") == F.col("q_label"))
    scored = (
        base.join(F.broadcast(q), cond)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (_dot("q_emb", "embedding") / (F.col("q_nrm") * F.col("nrm"))).alias("cs"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cs").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select("query_id", "neighbor_id", "rnk", F.round("cs", 6).alias("cos_sim"))
    )


def _cosine_topk(
    spark: SparkSession, sf_dir: str, top_k: int, same_label: bool
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    return cosine_topk_frame(emb, q, top_k, same_label=same_label)


# Fixed EXTERNAL query vectors for the registered multi-query head:
# ids far outside the corpus vec_id space, components exact binary
# fractions (k/16, k/32) so the float literals round-trip bit-identically
# through Spark doubles and DuckDB list literals.
EXTERNAL_QUERIES = (
    (1_000_000, tuple(((i * 7) % 16 - 8) / 16 for i in range(DIM))),
    (2_000_000, tuple(((i * 5) % 32 - 16) / 32 for i in range(DIM))),
)


def _external_queries_sql() -> str:
    rows = ", ".join(
        f"({qid}, [" + ", ".join(str(v) for v in vec) + "])"
        for qid, vec in EXTERNAL_QUERIES
    )
    return f"(VALUES {rows}) AS v(query_id, q_emb)"


COSINE_MULTI_ORACLE = f"""
WITH base AS (
    SELECT vec_id, embedding,
           sqrt({_dot_sql("embedding", "embedding")}) AS nrm
    FROM embeddings
), q AS (
    SELECT CAST(query_id AS BIGINT) AS query_id, q_emb,
           sqrt({_dot_sql("q_emb", "q_emb")}) AS q_nrm
    FROM {_external_queries_sql()}
), scored AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           ({_dot_sql("q.q_emb", "c.embedding")}) / (q.q_nrm * c.nrm) AS cs
    FROM base c CROSS JOIN q
)
SELECT query_id, neighbor_id, rnk, ROUND(cs, 6) AS cos_sim
FROM (
    SELECT query_id, neighbor_id, cs,
           row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk
    FROM scored
)
WHERE rnk <= {TOP_K}
"""


@register(
    "cosine_topk_multiquery",
    oracle=COSINE_MULTI_ORACLE,
    tags=("similarity", "ann"),
    past_window=True,
)
def cosine_topk_multiquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for EXTERNAL query vectors — the
    registered, oracle-checked head of ``cosine_topk_frame``'s
    query-table form (the real ANN workload: query embeddings arrive
    from outside the indexed corpus, so there is no self-match to
    exclude and no corpus row to borrow a norm from). Two fixed
    vectors with exact-binary-fraction components ride the broadcast
    query side; candidates stream through one scan with the
    fixed-order codegen dot product, so cosines — including the
    query-side norm computed from the raw ``q_emb`` array — are
    bit-identical to the DuckDB oracle.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = spark.createDataFrame(
        [(qid, list(vec)) for qid, vec in EXTERNAL_QUERIES],
        "query_id long, q_emb array<double>",
    )
    return cosine_topk_frame(emb, queries, TOP_K, exclude_self=False)


@register(
    "cosine_topk_bruteforce",
    oracle=_cosine_oracle(TOP_K, same_label=False),
    tags=("similarity", "ann"),
    past_window=True,
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for each query vector (vec_id < 8).

    Query set broadcasts; the candidate side streams through one scan —
    no shuffle until the (tiny) top-k window. The 64-term dot product is
    whole-stage-codegen arithmetic, no UDF.
    """
    return _cosine_topk(spark, sf_dir, TOP_K, same_label=False)


@register(
    "ann_ivf_bucketed",
    oracle=_cosine_oracle(IVF_TOP_K, same_label=True),
    tags=("similarity", "ann"),
)
def ann_ivf_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned ANN: search only the query's coarse cell (label).

    The equi-join on the cell id lets Catalyst prune candidates before
    any distance math — the physical plan is a broadcast hash join on
    (cell, query) versus brute-force's pure cross product. With n_probe>1
    the query side would explode its probe list; same plan shape.
    """
    return _cosine_topk(spark, sf_dir, IVF_TOP_K, same_label=True)


NEAR_DUP_COS = 0.35

EMBED_DEDUP_ORACLE = f"""
WITH base AS (
    SELECT vec_id, label, embedding,
           sqrt({_dot_sql("embedding", "embedding")}) AS nrm
    FROM embeddings
)
SELECT a.vec_id AS vec_id_a,
       b.vec_id AS vec_id_b,
       a.label AS label,
       ROUND(({_dot_sql("a.embedding", "b.embedding")}) / (a.nrm * b.nrm), 6) AS cos_sim
FROM base a
JOIN base b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ({_dot_sql("a.embedding", "b.embedding")}) / (a.nrm * b.nrm) >= {NEAR_DUP_COS}
"""


@register(
    "dedup_embedding_cosine",
    oracle=EMBED_DEDUP_ORACLE,
    tags=("dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within coarse cells (cosine ≥ 0.35).

    The last of the dedup family (exact / Jaccard / MinHash / SimHash /
    embedding): candidate pairs come from an **equi-join on the coarse
    cell id** (``label``, i.e. a precomputed k-means assignment), never
    an all-pairs product — the same IVF blocking as ``ann_ivf_bucketed``.
    Per cell the join is quadratic in cell size, so at 100 TB cell
    granularity (k in k-means) is the knob: n²/k pairwise ops spread
    across the cluster, AQE splitting any hot cell. The 64-term dot
    product is fixed-order codegen arithmetic (see module docstring), so
    the threshold filter agrees bit-for-bit with the DuckDB oracle.
    """
    # fan_out: the pair join's quadratic dot-product work must run wider
    # than the (possibly single-split) scan; no-op at real scale.
    emb = fan_out(spark, load_table(spark, sf_dir, "embeddings"))
    base = emb.select(
        "vec_id", "label", "embedding", F.sqrt(_norm_sq("embedding")).alias("nrm")
    )
    a = base.select(
        F.col("vec_id").alias("vec_id_a"),
        "label",
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = base.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cs = _dot("emb_a", "emb_b") / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        a.join(
            b,
            (F.col("label") == F.col("label_b"))
            & (F.col("vec_id_a") < F.col("vec_id_b")),
        )
        .withColumn("cs", cs)
        .filter(F.col("cs") >= NEAR_DUP_COS)
        .select("vec_id_a", "vec_id_b", "label", F.round("cs", 6).alias("cos_sim"))
    )


# Signed-random-projection LSH: 16 fixed ±1 hyperplanes over 64 dims,
# generated by a literal LCG so Spark and DuckDB use identical planes.
SRP_BITS = 16
_lcg = 1
_SRP_PLANES: list[list[float]] = []
for _r in range(SRP_BITS):
    row = []
    for _d in range(DIM):
        _lcg = (_lcg * 1_103_515_245 + 12_345) % (1 << 31)
        row.append(1.0 if _lcg & 1 else -1.0)
    _SRP_PLANES.append(row)
SRP_TOP_K = 3


def _srp_bucket_col() -> Column:
    """16-bit SRP bucket id: bit r = [⟨embedding, plane_r⟩ > 0].

    Built as ONE parsed SQL expression (the sq8-grid trick): the
    column-API form constructed 16 × 64 ``F.lit`` plane coefficients —
    ~1,100 py4j round trips, ~1.4 s of pure construction per bench rep
    (measured: nearly ALL of this head's bench time). Here the planes
    are a single inline array-of-arrays literal and the projection fold
    is the same interpreted ``zip_with``/``aggregate`` the column form
    compiled to, so execution is unchanged — only the construction path
    shrinks (one parse, ~ms).

    r14 note (still valid): a fully UNROLLED flat-arithmetic form
    (1024 codegen terms, no fold) was measured against the fold in an
    interleaved same-session A/B and LOST (1.74 s vs 1.50 s warm at
    sf0.1) — giant-expression codegen outweighs its per-row win at this
    scale. This change keeps the fold; it only removes the py4j loop.
    """
    planes = ",".join(
        "array(" + ",".join(f"{c:.1f}D" for c in row) + ")" for row in _SRP_PLANES
    )
    return F.expr(
        "CAST(aggregate("
        f"  zip_with(array({planes}), sequence(0, {SRP_BITS - 1}), (p, r) ->"
        "    CASE WHEN aggregate(zip_with(embedding, p,"
        "                        (x, c) -> CAST(x AS DOUBLE) * c),"
        "                        0.0D, (acc, v) -> acc + v) > 0"
        "         THEN shiftleft(CAST(1 AS BIGINT), r) ELSE CAST(0 AS BIGINT) END),"
        "  CAST(0 AS BIGINT), (a, b) -> a + b) AS BIGINT)"
    )


def _srp_bucket_sql() -> str:
    terms = []
    for r in range(SRP_BITS):
        proj = " + ".join(
            f"({c} * CAST(embedding[{d + 1}] AS DOUBLE))"
            for d, c in enumerate(_SRP_PLANES[r])
        )
        terms.append(f"(CASE WHEN ({proj}) > 0 THEN {1 << r} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


ANN_SRP_ORACLE = f"""
WITH base AS (
    SELECT vec_id, embedding,
           sqrt({_dot_sql("embedding", "embedding")}) AS nrm,
           {_srp_bucket_sql()} AS bucket
    FROM embeddings
), scored AS (
    SELECT q.vec_id AS query_id,
           c.vec_id AS neighbor_id,
           ({_dot_sql("q.embedding", "c.embedding")}) / (q.nrm * c.nrm) AS cs
    FROM base q
    JOIN base c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, neighbor_id, rnk, ROUND(cs, 6) AS cos_sim
FROM (
    SELECT query_id, neighbor_id, cs,
           row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk
    FROM scored
)
WHERE rnk <= {SRP_TOP_K}
"""


@register("ann_srp_lsh", oracle=ANN_SRP_ORACLE, tags=("similarity", "ann", "lsh"))
def ann_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: signed-random-projection buckets, cosine rerank.

    The scale path when no precomputed cells exist (`ann_ivf_bucketed`'s
    complement): 16 fixed ±1 hyperplanes hash each vector to a 16-bit
    bucket — one pure map pass — and candidate generation is an
    **equi-join on the bucket id**, expected corpus/2¹⁶ candidates per
    query instead of a full scan. Exact cosine reranks within the
    bucket. Multi-probe (flipping low-margin bits) would raise recall
    with the same plan shape. All arithmetic is fold-ordered, so buckets
    and ranks match the oracle bit-for-bit.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(_norm_sq("embedding")).alias("nrm"),
        _srp_bucket_col().alias("bucket"),
    )
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("bucket").alias("q_bucket"),
    )
    scored = base.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (_dot("q_emb", "embedding") / (F.col("q_nrm") * F.col("nrm"))).alias("cs"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cs").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= SRP_TOP_K)
        .select("query_id", "neighbor_id", "rnk", F.round("cs", 6).alias("cos_sim"))
    )


ANN_SRP_MULTIPROBE_ORACLE = f"""
WITH base AS (
    SELECT vec_id, embedding,
           sqrt({_dot_sql("embedding", "embedding")}) AS nrm,
           {_srp_bucket_sql()} AS bucket
    FROM embeddings
), probes AS (
    SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm,
           unnest([bucket] || list_transform(range(0, {SRP_BITS}),
                                             r -> xor(bucket, CAST(1 << r AS BIGINT)))) AS pb
    FROM base WHERE vec_id < {N_QUERIES}
), scored AS (
    SELECT p.query_id,
           c.vec_id AS neighbor_id,
           ({_dot_sql("p.q_emb", "c.embedding")}) / (p.q_nrm * c.nrm) AS cs
    FROM probes p
    JOIN base c ON c.bucket = p.pb AND c.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, rnk, ROUND(cs, 6) AS cos_sim
FROM (
    SELECT query_id, neighbor_id, cs,
           row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk
    FROM scored
)
WHERE rnk <= {SRP_TOP_K}
"""


@register(
    "ann_srp_multiprobe",
    oracle=ANN_SRP_MULTIPROBE_ORACLE,
    tags=("similarity", "ann", "lsh", "multiprobe"),
    # rotated out of the driver window in round 11 (ann_srp_lsh keeps the
    # SRP family in-window; multiprobe parity enforced by the local suite)
    past_window=True,
)
def ann_srp_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SRP ANN: each query searches its own bucket plus all
    16 Hamming-1 neighbor buckets, then exact-cosine reranks.

    The recall repair for bucketed LSH: a true neighbor that lands one
    sign-flip away (the dominant miss mode — one projection near zero)
    is recovered without adding hash tables. Plan shape is unchanged
    from ``ann_srp_lsh``: the query side explodes 17 probe rows
    (queries × 17 stays tiny, broadcastable), candidate generation is
    still an equi-join on the bucket id, and the corpus side is scanned
    once with no shuffle. Probe buckets are distinct by construction,
    so no candidate dedup pass is needed.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(_norm_sq("embedding")).alias("nrm"),
        _srp_bucket_col().alias("bucket"),
    )
    probe_arr = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << r)) for r in range(SRP_BITS)],
    )
    probes = (
        base.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            F.explode(probe_arr).alias("pb"),
        )
    )
    scored = base.join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("pb")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (_dot("q_emb", "embedding") / (F.col("q_nrm") * F.col("nrm"))).alias("cs"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cs").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= SRP_TOP_K)
        .select("query_id", "neighbor_id", "rnk", F.round("cs", 6).alias("cos_sim"))
    )


K_CELLS = 10
KMEANS_ITERS = 3


def _sq_dist(a: str, b: str) -> Column:
    return F.aggregate(
        F.zip_with(
            F.col(a),
            F.col(b),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _assign_cells(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest centroid per vector; ties break on cell id via struct-min."""
    scored = emb.join(F.broadcast(cents)).withColumn(
        "dist2", _sq_dist("embedding", "centroid")
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct("dist2", "cell")).alias("m"))
        .select("vec_id", F.col("m.cell").alias("cell"), F.col("m.dist2").alias("dist2"))
    )


@register("ivf_kmeans_assign", oracle=None, tags=("similarity", "iterative", "unbenched"))
def ivf_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means (k=10, 3 fixed iterations) building IVF cells from
    raw embeddings — the iterative-algorithm capability (rows-only
    driver check; invariants incl. run-to-run determinism pinned in
    ``tests/test_operators.py``).

    Each iteration is one broadcast join (vectors × k centroids, scored
    by a fold-ordered squared distance) plus one small-key aggregate for
    the update — at 100 TB a scan-shaped pass per iteration, with only
    k×64 centroid values ever leaving the executors. Determinism at any
    parallelism: init = the k lowest vec_ids; centroid component sums go
    through DECIMAL (partition-order-independent, unlike float sums);
    assignment ties break on cell id.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _assign_cells(emb, _lloyd_centroids(emb)).select(
        "vec_id", "cell", F.round(F.sqrt("dist2"), 6).alias("dist")
    )


def _lloyd_centroids(emb: DataFrame, iters: int = KMEANS_ITERS) -> DataFrame:
    """Train IVF centroids: deterministic Lloyd over (vec_id, embedding)
    → (cell, centroid) — the frame an IVF index persists as its trained
    coarse quantizer (see ``ivf_centroids`` / ``ivf_assign_incremental``)."""
    cents = emb.filter(F.col("vec_id") < K_CELLS).select(
        F.col("vec_id").cast("int").alias("cell"), F.col("embedding").alias("centroid")
    )
    for _ in range(iters):
        assigned = _assign_cells(emb, cents)
        members = assigned.join(emb, "vec_id").select(
            "cell", F.posexplode("embedding").alias("dim", "val")
        )
        cents = (
            members.groupBy("cell", "dim")
            .agg(
                (
                    F.sum(F.col("val").cast("decimal(30,15)"))
                    / F.count(F.lit(1))
                )
                .cast("double")
                .alias("mean")
            )
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "mean"))),
                    lambda s: s["mean"].cast("float"),
                ).alias("centroid")
            )
        )
    return cents


def ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Public centroid training over the embeddings table — the
    offline step whose (cell, centroid) output an index store persists;
    ingestion then only ever runs ``ivf_assign_incremental``."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _lloyd_centroids(emb)


def ivf_assign_incremental(new_emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign a batch of NEW vectors to frozen IVF cells — the index
    MAINTENANCE shape: centroids are trained once (``ivf_centroids``)
    and every later batch pays one broadcast join (k×64 floats) + a
    per-vector min — a scan-shaped pass, no corpus access at all. The
    same fold-ordered distance as training, so an incremental assignment
    equals the batch assignment under the same centroids (parity-tested
    across arbitrary batch splits)."""
    return _assign_cells(new_emb, centroids).select(
        "vec_id", "cell", F.round(F.sqrt("dist2"), 6).alias("dist")
    )


def cosine_topk_pandas(spark: SparkSession, sf_dir: str, top_k: int = TOP_K) -> DataFrame:
    """Vectorized brute-force top-k via mapInPandas + numpy (the throughput path).

    Broadcasts the query matrix to every partition; each Arrow batch is
    scored as one BLAS matmul. Results match ``cosine_topk_bruteforce``
    (asserted in tests) but run ~10-100× faster at real embedding scale.
    Per-partition partial top-k is reduced by a final window, so the
    shuffle carries only n_partitions × n_queries × k rows.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    q_rows = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = np.array([r["vec_id"] for r in q_rows])
    q_mat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    sc = spark.sparkContext
    b_q = sc.broadcast((q_ids, q_mat))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, qm = b_q.value
        for pdf in batches:
            c_ids = pdf["vec_id"].to_numpy()
            c = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            c /= np.linalg.norm(c, axis=1, keepdims=True)
            sims = qm @ c.T  # (n_queries, batch)
            out = []
            for qi, qid in enumerate(ids):
                mask = c_ids != qid
                s = sims[qi][mask]
                cid = c_ids[mask]
                keep = min(top_k, len(s))
                idx = np.argpartition(-s, keep - 1)[:keep] if len(s) > keep else np.arange(len(s))
                out.append(
                    pd.DataFrame(
                        {"query_id": qid, "neighbor_id": cid[idx], "cs": s[idx]}
                    )
                )
            yield pd.concat(out, ignore_index=True)

    partial = emb.select("vec_id", "embedding").mapInPandas(
        score, "query_id long, neighbor_id long, cs double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cs").desc(), "neighbor_id")
    return (
        partial.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select("query_id", "neighbor_id", "rnk", F.round("cs", 6).alias("cos_sim"))
    )


def minibatch_centroid_update(cents: DataFrame, batch: DataFrame) -> DataFrame:
    """One mini-batch k-means step (the online form of Lloyd — Sculley,
    "Web-scale k-means clustering", WWW'10): assign the batch to the
    current centroids, then move each touched centroid to the exact
    running mean of every vector ever assigned to it.

    ``cents`` is (cell, centroid, n_total); ``batch`` is
    (vec_id, embedding); returns the updated (cell, centroid, n_total).
    Because the update weights by the stored count — c' = (c·n + Σ_b) /
    (n + n_b) — the result after any sequence of batches is the exact
    mean over assignment-time members, not a decaying approximation,
    and the per-dim sums go through DECIMAL like ``_lloyd_centroids``
    so the refresh is deterministic at any parallelism. Untouched cells
    pass through unchanged.

    Shared core of ``centroid_refresh_job`` and its parity test: both
    sides call THIS function, so the job test verifies the streaming
    machinery (fencing, swap, checkpoint), not a re-derivation of the
    math. Per batch: one broadcast assign (k×64 floats) + one
    (cell, dim) aggregate — scan-shaped, no corpus access.
    """
    assigned = _assign_cells(batch, cents.select("cell", "centroid"))
    members = assigned.join(batch, "vec_id").select(
        "cell", F.posexplode("embedding").alias("dim", "val")
    )
    bsums = members.groupBy("cell", "dim").agg(
        F.sum(F.col("val").cast("decimal(30,15)")).alias("bsum")
    )
    bcounts = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_b"))
    cdims = cents.select(
        "cell", "n_total", F.posexplode("centroid").alias("dim", "cval")
    )
    upd = (
        cdims.join(bsums, ["cell", "dim"], "left")
        .join(F.broadcast(bcounts), "cell", "left")
        .withColumn("n_b", F.coalesce("n_b", F.lit(0)))
        .withColumn(
            "new_val",
            F.when(F.col("n_b") == 0, F.col("cval").cast("double")).otherwise(
                (
                    (
                        F.col("cval").cast("decimal(30,15)") * F.col("n_total")
                        + F.coalesce(F.col("bsum"), F.lit(0).cast("decimal(30,15)"))
                    )
                    / (F.col("n_total") + F.col("n_b"))
                ).cast("double")
            ),
        )
    )
    return upd.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", F.col("new_val").alias("v")))),
            lambda s: s["v"].cast("float"),
        ).alias("centroid"),
        (F.first("n_total") + F.first("n_b")).alias("n_total"),
    )


# --------------------------------------------------- product quantization

_PQ_M = 8  # subspaces (64-dim → 8 × 8-dim sub-vectors)
_PQ_K = 64  # centroids per subspace → 6-bit codes, 6 bytes per vector
_PQ_SAMPLE = 4096  # codebook training sample cap (PQ trains on a sample)
_PQ_ITERS = 8  # fixed Lloyd iterations per subspace (deterministic)
PQ_TOP_K = TOP_K
_PQ_SHORTLIST = 10 * TOP_K  # ADC shortlist width before the exact re-rank


def pq_train_codebooks(emb: DataFrame):
    """Train the m per-subspace codebooks on a bounded deterministic
    sample — (m, k, d/m) float64 array.

    Sample selection is ``ORDER BY md5(vec_id) LIMIT n`` — a
    TakeOrderedAndProject, never a full collect — and content-stable, so
    retraining on the same corpus reproduces the same codebooks (PQ's
    standard practice: codebooks come from a sample even at 100 TB;
    the full corpus is only ENCODED). Vectors are L2-normalized first so
    ADC inner products approximate cosine. K-means is Lloyd with
    deterministic spread init (every (sample_size/k)-th sorted point)
    and a fixed iteration count; an emptied cluster keeps its previous
    centroid. Pure numpy on ≤ ``_PQ_SAMPLE`` rows — driver-side by
    design, bounded regardless of corpus size.
    """
    import numpy as np

    rows = (
        emb.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(_PQ_SAMPLE)
        .collect()
    )
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    n, d = x.shape
    d_sub = d // _PQ_M
    books = np.empty((_PQ_M, _PQ_K, d_sub))
    for m in range(_PQ_M):
        sub = x[:, m * d_sub : (m + 1) * d_sub]
        cents = sub[:: max(1, n // _PQ_K)][:_PQ_K].copy()
        while len(cents) < _PQ_K:  # tiny sample: pad by repeating
            cents = np.vstack([cents, cents[: _PQ_K - len(cents)]])
        for _ in range(_PQ_ITERS):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(_PQ_K):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(axis=0)
        books[m] = cents
    return books


def pq_encode(emb: DataFrame, books) -> DataFrame:
    """Encode every vector to its m nearest-subspace-centroid codes —
    (vec_id, label, codes array<int>).

    One Arrow ``mapInPandas`` pass with the (m·k·d/m floats ≈ 32 KB)
    codebooks captured in the closure; per batch the subspace distance
    matrices are numpy broadcasts. 64 floats (256 B) become m=8 6-bit
    codes (6 B packed) — the ~40× memory cut that lets a 100 TB
    embedding corpus's index fit a cluster's RAM. Narrow map: inherits
    scan partitioning, no shuffle.
    """
    import numpy as np
    import pandas as pd

    m_, k_, d_sub = books.shape

    def encode(batches):
        for pdf in batches:
            v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            v /= np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
            codes = np.empty((len(v), m_), dtype=np.int64)
            for m in range(m_):
                sub = v[:, m * d_sub : (m + 1) * d_sub]
                d2 = ((sub[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
                codes[:, m] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "codes": list(codes),
                }
            )

    return emb.select("vec_id", "label", "embedding").mapInPandas(
        encode, "vec_id long, label int, codes array<long>"
    )


@register("ann_pq_adc", oracle=None, tags=("similarity", "ann", "pq", "iterative"))
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation.

    Jégou et al. 2011, with the production re-rank stage: corpus
    vectors are PQ-encoded once (256 B → 6 B); each query precomputes
    an (m × k) table of sub-inner-products against the codebooks, a
    candidate's approximate cosine is m table lookups summed, the ADC
    shortlist (10·k widest) is re-ranked by EXACT cosine, and only then
    is top-k cut. Codebooks train on a bounded md5-ordered sample
    (iterative k-means → rows-only registry entry; the exact twin is
    ``cosine_topk_bruteforce``, recall floor pinned in tests — 0.975
    at this corpus shape).

    Scale shape: the scored scan is a narrow ``mapInPandas`` over the
    6-byte codes with per-batch partial shortlists (the
    ``cosine_topk_pandas`` reduction discipline), so the shortlist
    window sees n_batches × n_queries × 10k rows; the re-rank joins the
    tiny shortlist back to full vectors by vec_id (broadcast hash join)
    and computes JVM-side cosine — float vectors are touched for
    n_queries × 10k rows total, never the corpus. At 100 TB only the
    codes table is resident, and the same codes serve every future
    query set without re-encoding.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_train_codebooks(emb)
    m_, k_, d_sub = books.shape

    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.sqrt(_norm_sq("embedding")).alias("q_nrm"),
    )
    q_rows = q.select("query_id", "q_emb").collect()
    q_ids = np.array([r["query_id"] for r in q_rows])
    q_mat = np.array([r["q_emb"] for r in q_rows], dtype=np.float64)
    q_mat /= np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-12)
    # ADC tables: tables[q, m, c] = <q_sub, centroid_c> — (n_q × m × k)
    tables = np.einsum("qmd,mkd->qmk", q_mat.reshape(len(q_mat), m_, d_sub), books)
    b = spark.sparkContext.broadcast((q_ids, tables))

    def score(batches):
        ids, tabs = b.value
        for pdf in batches:
            c_ids = pdf["vec_id"].to_numpy()
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            # scores[q, row] = sum_m tabs[q, m, codes[row, m]]
            scores = tabs[:, np.arange(m_)[None, :], codes].sum(axis=2)
            out = []
            for qi, qid in enumerate(ids):
                mask = c_ids != qid
                s, cid = scores[qi][mask], c_ids[mask]
                keep = min(_PQ_SHORTLIST, len(s))
                if keep == 0:
                    continue
                idx = (
                    np.argpartition(-s, keep - 1)[:keep]
                    if len(s) > keep
                    else np.arange(len(s))
                )
                out.append(pd.DataFrame({"query_id": qid, "neighbor_id": cid[idx]}))
            if out:
                yield pd.concat(out, ignore_index=True)

    partial = pq_encode(emb, books).mapInPandas(
        score, "query_id long, neighbor_id long"
    )
    # exact re-rank: shortlist × full vectors (equi joins, both tiny on
    # the build side), JVM-side cosine, then the final top-k window.
    cand = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.sqrt(_norm_sq("embedding")).alias("c_nrm"),
    )
    scored = (
        partial.dropDuplicates(["query_id", "neighbor_id"])
        .join(cand, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (_dot("q_emb", "c_emb") / (F.col("q_nrm") * F.col("c_nrm"))).alias("cs"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cs").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= PQ_TOP_K)
        .select("query_id", "neighbor_id", "rnk", F.round("cs", 6).alias("cos_sim"))
    )


# --------------------------------------------------- semantic dedup keep


EMBED_KEEP_ORACLE = f"""
WITH RECURSIVE base AS (
    SELECT vec_id, label, embedding,
           sqrt({_dot_sql("embedding", "embedding")}) AS nrm
    FROM embeddings
),
ep AS (
    SELECT a.vec_id AS u, b.vec_id AS v
    FROM base a
    JOIN base b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ({_dot_sql("a.embedding", "b.embedding")}) / (a.nrm * b.nrm)
          >= {NEAR_DUP_COS}
),
edges AS (
    SELECT u, v FROM ep UNION ALL SELECT v, u FROM ep
),
reach(vec_id, r) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT re.vec_id, e.v FROM reach re JOIN edges e ON e.u = re.r
)
SELECT vec_id,
       CAST(min(r) AS BIGINT) AS cluster_id,
       (vec_id = min(r)) AS is_keeper
FROM reach
GROUP BY vec_id
"""


@register(
    "embedding_dedup_keep",
    # round 11: the CC fixed point gained a recursive-CTE hash oracle
    # (same construction as dedup_cluster_keep's) — formerly rows-only;
    # transitivity/keeper invariants stay pinned in tests/test_operators.py
    oracle=EMBED_KEEP_ORACLE,
    tags=("dedup", "similarity", "iterative", "unbenched"),
    past_window=True,
)
def embedding_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup decision (Abbas et al. 2023):
    collapse the embedding near-dup pair graph into clusters and keep
    one representative per cluster — the drop-list the embedding tier
    actually executes, where ``dedup_embedding_cosine`` only reports
    pairs.

    Composition of two audited pieces: within-cell cosine pairs
    (equi-join on the coarse k-means cell — n²/k work, never all-pairs)
    feed ``connected_components``' min-label propagation with pointer
    jumping (O(log diameter) rounds, lineage-truncated per round).
    Keeper = lowest vec_id of the component, matching ``dedup_exact`` /
    ``dedup_cluster_keep``'s canonical-copy rule, so the three dedup
    tiers (exact, MinHash, semantic) elect representatives consistently.
    Formerly rows-only; round 11 added the recursive-CTE hash oracle.
    """
    from gmall_flink_parent_spark.functions.dedup import connected_components

    pairs = dedup_embedding_cosine(spark, sf_dir).select(
        F.col("vec_id_a").alias("doc_id_a"), F.col("vec_id_b").alias("doc_id_b")
    )
    nodes = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    labels = connected_components(nodes, pairs)
    return labels.select(
        F.col("doc_id").alias("vec_id"),
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).alias("is_keeper"),
    )


# ------------------------------------------------- kNN label voting

_VOTE_K = 15

KNN_VOTE_ORACLE = f"""
WITH base AS (
    SELECT vec_id, label, embedding,
           sqrt({_dot_sql("embedding", "embedding")}) AS nrm
    FROM embeddings
), scored AS (
    SELECT q.vec_id AS query_id, q.label AS true_label,
           c.vec_id AS neighbor_id, c.label AS n_label,
           ({_dot_sql("q.embedding", "c.embedding")}) / (q.nrm * c.nrm) AS cs
    FROM base q JOIN base c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
), top AS (
    SELECT query_id, true_label, n_label
    FROM (SELECT query_id, true_label, n_label,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cs DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {_VOTE_K}
), votes AS (
    SELECT query_id, true_label, n_label, CAST(count(*) AS BIGINT) AS votes
    FROM top GROUP BY query_id, true_label, n_label
)
SELECT query_id, pred_label, votes, true_label,
       (pred_label = true_label) AS correct
FROM (SELECT query_id, n_label AS pred_label, votes, true_label,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY votes DESC, n_label) AS rk
      FROM votes)
WHERE rk = 1
"""


@register(
    "knn_label_vote",
    oracle=KNN_VOTE_ORACLE,
    tags=("similarity", "classification"),
    past_window=True,
)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor label classification over the embedding
    column: each query vector's label is predicted by majority vote of
    its 15 nearest neighbors (cosine), tie-broken toward the smaller
    label id — the standard eval that tells a curation team whether an
    embedding space separates its classes before they trust it for
    semantic dedup or clustering.

    The expensive stage IS the registered brute-force scan
    (``_cosine_topk`` — query side broadcast, one pass over the
    corpus, per-query top-k window); everything after operates on the
    n_queries × k neighbor frame, which is broadcast-joined against
    the label projection so the corpus is scanned exactly twice
    (distances, labels) and shuffled never. At 100 TB the first stage
    swaps for any of the ANN heads (IVF / SRP / PQ) with the same vote
    tail — the vote is head-agnostic.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    top = _cosine_topk(spark, sf_dir, _VOTE_K, same_label=False)
    labels = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    joined = labels.join(F.broadcast(top), "neighbor_id")
    counts = joined.groupBy("query_id", "n_label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("n_label"))
    pred = counts.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    truth = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return pred.join(F.broadcast(truth), "query_id").select(
        "query_id",
        F.col("n_label").alias("pred_label"),
        "votes",
        "true_label",
        (F.col("n_label") == F.col("true_label")).alias("correct"),
    )


# --------------------------------------------------- ANN recall report

# Each CTE body is a full registered-oracle query (nested WITH is legal
# in a parenthesized CTE body); the report joins every approximate
# head's result against the brute-force truth at the SAME k, so the
# recall numbers are themselves oracle-checked — not a test-log
# artifact but a queryable quality surface.
ANN_RECALL_ORACLE = f"""
WITH exact AS ({_cosine_oracle(TOP_K, same_label=False)}),
ivf AS ({_cosine_oracle(IVF_TOP_K, same_label=True)}),
srp AS ({ANN_SRP_ORACLE}),
multi AS ({ANN_SRP_MULTIPROBE_ORACLE}),
counted AS (
    SELECT 'ann_ivf_bucketed' AS method,
           (SELECT count(*) FROM ivf a JOIN exact e
             ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
             AND e.rnk <= {IVF_TOP_K}) AS n_hits,
           (SELECT count(*) FROM exact WHERE rnk <= {IVF_TOP_K}) AS n_exact
    UNION ALL
    SELECT 'ann_srp_lsh',
           (SELECT count(*) FROM srp a JOIN exact e
             ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
             AND e.rnk <= {SRP_TOP_K}),
           (SELECT count(*) FROM exact WHERE rnk <= {SRP_TOP_K})
    UNION ALL
    SELECT 'ann_srp_multiprobe',
           (SELECT count(*) FROM multi a JOIN exact e
             ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
             AND e.rnk <= {SRP_TOP_K}),
           (SELECT count(*) FROM exact WHERE rnk <= {SRP_TOP_K})
)
SELECT method, CAST(n_hits AS BIGINT) AS n_hits,
       CAST(n_exact AS BIGINT) AS n_exact,
       ROUND(CAST(n_hits AS DOUBLE) / n_exact, 6) AS recall
FROM counted
"""


@register(
    "ann_recall_report",
    oracle=ANN_RECALL_ORACLE,
    tags=("similarity", "ann", "eval"),
    past_window=True,
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of every deterministic ANN head against brute-force
    truth at the same k — the evaluation a user runs BEFORE trusting an
    index route, as a first-class query instead of a buried test
    assertion. (``ann_pq_adc`` is excluded here because its codebooks
    are iterative/non-SQL; its 0.975 recall floor is pinned in tests.)

    Cost shape: ONE persisted brute-force scan at the largest k serves
    every method's truth set by rnk-filter; each approximate head runs
    its registered plan; every join/count operates on n_queries × k
    rows — bounded, collected driver-side to compose the 3-row report.
    """
    exact = scoped_persist(_cosine_topk(spark, sf_dir, TOP_K, same_label=False))

    # ONE union job scores all three methods (their independent plans
    # run as concurrent stages of a single action, back-filling idle
    # cores — guide §2.6) and ONE 1-row aggregate reads the truth
    # counts off the persisted exact frame: 2 driver actions instead of
    # the r13 form's 8 sequential join/count jobs. Counts — and hence
    # the Python-side round() — are unchanged.
    methods = (
        ("ann_ivf_bucketed", ann_ivf_bucketed(spark, sf_dir), IVF_TOP_K),
        ("ann_srp_lsh", ann_srp_lsh(spark, sf_dir), SRP_TOP_K),
        ("ann_srp_multiprobe", ann_srp_multiprobe(spark, sf_dir), SRP_TOP_K),
    )
    tagged = None
    for method, frame, k in methods:
        t = frame.select(
            F.lit(method).alias("method"),
            "query_id",
            "neighbor_id",
            F.lit(k).alias("k"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    hit_rows = (
        tagged.join(
            exact.select("query_id", "neighbor_id", "rnk"),
            ["query_id", "neighbor_id"],
        )
        .filter(F.col("rnk") <= F.col("k"))
        .groupBy("method")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    hit_map = {r["method"]: int(r["n"]) for r in hit_rows}
    truth_row = exact.agg(
        *[
            F.sum((F.col("rnk") <= k).cast("long")).alias(f"t{k}")
            for k in sorted({k for _, _, k in methods})
        ]
    ).collect()[0]
    report = []
    for method, _, k in methods:
        n_hit = hit_map.get(method, 0)
        n_exact = int(truth_row[f"t{k}"])
        report.append((method, n_hit, n_exact, round(n_hit / n_exact, 6)))
    return spark.createDataFrame(
        report, "method string, n_hits long, n_exact long, recall double"
    )


# ------------------------------------------------ k-center coreset

_KC_K = 4  # centers selected (unrolled in the oracle, looped in Spark)


def _kcenter_oracle() -> str:
    """Gonzalez greedy k-center, unrolled for fixed k: each m_i CTE
    carries the running min squared-L2 distance to the chosen set
    (|a−b|² = |a|² + |b|² − 2a·b reuses the fold-ordered dot), each
    c_i picks the farthest point (ties → smallest vec_id)."""
    sql = f"""
WITH base AS (
    SELECT vec_id, embedding, {_dot_sql("embedding", "embedding")} AS nsq
    FROM embeddings
),
c0 AS (SELECT vec_id, embedding, nsq FROM base ORDER BY vec_id LIMIT 1),
m1 AS (
    SELECT b.vec_id, b.embedding, b.nsq,
           b.nsq + c.nsq - 2 * ({_dot_sql("b.embedding", "c.embedding")}) AS d
    FROM base b, c0 c
)"""
    for r in range(1, _KC_K):
        sql += f""",
c{r} AS (SELECT vec_id, embedding, nsq, d FROM m{r} ORDER BY d DESC, vec_id LIMIT 1)"""
        if r < _KC_K - 1:
            sql += f""",
m{r + 1} AS (
    SELECT m.vec_id, m.embedding, m.nsq,
           least(m.d, m.nsq + c.nsq - 2 * ({_dot_sql("m.embedding", "c.embedding")})) AS d
    FROM m{r} m, c{r} c
)"""
    selects = ["SELECT CAST(0 AS INTEGER) AS center_rank, vec_id, 0.0 AS min_dist FROM c0"]
    for r in range(1, _KC_K):
        selects.append(
            f"SELECT CAST({r} AS INTEGER), vec_id, ROUND(d, 6) FROM c{r}"
        )
    return sql + "\n" + "\nUNION ALL ".join(selects)


KCENTER_ORACLE = _kcenter_oracle()


@register(
    "kcenter_coreset",
    oracle=KCENTER_ORACLE,
    tags=("similarity", "selection", "coreset"),
    past_window=True,
)
def kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (Gonzalez 1985) diverse-coreset selection over
    the embedding column: starting from the smallest vec_id, repeatedly
    pick the point FARTHEST (squared L2) from the chosen set — the
    2-approximation to the k-center cover, and the standard way to seed
    a maximally diverse fine-tuning subset or k-means++-style index.

    Scale shape: k−1 iterations, each ONE pure map pass (the running
    min-distance column updates against the latest center, carried as
    64 plan literals — never a join) reduced by ``orderBy().limit(1)``
    = TakeOrderedAndProject (per-partition 1-row heads, no sort, no
    shuffle of the corpus). All driver state is the k chosen centers.
    Distances reuse the fold-ordered dot (|a−b|² = |a|²+|b|²−2a·b), so
    every comparison — including argmax ties — is bit-identical to the
    unrolled oracle.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", _norm_sq("embedding").alias("nsq")
    )
    c0 = emb.orderBy("vec_id").limit(1).collect()[0]

    def dist_to(center) -> Column:
        cvec = F.array(*[F.lit(float(x)) for x in center.embedding])
        dot = F.aggregate(
            F.zip_with(F.col("embedding"), cvec, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.col("nsq") + F.lit(float(center.nsq)) - 2.0 * dot

    cur = emb.withColumn("d", dist_to(c0))
    rows = [(0, c0.vec_id, 0.0)]
    for r in range(1, _KC_K):
        top = cur.orderBy(F.desc("d"), F.asc("vec_id")).limit(1).collect()[0]
        rows.append((r, top.vec_id, float(top.d)))
        if r < _KC_K - 1:
            cur = cur.withColumn("d", F.least(F.col("d"), dist_to(top)))
    out = spark.createDataFrame(
        rows, "center_rank int, vec_id long, min_dist double"
    )
    return out.select(
        "center_rank", "vec_id", F.round("min_dist", 6).alias("min_dist")
    )


# --------------------------------------------------- MMR diversity rerank

_MMR_QUERY = 0  # query vector for the registered head
_MMR_POOL = 20  # candidate pool (brute-force top-20 by relevance)
_MMR_K = 5  # reranked results returned
_MMR_LAMBDA = 0.7  # relevance weight; 1-λ penalizes similarity to chosen


def _mmr_oracle() -> str:
    """Greedy MMR unrolled for fixed k (the ``kcenter_coreset``
    incremental shape): each m-CTE carries the running max-similarity
    to the chosen set via ``greatest``, each s-CTE picks
    argmax λ·rel − (1−λ)·msim with vec_id tie-break."""
    cos = lambda a, b: f"({_dot_sql(a, b)}) / ({a.split('.')[0]}.nrm * {b.split('.')[0]}.nrm)"  # noqa: E731
    sql = f"""
WITH base AS (
    SELECT vec_id, embedding, sqrt({_dot_sql("embedding", "embedding")}) AS nrm
    FROM embeddings
),
q AS (SELECT * FROM base WHERE vec_id = {_MMR_QUERY}),
cand AS (
    SELECT c.vec_id, c.embedding, c.nrm,
           ({_dot_sql("q.embedding", "c.embedding")}) / (q.nrm * c.nrm) AS rel
    FROM base c, q WHERE c.vec_id <> {_MMR_QUERY}
    ORDER BY rel DESC, c.vec_id LIMIT {_MMR_POOL}
),
s1 AS (SELECT vec_id, embedding, nrm, rel FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
m2 AS (
    SELECT c.vec_id, c.embedding, c.nrm, c.rel,
           ({_dot_sql("c.embedding", "s.embedding")}) / (c.nrm * s.nrm) AS msim
    FROM cand c, s1 s WHERE c.vec_id <> s.vec_id
)"""
    for k in range(2, _MMR_K + 1):
        sql += f""",
s{k} AS (
    SELECT vec_id, embedding, nrm, rel, msim FROM m{k}
    ORDER BY {_MMR_LAMBDA} * rel - {round(1 - _MMR_LAMBDA, 10)} * msim DESC, vec_id
    LIMIT 1
)"""
        if k < _MMR_K:
            sql += f""",
m{k + 1} AS (
    SELECT c.vec_id, c.embedding, c.nrm, c.rel,
           greatest(c.msim,
                    ({_dot_sql("c.embedding", "s.embedding")}) / (c.nrm * s.nrm)) AS msim
    FROM m{k} c, s{k} s WHERE c.vec_id <> s.vec_id
)"""
    selects = [
        "SELECT CAST(1 AS INTEGER) AS mmr_rank, vec_id, ROUND(rel, 6) AS relevance FROM s1"
    ]
    for k in range(2, _MMR_K + 1):
        selects.append(f"SELECT CAST({k} AS INTEGER), vec_id, ROUND(rel, 6) FROM s{k}")
    return sql + "\n" + "\nUNION ALL ".join(selects)


MMR_ORACLE = _mmr_oracle()


@register(
    "mmr_rerank",
    oracle=MMR_ORACLE,
    tags=("similarity", "retrieval", "diversity"),
    past_window=True,
)
def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998):
    from the query's top-20 cosine candidates, greedily pick 5 results
    maximizing λ·relevance − (1−λ)·max-similarity-to-already-chosen —
    the standard diversity stage a RAG stack runs between retrieval and
    the context window.

    Cost split is the point: the DISTRIBUTED stage is the candidate
    scan (one broadcast-query pass + TakeOrdered top-20 — swap in any
    ANN head at scale); the greedy O(k·pool) rerank then runs on the
    COLLECTED 20-row pool driver-side, because 20×64 floats is not a
    distributed problem. Python's left-fold float accumulation matches
    the oracle's unrolled `t1 + … + t64` chain exactly (same IEEE ops,
    same order — the ``_dot`` argument), so selections and hashes are
    bit-identical.
    """
    import math

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def norm(v) -> float:
        s = 0.0
        for x in v:
            s += float(x) * float(x)
        return math.sqrt(s)

    def dot(a, b) -> float:
        s = 0.0
        for x, y in zip(a, b):
            s += float(x) * float(y)
        return s

    qrow = emb.filter(F.col("vec_id") == _MMR_QUERY).collect()[0]
    qn = norm(qrow.embedding)
    base = emb.filter(F.col("vec_id") != _MMR_QUERY).select(
        "vec_id", "embedding", F.sqrt(_norm_sq("embedding")).alias("nrm")
    )
    qvec = F.array(*[F.lit(float(x)) for x in qrow.embedding])
    rel = (
        F.aggregate(
            F.zip_with(F.col("embedding"), qvec, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        / (F.lit(qn) * F.col("nrm"))
    )
    pool = (
        base.withColumn("rel", rel)
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_MMR_POOL)
        .collect()
    )
    cands = [
        {"vec_id": r.vec_id, "emb": [float(x) for x in r.embedding],
         "nrm": norm(r.embedding), "rel": float(r.rel)}
        for r in pool
    ]
    chosen, out = [], []
    for rank in range(1, _MMR_K + 1):
        best = None
        for c in cands:
            if any(c["vec_id"] == s["vec_id"] for s in chosen):
                continue
            msim = max(
                (dot(c["emb"], s["emb"]) / (c["nrm"] * s["nrm"]) for s in chosen),
                default=None,
            )
            score = (
                c["rel"]
                if msim is None
                else _MMR_LAMBDA * c["rel"] - round(1 - _MMR_LAMBDA, 10) * msim
            )
            key = (-score, c["vec_id"])
            if best is None or key < best[0]:
                best = (key, c)
        chosen.append(best[1])
        out.append((rank, best[1]["vec_id"], round_half_up6(best[1]["rel"])))
    return spark.createDataFrame(
        out, "mmr_rank int, vec_id long, relevance double"
    )


def round_half_up6(x: float) -> float:
    """ROUND(x, 6) with SQL half-away-from-zero semantics (Python's
    built-in round is banker's and would disagree at exact .5 ulps)."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def _kcenter_assign_oracle() -> str:
    """Assignment head over the same unrolled Gonzalez CTE chain: each
    vector takes its min squared-L2 distance across the k chosen
    centers (ties → lower center rank), spelled as a CASE chain so the
    argmin tie-break is explicit and identical on both engines."""
    head = KCENTER_ORACLE.split("\nSELECT CAST(0 AS INTEGER)")[0]
    dists = ",\n           ".join(
        f"b.nsq + c{r}.nsq - 2 * ({_dot_sql('b.embedding', f'c{r}.embedding')}) AS d{r}"
        for r in range(_KC_K)
    )
    froms = ", ".join(f"c{r}" for r in range(_KC_K))
    best = "CASE"
    for r in range(_KC_K):
        cond = " AND ".join(f"d{r} <= d{s}" for s in range(_KC_K) if s != r)
        best += f" WHEN {cond} THEN {r}"
    best += " END"
    return f"""{head},
dists AS (
    SELECT b.vec_id,
           {dists}
    FROM base b, {froms}
)
SELECT vec_id,
       CAST({best} AS INTEGER) AS center_rank,
       ROUND(CASE CAST({best} AS INTEGER)
             {' '.join(f'WHEN {r} THEN d{r}' for r in range(_KC_K))}
             END, 6) AS dist
FROM dists
"""


KCENTER_ASSIGN_ORACLE = _kcenter_assign_oracle()


@register(
    "kcenter_assign",
    oracle=KCENTER_ASSIGN_ORACLE,
    tags=("similarity", "selection", "coreset"),
    past_window=True,
)
def kcenter_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector assigned to its nearest greedy k-center (squared
    L2, ties → lower center rank) — the coreset's consumer: the
    assignment IS the diversity-balanced partition a curation run
    samples from (and the 2-approximation cover certificate: max dist
    here is within 2× of the optimal k-center radius).

    One additional map pass over the corpus after the selection loop:
    the k centers ride as plan literals, the per-row argmin is a
    fixed-k CASE chain — no join, no shuffle; the plan is scan-shaped
    at any corpus size. Distance algebra and tie-breaks are spelled
    identically to the oracle's CASE chain, so assignments
    hash-compare.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", _norm_sq("embedding").alias("nsq")
    )
    # re-run the (bounded) greedy selection to get the centers
    centers = []
    c0 = emb.orderBy("vec_id").limit(1).collect()[0]
    centers.append(c0)

    def dist_to(center) -> Column:
        cvec = F.array(*[F.lit(float(x)) for x in center.embedding])
        dot = F.aggregate(
            F.zip_with(F.col("embedding"), cvec, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.col("nsq") + F.lit(float(center.nsq)) - 2.0 * dot

    cur = emb.withColumn("d", dist_to(c0))
    for r in range(1, _KC_K):
        top = cur.orderBy(F.desc("d"), F.asc("vec_id")).limit(1).collect()[0]
        centers.append(top)
        if r < _KC_K - 1:
            cur = cur.withColumn("d", F.least(F.col("d"), dist_to(top)))

    scored = emb
    for r, c in enumerate(centers):
        scored = scored.withColumn(f"d{r}", dist_to(c))
    best = None
    for r in range(_KC_K):
        cond = None
        for s in range(_KC_K):
            if s == r:
                continue
            c_ = F.col(f"d{r}") <= F.col(f"d{s}")
            cond = c_ if cond is None else (cond & c_)
        best = F.when(cond, F.lit(r)) if best is None else best.when(cond, F.lit(r))
    dist = None
    for r in range(_KC_K):
        dist = (
            F.when(best == r, F.col(f"d{r}"))
            if dist is None
            else dist.when(best == r, F.col(f"d{r}"))
        )
    return scored.select(
        "vec_id",
        best.cast("int").alias("center_rank"),
        F.round(dist, 6).alias("dist"),
    )


# ------------------------- Arrow-batched GEMM brute force (scale path)

def cosine_topk_gemm_frame(
    emb: DataFrame, query_rows: list, top_k: int = TOP_K
) -> DataFrame:
    """Brute-force cosine top-k scored by VECTORIZED numpy inside
    ``mapInPandas`` — the Arrow-batch matrix path for wide query sets,
    versus the codegen expression chain of ``cosine_topk_frame``
    (whose per-row cost grows with n_queries × DIM expression nodes;
    the matrix form pays one (batch × DIM) · (DIM × n_queries)
    product per Arrow batch instead).

    ``query_rows`` is a COLLECTED list of (query_id, embedding) —
    bounded by construction (query sets are a few to a few thousand
    vectors; the registered head passes 8), closure-shipped to
    executors with the task, the same distribution mechanism as a
    broadcast. Bit-exactness with the codegen/oracle chain: the dot
    product and norms accumulate SEQUENTIALLY over the dimension axis
    (64 vectorized multiply-adds, each rounding exactly like the
    left-fold ``0.0 + t0 + t1 + …`` chain — numpy composes multiply
    and add as separately-rounded ops, no FMA), so every cosine is
    bit-identical to ``cosine_topk_frame``'s and the SAME oracle
    hash-verifies both. Each Arrow batch pre-reduces to its local
    top-k per query under the global (cs DESC, neighbor_id) total
    order — exact, since any global winner is a batch-local winner —
    so the shuffle carries ≤ k rows per (query, batch), never the
    corpus.
    """
    import numpy as np

    q_ids = [int(r[0]) for r in query_rows]
    q_mat = np.array([list(r[1]) for r in query_rows], dtype=np.float64)

    def score(batches):
        import pandas as pd

        nq, dim = q_mat.shape
        q_nrm_sq = np.zeros(nq)
        for i in range(dim):  # sequential: bit-identical to the SQL chain
            q_nrm_sq += q_mat[:, i] * q_mat[:, i]
        q_nrm = np.sqrt(q_nrm_sq)
        qids = np.array(q_ids, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            cand = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            vec_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            n = len(vec_ids)
            dots = np.zeros((n, nq))
            c_nrm_sq = np.zeros(n)
            for i in range(dim):
                ci = cand[:, i]
                dots += ci[:, None] * q_mat[:, i][None, :]
                c_nrm_sq += ci * ci
            cs = dots / (q_nrm[None, :] * np.sqrt(c_nrm_sq)[:, None])
            out_q, out_n, out_cs = [], [], []
            for j in range(nq):
                mask = vec_ids != qids[j]  # self-exclusion
                nbrs, scores = vec_ids[mask], cs[mask, j]
                order = np.lexsort((nbrs, -scores))[:top_k]
                out_q.append(np.full(len(order), qids[j], dtype=np.int64))
                out_n.append(nbrs[order])
                out_cs.append(scores[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cs": np.concatenate(out_cs),
                }
            )

    scored = emb.select("vec_id", "embedding").mapInPandas(
        score, schema="query_id long, neighbor_id long, cs double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cs").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select("query_id", "neighbor_id", "rnk", F.round("cs", 6).alias("cos_sim"))
    )


@register(
    "cosine_topk_gemm",
    oracle=_cosine_oracle(TOP_K, same_label=False),
    tags=("similarity", "ann", "vectorized"),
    past_window=True,
)
def cosine_topk_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``cosine_topk_bruteforce`` re-scored through the Arrow-batch
    numpy matrix path (``cosine_topk_gemm_frame``) — SAME oracle as
    the codegen head, so the driver hash-proves the two execution
    strategies bit-identical. The 8-vector query set is collected
    (bounded by construction) and closure-shipped; per-batch top-k
    pre-reduction keeps the shuffle at ≤ k rows per (query, batch).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    query_rows = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    ]
    return cosine_topk_gemm_frame(emb, query_rows, TOP_K)


# --------------------------------------------------- SQ8 scalar quantization

SQ8_TOP_K = 5


def _sq8_code_sql(x: str, i: int) -> str:
    """One dimension's int8 code, all-double arithmetic (matches the
    Spark expression op-for-op so the codes are identical integers)."""
    e, mn, mx = f"{x}[{i + 1}]", f"s.mn{i}", f"s.mx{i}"
    rng = f"(CAST({mx} AS DOUBLE) - CAST({mn} AS DOUBLE))"
    frac = f"((CAST({e} AS DOUBLE) - CAST({mn} AS DOUBLE)) / {rng})"
    return (
        f"CASE WHEN {mx} = {mn} THEN 0 ELSE "
        f"CAST(LEAST(255, GREATEST(0, FLOOR({frac} * 256))) AS INTEGER) END"
    )


def _sq8_oracle() -> str:
    mins = ", ".join(
        f"MIN(embedding[{i + 1}]) AS mn{i}, MAX(embedding[{i + 1}]) AS mx{i}"
        for i in range(DIM)
    )
    code_list = ", ".join(_sq8_code_sql("embedding", i) for i in range(DIM))
    dist = " + ".join(
        f"CAST(q.code[{i + 1}] - c.code[{i + 1}] AS BIGINT)"
        f" * CAST(q.code[{i + 1}] - c.code[{i + 1}] AS BIGINT)"
        for i in range(DIM)
    )
    return f"""
WITH s AS (SELECT {mins} FROM embeddings),
codes AS (
    SELECT vec_id, [{code_list}] AS code FROM embeddings, s
), scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ({dist}) AS d
    FROM codes c CROSS JOIN (SELECT * FROM codes WHERE vec_id < {N_QUERIES}) q
    WHERE c.vec_id != q.vec_id
)
SELECT query_id, neighbor_id, rnk, CAST(d AS BIGINT) AS dist_sq
FROM (
    SELECT query_id, neighbor_id, d,
           row_number() OVER (
               PARTITION BY query_id ORDER BY d, neighbor_id) AS rnk
    FROM scored
)
WHERE rnk <= {SQ8_TOP_K}
"""


def sq8_codes_frame(emb: DataFrame) -> DataFrame:
    """(vec_id, label, code array<int>) — 8-bit scalar-quantized
    embeddings under a per-dimension global min/max grid (the classic
    SQ8 codec: FAISS's ScalarQuantizer QT_8bit). The grid is ONE 1-row
    aggregate over the corpus (2·64 min/max in a single scan);
    quantization itself is codegen array math — 4 bytes/dim becomes 1,
    the decisive factor when the index must fit executor memory at
    100 TB."""
    # The grid and quantizer are built as TWO string expressions parsed
    # once in the JVM instead of ~260 py4j Column round trips (128
    # min/max aliases + two 64-element arrays): construction dropped
    # from seconds to ~0.1 s at DIM=64 while compiling to the same
    # operators with identical arithmetic (min/max of the raw float,
    # double-cast range, CASE/least/greatest/floor per dimension).
    mins = ", ".join(f"min(embedding[{i}])" for i in range(DIM))
    maxs = ", ".join(f"max(embedding[{i}])" for i in range(DIM))
    stats = emb.agg(
        F.expr(f"array({mins})").alias("mn"),
        F.expr(f"array({maxs})").alias("mx"),
    ).select(
        "mn",
        F.expr(
            "zip_with(mx, mn, (a, b) -> cast(a AS double) - cast(b AS double))"
        ).alias("rng"),
    )
    code = F.expr(
        "zip_with("
        "zip_with(embedding, mn, (x, m) -> cast(x AS double) - cast(m AS double)), "
        "rng, "
        "(s, r) -> CASE WHEN r = 0.0D THEN 0 "
        "ELSE cast(least(255, greatest(0, floor(s / r * 256))) AS int) END)"
    )
    return emb.crossJoin(F.broadcast(stats)).select(
        "vec_id", "label", code.alias("code")
    )


@register(
    "embedding_sq8_topk",
    oracle=_sq8_oracle(),
    tags=("similarity", "ann", "quantization"),
    past_window=True,
)
def embedding_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-5 over 8-bit scalar-quantized embeddings — the memory
    tier between raw brute force (256 B/vector) and PQ (6 B): SQ8
    keeps 64 B/vector and near-exact recall. Search is integer L2
    between code arrays — the ENTIRE scoring path is int arithmetic,
    so unlike every float-scored head the oracle needs no
    determinism argument at all: both engines compute the same
    integers (the one float step, the quantization fraction, is
    all-double with identical op order and a correctly-rounded floor).

    Scale shape: the min/max grid is one 1-row aggregate; codes are a
    map-only rewrite of the scan; the 8-query code set broadcasts and
    candidates stream — same single-scan plan as
    `cosine_topk_bruteforce`, at a quarter of the bytes moved. At
    100 TB the code column is what you'd PERSIST (fingerprint-at-
    ingest, like the multimodal stores), re-deriving nothing.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    codes = sq8_codes_frame(emb)
    q = codes.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("code").alias("q_code")
    )
    scored = codes.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.aggregate(
            F.zip_with(
                F.col("q_code"),
                F.col("code"),
                lambda a, b: ((a - b) * (a - b)).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("d"),
    )
    w = Window.partitionBy("query_id").orderBy("d", "neighbor_id")
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            F.row_number().over(w).alias("rnk"),
            F.col("d").cast("bigint").alias("dist_sq"),
        )
        .filter(F.col("rnk") <= SQ8_TOP_K)
    )
