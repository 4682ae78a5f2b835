"""Training-mixture assembly for large-scale LLM data pipelines.

Not in the reference (SURVEY §2.7 covers only basic string/date
functions): the mix → order → pack → shard chain that turns a curated
corpus into the exact sample stream a training run consumes, plus the
weight-planning and composition-report heads around it. Everything is
**hash-decided** (md5 — the one hash Spark and DuckDB compute
identically), never RNG-decided, so the mixture, the global training
order, and the packed-sequence assignment are reproducible from
(corpus, weights, seed) alone on any engine — which is exactly what
makes the DuckDB oracles possible and what a resumable 100 TB training
job needs (re-derive sample N without replaying state).

Split out of ``functions/curation.py`` (which keeps the filtering /
decontamination / scoring stages); ``curation`` lazily forwards the
moved names so existing imports keep working.

Cross-engine parity notes are inherited from ``curation`` (md5-prefix →
integer bucketing, no-backslash regex, DECIMAL money).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_flink_parent_spark.functions.curation import (
    FILTER_PIPELINE_ORACLE,
    _PACK_CAP,
    corpus_filter_pipeline,
)
from gmall_flink_parent_spark.functions.stopwords import _STOP_SQL
from gmall_flink_parent_spark.positions import ordered_positions
from gmall_flink_parent_spark.registry import (
    query_scope,
    register,
    retain_latest,
    scoped_persist,
)
from gmall_flink_parent_spark.sources.tables import (
    fan_out,
    gated_broadcast,
    load_table,
)

# ------------------------------------------------------------ data mixing


def corpus_mix_weighted(
    docs: DataFrame, weights: dict[str, float], seed: str = "mix-v1"
) -> DataFrame:
    """Deterministic weighted data mixing — the per-source sampling step
    that turns a curated corpus into a training mixture (e.g. wiki 3.0x,
    web 0.3x, code 1.0x).

    Weight semantics per source ``s`` with ``w = weights[s]`` (sources
    absent from ``weights`` default to 0.0 — excluded):

    - ``w < 1``: downsample — keep each doc with probability ``w``;
    - ``w >= 1``: epoched upsample — ``floor(w)`` full copies of every
      doc plus one extra copy with probability ``w - floor(w)``.

    Output grain is (doc_id, source, epoch): epoch numbers the copies
    0..floor(w), so downstream packing/shuffling can interleave epochs
    instead of concatenating them.

    Scale design (the properties that matter at 100 TB):

    - **Hash-decided, not RNG-decided.** Keep/drop for (doc, epoch)
      comes from ``md5(seed:epoch:doc_id)`` — the same content-stable
      trick as ``doc_sample_split`` — so the mixture is reproducible
      across runs, engines, partitionings, and restarts, and a re-run
      over yesterday's corpus + today's delta makes exactly the same
      decisions about yesterday's docs (no global state to carry).
    - **No shuffle.** The weight table rides a broadcast join; epochs
      come from ``explode(sequence(...))``; the fractional-copy filter
      is whole-stage codegen. Cost is one corpus scan.
    - **Per-source counts concentrate**: kept-count per source is a sum
      of independent per-doc indicators, so observed/expected deviates
      by O(1/sqrt(n)) — the property test pins a 5-sigma envelope.
    """
    wrows = [(s, int(w), float(w - int(w))) for s, w in weights.items() if w > 0]
    if not wrows:  # every source weighted 0 (or no weights): empty mixture
        return (
            docs.select("doc_id", "source")
            .withColumn("epoch", F.lit(0).cast("int"))
            .limit(0)
        )
    wdf = docs.sparkSession.createDataFrame(
        wrows, "source string, n_full int, frac double"
    )
    # u ∈ [0,1): first 8 md5 hex digits of (seed:epoch:doc_id) / 2^32
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit(seed), F.col("epoch").cast("string"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(2**32))
    )
    return (
        docs.join(F.broadcast(wdf), "source")
        .withColumn("epoch", F.explode(F.sequence(F.lit(0), F.col("n_full"))))
        .filter((F.col("epoch") < F.col("n_full")) | (u < F.col("frac")))
        .select("doc_id", "source", "epoch")
    )


@query_scope
def training_order(mix: DataFrame, seed: str = "order-v1") -> DataFrame:
    """Deterministic global shuffle of a (doc_id, source, epoch) mixture
    into training order — the step after ``corpus_mix_weighted``.

    The order key is ``md5(seed:epoch:doc_id)``: content-stable, so the
    order is reproducible across runs/clusters (resumable training needs
    to know exactly which sample was step N), and statistically uniform,
    so consecutive samples are decorrelated — epochs and sources
    interleave instead of concatenating, and a doc's repeat copies land
    far apart with overwhelming probability. ``sample_idx`` is the
    0-based global position. When composing with ``corpus_mix_weighted``
    the two seeds MUST differ (``assemble_training_mixture`` salts
    them): with the same seed the mixing keep-variate IS the sort key,
    so every fractionally-kept row sorts into the low end of the stream
    instead of interleaving.

    Scale shape: ONE range-partitioned sort plus a #partitions-row
    offset summary (``positions.ordered_positions``) — no single-reducer
    total sort, no second full-data exchange. ``sample_idx`` reproduces
    the total (__k, doc_id, epoch) order wherever the range bounds fall.
    A ``query_scope``: a loop re-deriving streams holds one mixture-sized
    cache, not one per iteration.
    """
    key = F.md5(
        F.concat_ws(
            ":",
            F.lit(seed),
            F.col("epoch").cast("string"),
            F.col("doc_id").cast("string"),
        )
    )
    return ordered_positions(
        mix.withColumn("__k", key), ["__k", "doc_id", "epoch"]
    ).select(F.col("pos").alias("sample_idx"), "doc_id", "source", "epoch")


def assemble_training_mixture(
    spark: SparkSession,
    sf_dir: str,
    weights: dict[str, float],
    seed: str = "pipe-v1",
) -> DataFrame:
    """The composed end-to-end assembly a training run consumes:
    curation verdict → canonical keepers → weighted mixing → training
    order. Returns (sample_idx, doc_id, source, epoch) — the exact
    sample stream a data loader would read.

    Composition of already-tested stages, sharing their guarantees:
    ``corpus_filter_pipeline``'s keep verdict (quality ∧ repetition ∧
    length ∧ exact-dup canonicality, 1 scan + 1 fingerprint shuffle),
    ``corpus_mix_weighted`` (hash-decided, shuffle-free), and
    ``training_order`` (one range sort + tiny offset pass). End to end
    that is two corpus scans (verdict, mix) + the keep semi-join + one
    range sort — and the whole stream is reproducible from (corpus,
    weights, seed) alone, so a crashed training job can re-derive
    sample N exactly.

    The two stages are salted with DIFFERENT derived seeds: both hash
    ``md5(seed:epoch:doc_id)``, so feeding one seed to both would make
    the mixing keep-variate equal the sort key — every fractionally
    kept row (downsampled sources, fractional epochs) would sort into
    the front of the stream instead of interleaving uniformly.
    """
    kept = (
        corpus_filter_pipeline(spark, sf_dir)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .join(kept, "doc_id", "left_semi")
    )
    return training_order(
        corpus_mix_weighted(docs, weights, f"{seed}:mix"), f"{seed}:order"
    )


def pack_sequences(stream: DataFrame, cap: int = _PACK_CAP) -> DataFrame:
    """Concat-and-chunk the ORDERED training stream into fixed-token
    sequences: every sample gets (seq_id, seq_offset) from the global
    running token count over ``sample_idx`` order — the last stage of
    mix → order → pack. Input needs (sample_idx, doc_id, n_tokens);
    output adds ``seq_id = cum_before // cap`` and
    ``seq_offset = cum_before % cap`` (the same chunk math as
    ``doc_pack_bins``, but over the training order instead of per
    source).

    Every input column passes through (source/epoch accounting over
    packed sequences needs no join back); only ``seq_id``/``seq_offset``
    are added.

    The global prefix sum never serializes: one range exchange on
    ``sample_idx``, an Arrow in-partition cumsum and a #partitions-row
    offset summary (``positions.ordered_positions``).
    """
    # Downstream-stage cadence: persist + EAGER-fill the range-sorted
    # frame while the upstream stage's cache (training_order's sorted
    # mixture, when composed) is still alive — the shared lineage runs
    # once — then drop everything but this frame (`retain_latest`):
    # same one-live-cache end state as training_order, without
    # recomputing the verdict/mix subtree during the fill.
    ranked = ordered_positions(stream, ["sample_idx"], weight="n_tokens", eager=True)
    retain_latest()
    return ranked.select(*stream.columns, *_seq_assignment(cap))


def _seq_assignment(cap: int) -> list[Column]:
    """(seq_id, seq_offset) of each sample from its ``cum_before``."""
    return [
        # `div` = long integral division: float `/` loses exactness
        # past ~2^52 cumulative tokens (quotient rounds up at block
        # boundaries), while div matches the oracle's `//` at any
        # scale; `%` on longs is already exact
        F.expr(f"cum_before div {int(cap)}").cast("long").alias("seq_id"),
        (F.col("cum_before") % cap).cast("long").alias("seq_offset"),
    ]


# ------------------------------------- registered mixture-pipeline heads
#
# Driver-checkable forms of the mix → order → pack stages. The frame
# functions above are the library surface; these registered heads pin
# them against a DuckDB oracle, which is possible precisely BECAUSE the
# pipeline is hash-decided (md5 — the one hash both engines compute
# identically) rather than RNG-decided: the exact mixture, order, and
# packing are reproducible from (corpus, weights, seed) alone on any
# engine. An RNG-based sampler could never have a cross-engine oracle.

# Fixed head weights covering all three weight regimes per source class:
# src0,4,8,...  → 2.5 (epoched upsample with a fractional extra copy)
# src1,5,9,...  → 1.0 (keep exactly once)
# src2,6,10,... → 0.3 (downsample)
# src3,7,11,... → 0.0 (excluded)
_MIX_HEAD_WEIGHTS = {
    f"src{i}": (2.5, 1.0, 0.3, 0.0)[i % 4] for i in range(20)
}
_MIX_HEAD_SEED = "mix-q1"
_PIPE_HEAD_SEED = "pipe-q1"


def _mix_weight_values_sql() -> str:
    """The (source, n_full, frac) weight table as a SQL VALUES list,
    generated from the SAME dict the Spark head uses so the two sides
    cannot drift."""
    rows = [
        f"('{s}', {int(w)}, CAST({w - int(w)!r} AS DOUBLE))"
        for s, w in _MIX_HEAD_WEIGHTS.items()
        if w > 0
    ]
    return ", ".join(rows)


def _mix_u_sql(seed: str) -> str:
    """DuckDB expression for the keep-variate u ∈ [0,1): first 8 md5 hex
    digits of seed:epoch:doc_id over 2^32 — byte-identical to the Spark
    side's conv(substring(md5(...), 1, 8), 16, 10) / 2^32."""
    return (
        "CAST(CAST('0x' || substr(md5("
        f"'{seed}' || ':' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)"
        "), 1, 8) AS BIGINT) AS DOUBLE) / 4294967296.0"
    )


def _mix_cte_sql(doc_source: str, seed: str) -> str:
    """Shared mix CTE body: explode epochs 0..n_full per (doc, source)
    against the weight table, keep full epochs plus the hash-decided
    fractional copy."""
    return f"""
w(source, n_full, frac) AS (VALUES {_mix_weight_values_sql()}),
exploded AS (
    SELECT d.doc_id, d.source, CAST(t.e AS INT) AS epoch,
           w.n_full, w.frac
    FROM {doc_source} d JOIN w USING (source),
         unnest(range(0, w.n_full + 1)) AS t(e)
),
mix AS (
    SELECT doc_id, source, epoch FROM exploded
    WHERE epoch < n_full OR {_mix_u_sql(seed)} < frac
)"""


MIX_HEAD_ORACLE = f"""
WITH {_mix_cte_sql("documents", f"{_MIX_HEAD_SEED}")}
SELECT doc_id, source, epoch FROM mix
"""


@register(
    "training_mix_weighted",
    oracle=MIX_HEAD_ORACLE,
    tags=("text", "mixing"),
    past_window=True,
)
def training_mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered head of ``corpus_mix_weighted``: the deterministic
    weighted training mixture over the raw corpus at fixed weights
    spanning all three regimes (epoched upsample 2.5×, keep 1.0×,
    downsample 0.3×, excluded 0.0×).

    Scale shape is the library function's: broadcast weight table +
    epoch explode + codegen hash filter — one corpus scan, no shuffle.
    The oracle reproduces the mixture row-for-row in DuckDB because the
    keep decision is md5-derived, not RNG-derived.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return corpus_mix_weighted(docs, _MIX_HEAD_WEIGHTS, seed=_MIX_HEAD_SEED)


def _order_key_sql(seed: str) -> str:
    """DuckDB expression for the training-order sort key."""
    return (
        f"md5('{seed}' || ':' || CAST(epoch AS VARCHAR)"
        " || ':' || CAST(doc_id AS VARCHAR))"
    )


TRAINING_MIXTURE_ORACLE = f"""
WITH verdict AS ({{filter_oracle}}),
kept AS (
    SELECT d.doc_id, d.source
    FROM documents d JOIN verdict v USING (doc_id)
    WHERE v.keep
),
{_mix_cte_sql("kept", f"{_PIPE_HEAD_SEED}:mix")}
SELECT CAST(row_number() OVER (
           ORDER BY {_order_key_sql(f"{_PIPE_HEAD_SEED}:order")}, doc_id, epoch
       ) - 1 AS BIGINT) AS sample_idx,
       doc_id, source, epoch
FROM mix
"""


@register(
    "training_mixture",
    oracle=TRAINING_MIXTURE_ORACLE.format(
        filter_oracle=FILTER_PIPELINE_ORACLE.format(stop=_STOP_SQL)
    ),
    tags=("text", "mixing", "pipeline", "unbenched"),
    past_window=True,
)
def training_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered head of ``assemble_training_mixture``: curation
    verdict → keepers → weighted mix → deterministic global training
    order, returning the (sample_idx, doc_id, source, epoch) stream a
    data loader would read.

    The oracle recomputes the entire pipeline in DuckDB — filter CTE,
    md5 mixture, and ``row_number() OVER (ORDER BY md5_key)`` — and
    must agree on every sample's global position, which pins the range
    -partitioned distributed sort (``training_order``) to the semantics
    of a total order without ever building one reducer's total sort.
    """
    return assemble_training_mixture(
        spark, sf_dir, _MIX_HEAD_WEIGHTS, seed=_PIPE_HEAD_SEED
    )


PACKED_STREAM_ORACLE = f"""
WITH verdict AS ({{filter_oracle}}),
kept AS (
    SELECT d.doc_id, d.source
    FROM documents d JOIN verdict v USING (doc_id)
    WHERE v.keep
),
{_mix_cte_sql("kept", f"{_PIPE_HEAD_SEED}:mix")},
ordered AS (
    SELECT CAST(row_number() OVER (
               ORDER BY {_order_key_sql(f"{_PIPE_HEAD_SEED}:order")}, doc_id, epoch
           ) - 1 AS BIGINT) AS sample_idx,
           doc_id, source, epoch
    FROM mix
),
stream AS (
    SELECT o.sample_idx, o.doc_id, o.source, o.epoch,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
    FROM ordered o JOIN documents d USING (doc_id)
),
c AS (
    SELECT *,
           COALESCE(SUM(n_tokens) OVER (
               ORDER BY sample_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
    FROM stream
)
SELECT sample_idx, doc_id, source, epoch, n_tokens,
       CAST(cum_before // {_PACK_CAP} AS BIGINT) AS seq_id,
       CAST(cum_before % {_PACK_CAP} AS BIGINT) AS seq_offset
FROM c
"""


@register(
    "packed_training_stream",
    oracle=PACKED_STREAM_ORACLE.format(
        filter_oracle=FILTER_PIPELINE_ORACLE.format(stop=_STOP_SQL)
    ),
    tags=("text", "mixing", "packing", "pipeline"),
    past_window=True,
)
def packed_training_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered head of the full mix → order → pack pipeline: the
    ordered training stream with each sample's packed-sequence
    assignment (seq_id, seq_offset) under the global running token sum.

    This is the one head whose oracle checks a GLOBAL prefix sum (the
    packing offsets) computed distributively on the Spark side — range
    partitioning, per-partition Arrow cumsum, broadcast partition
    offsets — against DuckDB's single-node window. Agreement on every
    (seq_id, seq_offset) proves the distributed prefix sum is exact,
    not approximately ordered.

    FUSED order + pack (guide §2.4 — remove shuffles outright): the
    composed ``training_order`` → ``pack_sequences`` form range-sorts
    TWICE (by the order key, then by ``sample_idx``), but ``sample_idx``
    order IS the order-key sort order — the second range exchange (plus
    its bounds-sampling pass, eager fill, and offsets summary) re-built
    a layout the first sort already produced. Here ``n_tokens`` rides a
    size-gated broadcast join onto the mixture BEFORE the one range
    sort, ONE #partitions-row summary carries BOTH the row-count offset
    (→ sample_idx) and the token offset (→ seq_id/seq_offset), and one
    Arrow cumsum pass finishes the prefix sum: one range exchange where
    the composed form paid two, 24 jobs → ~12 at sf0.1. Output is
    value-identical (same sort key, same cumsum order); the library
    stages keep their own contracts for external callers.
    """
    kept = (
        corpus_filter_pipeline(spark, sf_dir)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .join(kept, "doc_id", "left_semi")
    )
    mix = corpus_mix_weighted(docs, _MIX_HEAD_WEIGHTS, f"{_PIPE_HEAD_SEED}:mix")
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    key = F.md5(
        F.concat_ws(
            ":",
            F.lit(f"{_PIPE_HEAD_SEED}:order"),
            F.col("epoch").cast("string"),
            F.col("doc_id").cast("string"),
        )
    )
    mixt = mix.join(
        gated_broadcast(spark, sf_dir, "documents", toks), "doc_id"
    ).withColumn("__k", key)
    ranked = ordered_positions(
        mixt, ["__k", "doc_id", "epoch"], weight="n_tokens", eager=True
    )
    retain_latest()
    return ranked.select(
        F.col("pos").alias("sample_idx"),
        "doc_id",
        "source",
        "epoch",
        "n_tokens",
        *_seq_assignment(_PACK_CAP),
    )


# ------------------------------------------------ mixture weight planning

_MIX_ALPHA = 0.3  # temperature exponent: <1 upweights low-resource sources
_MIX_TOKEN_BUDGET = 500_000  # target mixture size in tokens


MIX_BUDGET_ORACLE = f"""
WITH tok AS (
    SELECT source,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens_total
    FROM documents GROUP BY source
), sm AS (
    SELECT source, n_tokens_total,
           POW(CAST(n_tokens_total AS DOUBLE) / SUM(n_tokens_total) OVER (),
               {_MIX_ALPHA}) AS s
    FROM tok
)
SELECT source, n_tokens_total,
       ROUND(s / SUM(s) OVER (), 6) AS token_share,
       ROUND({_MIX_TOKEN_BUDGET} * (s / SUM(s) OVER ()) / n_tokens_total, 6)
           AS mix_weight
FROM sm
"""


@register(
    "mixture_budget_weights",
    oracle=MIX_BUDGET_ORACLE,
    tags=("text", "mixing", "planning", "unbenched"),
    past_window=True,
)
def mixture_budget_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed mixture weights from corpus statistics: the
    planning step that turns per-source token totals into the
    ``corpus_mix_weighted`` weight dict for a fixed token budget.

    Standard multilingual/temperature sampling: source shares are
    raised to alpha=0.3 (alpha < 1 upweights low-resource
    sources, the mT5/XLM-R recipe), renormalized, and scaled so the
    expected mixture hits the 500k-token budget —
    ``mix_weight`` is directly the per-source keep/epoch multiplier the
    mixing stage consumes (w<1 downsample, w≥1 epoched upsample).

    Scale shape: one corpus scan → 20-group agg; the share/weight math
    runs over the #sources-row summary (window over a constant-size
    frame), so at 100 TB this costs exactly one map-side-combined
    shuffle of (source, partial token sum) pairs.
    """
    return mixture_budget_frame(load_table(spark, sf_dir, "documents"))


def mixture_budget_frame(docs: DataFrame) -> DataFrame:
    """Frame-level core of ``mixture_budget_weights`` — shared with
    ``pipeline.build_pretraining_dataset`` so weight planning runs on
    any documents-contract frame (parquet table or JSONL ingest)."""
    tok = (
        docs.select("source", F.size(F.split("text", " ")).alias("n"))
        .groupBy("source")
        .agg(F.sum("n").cast("long").alias("n_tokens_total"))
    )
    w_all = Window.partitionBy()
    s = F.pow(
        F.col("n_tokens_total").cast("double")
        / F.sum("n_tokens_total").over(w_all),
        F.lit(_MIX_ALPHA),
    )
    sm = tok.select("source", "n_tokens_total", s.alias("s"))
    share = F.col("s") / F.sum("s").over(w_all)
    return sm.select(
        "source",
        "n_tokens_total",
        F.round(share, 6).alias("token_share"),
        F.round(
            F.lit(_MIX_TOKEN_BUDGET) * share / F.col("n_tokens_total"), 6
        ).alias("mix_weight"),
    )


# -------------------------------------------------- training-stream I/O

_SHARD_BLOCK = 100_000  # samples per shard directory


def write_training_shards(
    stream: DataFrame, path: str, block: int = _SHARD_BLOCK
) -> None:
    """Lay the ordered training stream down as ``sample_block=N/``
    hive-partitioned parquet (block = ``sample_idx // block``), the
    layout a resumable data loader reads.

    Why this layout at 100 TB: a crashed training run resumes at step S
    by reading ONLY the shard directories overlapping [S, end) —
    partition pruning eliminates every earlier shard at plan time
    (``read_training_slice`` pins this), so resume cost is proportional
    to the remaining stream, not the full corpus. Blocks are contiguous
    sample ranges because ``sample_idx`` is the loader's read order:
    one shard = one sequential chunk of training.

    The write repartitions by ``sample_block`` so each shard directory
    is produced by one task writing one file — without it, every
    upstream task would append a file to every shard directory
    (#tasks × #shards small files, the classic partitionBy explosion).
    ``sortWithinPartitions`` keeps rows in loader order inside each
    file, which also gives parquet monotone ``sample_idx`` row-group
    stats for the in-shard range filter.
    """
    (
        stream.withColumn(
            "sample_block", F.floor(F.col("sample_idx") / block).cast("long")
        )
        .repartition("sample_block")
        # the partition column leads the sort: the dynamic-partition
        # writer REQUIRES child ordering on [sample_block] — sorting by
        # sample_idx alone makes Spark insert its own (stability-
        # uncontracted) sort on top, and the in-file loader order would
        # then be luck rather than guarantee
        .sortWithinPartitions("sample_block", "sample_idx")
        .write.mode("overwrite")
        .partitionBy("sample_block")
        .parquet(path)
    )
    # Record the block size beside the data (underscore-prefixed dirs
    # are invisible to Spark's data-file listing): the reader's pruning
    # math divides by it, and a mismatched divisor would silently skip
    # shard directories mid-slice rather than erroring.
    stream.sparkSession.createDataFrame([(block,)], "block long").write.mode(
        "overwrite"
    ).parquet(f"{path}/_shard_meta")


def read_training_slice(
    spark: SparkSession, path: str, lo: int, hi: int, block: int | None = None
) -> DataFrame:
    """Read samples ``lo <= sample_idx < hi`` from a sharded training
    stream, touching only the shard directories that can contain them.

    The slice filter is expressed on BOTH columns: the ``sample_block``
    bounds are partition filters (directory pruning at plan time — no
    file of an excluded shard is even listed into the scan), and the
    ``sample_idx`` bounds push down to parquet row-group stats inside
    the surviving shards. The resume-at-step-S read is therefore
    O(remaining stream), never a corpus scan; the pruned plan shape is
    pinned in tests.

    The block size defaults to the ``_shard_meta`` sidecar the writer
    recorded; passing one explicitly is validated against it, because a
    mismatched divisor would prune directories that still hold rows of
    [lo, hi) — a silently incomplete resume.
    """
    from pyspark.errors import AnalysisException

    stored: int | None = None
    try:
        stored = spark.read.parquet(f"{path}/_shard_meta").collect()[0]["block"]
    except AnalysisException:  # sidecar absent (pre-sidecar layout):
        pass  # caller must supply the size. Real I/O errors (throttle,
        # permissions, corrupt footer) must PROPAGATE — swallowing them
        # would silently disable the divisor validation this sidecar
        # exists for, the exact incomplete-resume bug it guards against.
    if block is None:
        if stored is None:
            raise ValueError(
                f"{path} has no _shard_meta sidecar; pass the block size it "
                "was written with"
            )
        block = stored
    elif stored is not None and block != stored:
        raise ValueError(
            f"slice block={block} != store's written block={stored}: the "
            "pruning math would silently skip shard directories"
        )
    df = spark.read.parquet(path)
    if stored is None:
        # Sidecar-less store with a caller-supplied divisor: a crash
        # between the data write and the sidecar write leaves exactly
        # this state, and accepting the block unvalidated would let a
        # wrong divisor silently prune shard directories that still
        # hold rows of [lo, hi) — the incomplete-resume bug the sidecar
        # guards against. The layout itself is the check: under the
        # true divisor every row satisfies
        # blk*block <= sample_idx < (blk+1)*block for its directory.
        # One column-pruned scan, paid only on legacy/crashed stores.
        inconsistent = (
            df.filter(
                (F.col("sample_idx") < F.col("sample_block") * block)
                | (F.col("sample_idx") >= (F.col("sample_block") + 1) * block)
            )
            .limit(1)
            .count()
        )
        if inconsistent:
            raise ValueError(
                f"slice block={block} contradicts {path}'s observed "
                "sample_block boundaries (no _shard_meta sidecar to "
                "validate against): the pruning math would silently "
                "skip shard directories mid-slice"
            )
    return df.filter(
        (F.col("sample_block") >= lo // block)
        & (F.col("sample_block") <= max(hi - 1, lo) // block)
        & (F.col("sample_idx") >= lo)
        & (F.col("sample_idx") < hi)
    )


MIX_COMPOSITION_ORACLE = f"""
WITH {_mix_cte_sql("documents", f"{_MIX_HEAD_SEED}")},
tok AS (
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
), avail AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs_available
    FROM documents GROUP BY source
)
SELECT m.source,
       a.n_docs_available,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(count(DISTINCT m.doc_id) AS BIGINT) AS n_docs_kept,
       CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens,
       ROUND(CAST(count(*) AS DOUBLE) / a.n_docs_available, 6)
           AS effective_epochs
FROM mix m JOIN tok t USING (doc_id) JOIN avail a ON m.source = a.source
GROUP BY m.source, a.n_docs_available
"""


@register(
    "mixture_composition",
    oracle=MIX_COMPOSITION_ORACLE,
    tags=("text", "mixing", "stats", "unbenched"),
    past_window=True,
)
def mixture_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics of the REALIZED training mixture: per
    source, available docs, emitted samples (doc copies), distinct docs
    kept, token total, and effective epochs (samples / available) —
    what a run report prints next to the `mixture_budget_weights` plan
    so drift between intended and realized mixture is visible.

    Shape: the shuffle-free mix (broadcast weights + hash filter)
    joined to per-doc token counts, then one 20-group agg — at 100 TB
    the shuffle carries (source, partials), nothing doc-sized. The
    effective-epochs column is the observability hook: it converges to
    the configured weight by the mixture's 5-sigma concentration
    property, and a persistent gap flags a corpus/weights mismatch.
    """
    docs = load_table(spark, sf_dir, "documents")
    mix = corpus_mix_weighted(
        docs.select("doc_id", "source"), _MIX_HEAD_WEIGHTS, seed=_MIX_HEAD_SEED
    )
    tok = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    avail = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_available")
    )
    return (
        mix.join(tok, "doc_id")
        .join(F.broadcast(avail), "source")
        .groupBy("source", "n_docs_available")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.countDistinct("doc_id").alias("n_docs_kept"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.col("n_docs_available"), 6
            ).alias("effective_epochs"),
        )
        .select(
            "source",
            "n_docs_available",
            "n_samples",
            "n_docs_kept",
            "n_tokens",
            "effective_epochs",
        )
    )


SQL_MIXTURE_SEED = "sqlmix-v1"

# Reuses the SAME CTE/key builders as TRAINING_MIXTURE_ORACLE — one
# source of truth for the md5-mixture SQL on the oracle side.
SQL_MIXTURE_ORACLE = f"""
WITH {_mix_cte_sql("documents", f"{SQL_MIXTURE_SEED}:mix")}
SELECT CAST(row_number() OVER (
           ORDER BY {_order_key_sql(f"{SQL_MIXTURE_SEED}:order")}, doc_id, epoch
       ) - 1 AS BIGINT) AS sample_idx,
       doc_id, source, epoch
FROM mix
"""


@register(
    "sql_mixture_surface",
    oracle=SQL_MIXTURE_ORACLE,
    tags=("sql", "mixing", "unbenched"),
    past_window=True,
)
def sql_mixture_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE weighted-mixture + training-order pipeline written by a
    SQL-only user: weight table as VALUES, epoch explode, the
    ``mix_u``/``sample_key`` macros (``functions/sql_macros.py``) for
    the keep decision and order key, and a window for the global
    position — no DataFrame code at all.

    Runs the same md5-derived semantics as ``training_mixture`` (same
    macros the engine itself uses, inlined into codegen), hash-checked
    against the DuckDB oracle — which is BUILT from the same
    ``_mix_cte_sql``/``_order_key_sql`` helpers as
    ``TRAINING_MIXTURE_ORACLE``, and the VALUES list below from the
    same ``_mix_weight_values_sql``, so neither side can drift from the
    engine's mixing recipe. The ``row_number`` total-order window is
    the SQL-surface simplification; the engine's ``training_order``
    computes the identical positions with a range-partitioned sort
    (plan-shape difference only — this query pins that the SEMANTICS
    are available from pure SQL).

    Lives in this module (not ``sql_macros``) because the oracle needs
    the module-level mix-SQL builders: building it at registration time
    from ``sql_macros`` would import a partially-initialized
    ``curation`` whenever a consumer imports ``functions.curation``
    first.
    """
    from gmall_flink_parent_spark.functions.sql_macros import (
        register_sql_functions,
    )

    register_sql_functions(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents_v")
    return spark.sql(
        f"""
        WITH w AS (
            SELECT * FROM VALUES {_mix_weight_values_sql()}
                AS w(source, n_full, frac)
        ),
        exploded AS (
            SELECT d.doc_id, d.source, CAST(e.epoch AS INT) AS epoch,
                   w.n_full, w.frac
            FROM documents_v d
            JOIN w USING (source)
            LATERAL VIEW explode(sequence(0, w.n_full)) e AS epoch
        ),
        mix AS (
            SELECT doc_id, source, epoch FROM exploded
            WHERE epoch < n_full
               OR mix_u('{SQL_MIXTURE_SEED}:mix', epoch, doc_id) < frac
        )
        SELECT CAST(row_number() OVER (
                   ORDER BY sample_key('{SQL_MIXTURE_SEED}:order', epoch, doc_id),
                            doc_id, epoch
               ) - 1 AS BIGINT) AS sample_idx,
               doc_id, source, epoch
        FROM mix
        """
    )



# ------------------------------------------------------------ curriculum

# Two-phase curriculum: the bulk phase trains on the broad mixture, the
# anneal phase (the final slice of training) re-mixes toward the
# high-quality sources and drops the noisy ones entirely — the standard
# end-of-pretraining move. Source classes follow the head-weight
# convention (i % 4): upsampled / kept / downsampled / excluded in the
# bulk phase; the anneal keeps only the first two classes, shrunk.
_CURRICULUM_WEIGHTS: dict[int, dict[str, float]] = {
    0: {f"src{i}": (1.5, 1.0, 0.5, 0.2)[i % 4] for i in range(20)},
    1: {f"src{i}": (0.8, 0.4, 0.0, 0.0)[i % 4] for i in range(20)},
}
_CURRICULUM_SEED = "curr-q1"


def corpus_mix_curriculum(
    docs: DataFrame,
    phase_weights: dict[int, dict[str, float]],
    seed: str = "curr-v1",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Phase-aware weighted mixing in ONE corpus scan.

    ``corpus_mix_weighted`` generalized over training phases: the
    broadcast weight table carries (phase, source, n_full, frac) rows,
    so a doc joins once per phase that wants its source and the epoch
    explode + hash filter run per (phase, doc) — the corpus is NOT
    re-scanned per phase (at 100 TB, scans dominate; a P-phase
    curriculum must not cost P scans). The keep-variate seed includes
    the phase, so phase mixtures are independent draws.
    """
    rows = [
        (p, s, int(w), float(w - int(w)))
        for p, ws in phase_weights.items()
        for s, w in ws.items()
        if w > 0
    ]
    if not rows:
        return (
            docs.select("doc_id", "source", *carry)
            .withColumn("phase", F.lit(0).cast("int"))
            .withColumn("epoch", F.lit(0).cast("int"))
            .limit(0)
        )
    wdf = docs.sparkSession.createDataFrame(
        rows, "phase int, source string, n_full int, frac double"
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit(seed),
                        F.col("phase").cast("string"),
                        F.col("epoch").cast("string"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(2**32))
    )
    return (
        docs.join(F.broadcast(wdf), "source")
        .withColumn("epoch", F.explode(F.sequence(F.lit(0), F.col("n_full"))))
        .filter((F.col("epoch") < F.col("n_full")) | (u < F.col("frac")))
        .select(
            "doc_id",
            "source",
            "phase",
            F.col("epoch").cast("int").alias("epoch"),
            *carry,
        )
    )


@query_scope
def curriculum_order(mix: DataFrame, seed: str = "curr-order-v1") -> DataFrame:
    """Global training order across curriculum phases — ONE range sort.

    The naive composition (order each phase, count phase 0, offset
    phase 1) needs a scalar count join and two sorts; sorting on
    ``(phase, md5_key)`` instead gives phase-0 samples every position
    before any phase-1 sample and uniform interleaving WITHIN each
    phase, from the same single range exchange + tiny-summary offset
    pass as ``training_order``. Positions are continuous across the
    phase boundary by construction.
    """
    key = F.md5(
        F.concat_ws(
            ":",
            F.lit(seed),
            F.col("phase").cast("string"),
            F.col("epoch").cast("string"),
            F.col("doc_id").cast("string"),
        )
    )
    return ordered_positions(
        mix.withColumn("__k", key), ["phase", "__k", "doc_id", "epoch"]
    ).select(
        F.col("pos").alias("sample_idx"),
        F.col("phase").cast("int").alias("phase"),
        "doc_id",
        "source",
        "epoch",
    )


def _curriculum_weight_values_sql() -> str:
    rows = [
        f"({p}, '{s}', {int(w)}, CAST({w - int(w)!r} AS DOUBLE))"
        for p, ws in _CURRICULUM_WEIGHTS.items()
        for s, w in ws.items()
        if w > 0
    ]
    return ", ".join(rows)


def _curriculum_u_sql(seed: str) -> str:
    return (
        "CAST(CAST('0x' || substr(md5("
        f"'{seed}' || ':' || CAST(phase AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)"
        " || ':' || CAST(doc_id AS VARCHAR)"
        "), 1, 8) AS BIGINT) AS DOUBLE) / 4294967296.0"
    )


def _curriculum_key_sql(seed: str) -> str:
    return (
        f"md5('{seed}' || ':' || CAST(phase AS VARCHAR) || ':' || "
        "CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))"
    )


CURRICULUM_ORACLE = f"""
WITH w(phase, source, n_full, frac) AS (VALUES {_curriculum_weight_values_sql()}),
exploded AS (
    SELECT d.doc_id, d.source, w.phase, CAST(t.e AS INT) AS epoch,
           w.n_full, w.frac
    FROM documents d JOIN w USING (source),
         unnest(range(0, w.n_full + 1)) AS t(e)
),
mix AS (
    SELECT doc_id, source, phase, epoch FROM exploded
    WHERE epoch < n_full OR {_curriculum_u_sql(f"{_CURRICULUM_SEED}:mix")} < frac
)
SELECT CAST(row_number() OVER (
           ORDER BY phase, {_curriculum_key_sql(f"{_CURRICULUM_SEED}:order")},
                    doc_id, epoch
       ) - 1 AS BIGINT) AS sample_idx,
       CAST(phase AS INT) AS phase, doc_id, source, epoch
FROM mix
"""


@register(
    "curriculum_mixture",
    oracle=CURRICULUM_ORACLE,
    tags=("text", "mixing", "curriculum"),
    past_window=True,
)
def curriculum_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase curriculum training stream: bulk mixture first, then
    the annealed high-quality re-mix, with one continuous global
    ``sample_idx`` across the phase boundary.

    Registered head of ``corpus_mix_curriculum`` → ``curriculum_order``
    at fixed phase weights (bulk: 1.5/1.0/0.5/0.2 per source class;
    anneal: 0.8/0.4/0/0). Every decision is md5-derived, so DuckDB
    replays the entire schedule — phase membership, per-phase epochs,
    and the exact global position of every sample — and the hash check
    pins the distributed (phase, key) range sort to total-order
    semantics. One corpus scan, one range exchange, tiny-summary
    offsets; the phase column costs nothing extra at 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return curriculum_order(
        corpus_mix_curriculum(docs, _CURRICULUM_WEIGHTS, f"{_CURRICULUM_SEED}:mix"),
        f"{_CURRICULUM_SEED}:order",
    )


# ----------------------------------------------------- token budgeting

TOKEN_BUDGET_ORACLE = f"""
WITH w(phase, source, n_full, frac) AS (VALUES {{weights}}),
d AS (
    SELECT doc_id, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
    FROM documents
),
exploded AS (
    SELECT d.doc_id, d.source, d.n_toks, w.phase, CAST(t.e AS INT) AS epoch,
           w.n_full, w.frac
    FROM d JOIN w USING (source),
         unnest(range(0, w.n_full + 1)) AS t(e)
),
mix AS (
    SELECT doc_id, source, phase, n_toks FROM exploded
    WHERE epoch < n_full OR {{u}} < frac
),
per AS (
    SELECT CAST(phase AS INT) AS phase, source,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens
    FROM mix GROUP BY phase, source
),
tot AS (
    SELECT phase, SUM(n_tokens) AS tot FROM per GROUP BY phase
)
SELECT per.phase, per.source, n_samples, n_docs, n_tokens,
       ROUND(CAST(n_tokens AS DOUBLE) / tot, 6) AS token_share
FROM per JOIN tot USING (phase)
""".format(
    weights=_curriculum_weight_values_sql(),
    u=_curriculum_u_sql(f"{_CURRICULUM_SEED}:mix"),
)


@register(
    "curriculum_token_budget",
    oracle=TOKEN_BUDGET_ORACLE,
    tags=("text", "mixing", "curriculum", "report", "unbenched"),
    past_window=True,
)
def curriculum_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting per (phase, source) for the curriculum mixture:
    samples drawn, distinct documents touched, total TOKENS contributed
    (epochs counted — an upsampled doc spends its tokens every epoch),
    and each source's share of its phase's token budget.

    The planning report a training run reads before launch: budgets are
    set in tokens, not documents, and a weight plan that looks balanced
    by document count can be dominated by one long-document source.
    Re-uses ``corpus_mix_curriculum`` with the per-doc token count
    CARRIED through the mix (the hash decisions are per-doc, so the
    count rides the same scan — no join back to the corpus), then one
    map-side-combined groupBy to |phases|×|sources| rows and a
    broadcast join of the |phases|-row totals for shares. Everything
    after the scan is bounded by the weight-table size, so the report
    is free at any corpus scale.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_toks"),
    )
    mix = corpus_mix_curriculum(
        docs, _CURRICULUM_WEIGHTS, f"{_CURRICULUM_SEED}:mix", carry=("n_toks",)
    )
    per = scoped_persist(
        mix.groupBy("phase", "source").agg(
            F.count(F.lit(1)).cast("long").alias("n_samples"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
        )
    )
    tot = per.groupBy("phase").agg(F.sum("n_tokens").alias("tot"))
    return per.join(F.broadcast(tot), "phase").select(
        "phase",
        "source",
        "n_samples",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / F.col("tot"), 6).alias(
            "token_share"
        ),
    )


# ------------------------------------------- quality-annealed curriculum

_QA_SEED = "qa-v1"
_QA_P = 0.75  # anneal gate: docs at or above this clf_score quantile


def _qa_oracle() -> str:
    from gmall_flink_parent_spark.functions.quality import (
        _CLF_BUCKETS,
        _CLF_SCALE,
        _W_DUCK,
    )

    bulk_rows = ", ".join(
        f"(0, '{s}', {int(w)}, CAST({w - int(w)!r} AS DOUBLE))"
        for s, w in _CURRICULUM_WEIGHTS[0].items()
        if w > 0
    )
    return f"""
WITH w(phase, source, n_full, frac) AS (VALUES {bulk_rows}),
weights AS (
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
), thr AS (
    SELECT quantile_cont(clf_score, {_QA_P}) AS thr FROM scored
), bulkx AS (
    SELECT d.doc_id, d.source, w.phase, CAST(t.e AS INT) AS epoch,
           w.n_full, w.frac
    FROM documents d JOIN w USING (source),
         unnest(range(0, w.n_full + 1)) AS t(e)
), mix AS (
    SELECT doc_id, source, phase, epoch FROM bulkx
    WHERE epoch < n_full OR {_curriculum_u_sql(f"{_QA_SEED}:mix")} < frac
    UNION ALL
    SELECT doc_id, source, 1 AS phase, 0 AS epoch
    FROM scored CROSS JOIN thr WHERE clf_score >= thr
)
SELECT CAST(row_number() OVER (
           ORDER BY phase, {_curriculum_key_sql(f"{_QA_SEED}:order")},
                    doc_id, epoch
       ) - 1 AS BIGINT) AS sample_idx,
       CAST(phase AS INT) AS phase, doc_id, source, epoch
FROM mix
"""


@register(
    "quality_annealed_mixture",
    oracle=_qa_oracle(),
    tags=("text", "mixing", "curriculum", "quality", "unbenched"),
    past_window=True,
)
def quality_annealed_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum whose anneal phase is gated by MODEL-SCORED quality,
    not source identity: the bulk phase draws the broad source-weighted
    mixture, then the final phase re-visits exactly the documents the
    hash classifier puts in the corpus's top quartile — the
    end-of-pretraining move when quality is a per-document signal (the
    DataComp-LM/QuRating shape) rather than a per-source label
    (``curriculum_mixture``).

    The gate threshold is the corpus p75 of the ROUNDED classifier
    score (one `percentile` agg, same interpolation as DuckDB's
    `quantile_cont`, riding a 1-row broadcast). The gate is
    ulp-robust by construction: every score differs from the
    interpolated threshold by at least the rounding granularity unless
    the threshold IS a score value, in which case both engines compute
    it exactly. Downstream is the audited curriculum machinery — one
    (phase, md5 key) range sort gives a continuous global sample_idx
    across the bulk→anneal boundary.

    Scale shape: classifier scoring is the broadcast-model join at doc
    grain; the quantile is one aggregate; the union adds no exchange;
    ordering is the single range sort. The only new cost over
    ``curriculum_mixture`` is the scoring pass a curation pipeline has
    already paid (serve it from the vocab store via
    ``doc_hash_classifier_from_store`` at ingest cadence).
    """
    from gmall_flink_parent_spark.functions.quality import hash_classifier_frame

    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    tf = (
        docs.select("doc_id", "source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "source", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = scoped_persist(
        hash_classifier_frame(tf, group_cols=("doc_id", "source")).select(
            "doc_id", "source", "clf_score"
        )
    )
    thr = scored.agg(F.percentile("clf_score", F.lit(_QA_P)).alias("thr"))
    anneal = (
        scored.crossJoin(F.broadcast(thr))
        .filter(F.col("clf_score") >= F.col("thr"))
        .select(
            "doc_id",
            "source",
            F.lit(1).alias("phase"),
            F.lit(0).cast("int").alias("epoch"),
        )
    )
    bulk = corpus_mix_curriculum(
        docs.select("doc_id", "source"),
        {0: _CURRICULUM_WEIGHTS[0]},
        f"{_QA_SEED}:mix",
    )
    return curriculum_order(bulk.unionByName(anneal), f"{_QA_SEED}:order")
