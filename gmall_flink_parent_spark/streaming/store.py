"""The one ingest-store module: every streaming job lands its rows in
a store through the pieces below, and every store is maintained by the
passes below (SURVEY §3, DEPLOY.md).

The three store-landing decisions live here and nowhere else:

- ``land_batch``: heal swap leftovers, then overwrite the micro-batch's
  own ``batch_id=N`` partition. Replays overwrite their own partition,
  so a store never double-counts, and the heal keeps a half-swapped
  store from being masked by the write.
- ``start_batches``: the ``foreachBatch`` + checkpoint +
  ``availableNow`` start that every streaming job shares.
- ``batch_store_job``: the two together, for jobs that land one frame
  per micro-batch (the DWS partial stores and the per-doc fact stores).

Maintenance and the swap core:

- ``compact_partial_store`` / ``compact_fact_store``: fold committed
  batch partitions into the reserved ``batch_id=-1`` base partition,
  crash-safely.
- ``upsert_parquet`` / ``replace_parquet`` + the two-rename swap core
  (``_swap_parquet_dir``/``_clear_swap_leftovers``): the self-healing
  atomic-replace primitive the compactions and the K3 dim sink build on.

``streaming/jobs.py`` holds each job's frame function and re-exports
the public names.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.errors import ArithmeticException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_parent_spark.registry import cached


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` — works on HDFS/S3A/local alike,
    unlike ``os.path`` which only sees the driver's local disk."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def store_row_count(store_path: str) -> int | None:
    """Total row count of a parquet store from its file FOOTERS — a
    driver-side metadata read (pyarrow), launching NO Spark job.

    This is the store's own sidecar metadata: every parquet footer
    carries its row count, compaction rewrites footers along with data,
    and a half-landed batch the stream will overwrite on replay
    over-counts only that batch — all of which is fine for the ONE
    consumer this serves, the broadcast-gate upper bound in
    ``boilerplate_fraction_frame`` / ``span_dedup_frame`` (the bound
    must not UNDER-count; a replayed batch's transient double-count
    only makes the gate more conservative). Footer reads are standard
    metadata ops on object stores too (~8 bytes of the footer per
    file); at ingest cadence this replaces a full count() action over
    the store per head invocation. Returns ``None`` when the path
    doesn't resolve to parquet files (caller falls back to counting).
    """
    import pathlib

    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow is baked in
        return None
    root = pathlib.Path(store_path)
    if not root.exists():
        return None
    total = 0
    n_files = 0
    for f in root.rglob("*.parquet"):
        # skip swap leftovers from a crashed two-rename (healed on the
        # next write; counting them would double the bound)
        if any(part.endswith(("._tmp", "._old")) for part in f.parts):
            continue
        try:
            total += pq.ParquetFile(f).metadata.num_rows
            n_files += 1
        except OSError:
            return None
    return total if n_files else None


def upsert_parquet(
    spark: SparkSession,
    new_rows: DataFrame,
    path: str,
    key: str,
    sidecars: dict[str, DataFrame] | None = None,
) -> None:
    """K3 (DimSink Phoenix upsert) without Delta: a one-shuffle merge
    rewrite.

    Emulates MERGE for plain parquet: the stored rows (tag 0) and the
    new rows (tag 1) are unioned and each key keeps its highest-tagged
    row (``max_by(struct(row), tag)``), so a new row replaces the stored
    one, duplicate new keys collapse to one row, and a NULL key is one
    key like any other. That is one shuffle and one write — two Spark
    jobs, with no persist and no anti-join. The result goes to a side
    directory, then the directories swap with two filesystem renames
    (metadata ops, not data copies). The exposure window is the instant
    between the two renames; a crash there leaves the previous table
    intact under ``._old`` — recoverable by renaming it back — whereas a
    crash during a direct overwrite of ``path`` loses the table
    outright. Leftover ``._tmp``/``._old`` from a previous crash are
    cleared on entry, so the op is self-healing across retries
    (idempotent per batch). With Delta/Iceberg on the classpath this is
    one transactional ``MERGE INTO``.

    Fixed-schema contract: the stored table is read with ``new_rows``'
    schema, so no schema-inference job runs. A stored value of another
    type is read as ``new_rows``' type or fails the merge before the
    swap. Before that read, the driver reads one stored footer (no Spark
    job) and raises ``ValueError`` if the stored column names differ
    from ``new_rows``' — schema drift fails before anything is written.

    ``sidecars`` maps names to small frames landed at
    ``path/_<name>`` INSIDE the swapped directory — committed
    atomically with the data by the same rename pair (the mechanism
    ``centroid_refresh_job``'s per-run replay fence rides on: no write
    ordering between store and fence can be crash-consistent, so they
    must travel in one swap). Underscore-prefixed, so reads of ``path``
    never see them. NOTE a swap WITHOUT a sidecar drops any existing
    one — sidecar-bearing stores must pass theirs on every upsert.
    """
    fs, dest = _hadoop_fs(spark, path)
    _clear_swap_leftovers(spark, path)
    rows = new_rows.withColumn("__tag", F.lit(1))
    if fs.exists(dest):
        stored = _stored_columns(spark, path)
        if stored is not None and sorted(stored) != sorted(new_rows.columns):
            raise ValueError(
                f"upsert_parquet: {path} holds columns {stored}, the new rows "
                f"{new_rows.columns}; the store's schema is fixed"
            )
        cur = spark.read.schema(new_rows.schema).parquet(path)
        rows = cur.withColumn("__tag", F.lit(0)).unionByName(rows)
    merged = (
        rows.groupBy(key)
        .agg(F.max_by(F.struct(*new_rows.columns), "__tag").alias("__row"))
        .select("__row.*")
    )
    _swap_parquet_dir(spark, merged, path, sidecars=sidecars)


def _stored_columns(spark: SparkSession, path: str) -> list[str] | None:
    """Top-level column names from the footer of one data file under
    ``path`` — a driver-side JVM metadata read that starts no Spark job.
    ``None`` when ``path`` holds no data file."""
    jvm = spark._jvm
    fs, dest = _hadoop_fs(spark, path)
    for st in fs.listStatus(dest):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith(("_", ".")):
            reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
                jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                    st.getPath(), spark._jsc.hadoopConfiguration()
                )
            )
            try:
                schema = reader.getFooter().getFileMetaData().getSchema()
            finally:
                reader.close()
            return [f.getName() for f in schema.getFields()]
    return None


def _clear_swap_leftovers(spark: SparkSession, path: str) -> None:
    """Heal the swap crash states a previous run may have left beside
    ``path`` — must run BEFORE building the replacement frame, which
    typically reads ``path`` itself. Requires exclusive access (the
    swap protocol's standing precondition).

    Under exclusive access the ``dest``/``._old`` existence pair alone
    distinguishes every crash point of ``_swap_parquet_dir``:

    - ``path`` missing but ``._old`` present (crash between the two
      renames — the only state that produces it): the previous table
      is RESTORED by renaming ``._old`` back — never deleted. Without
      the restore, the next cleanup would destroy the only remaining
      copy.
    - ``path`` present and ``._old`` present (crash after the second
      rename, or before the first): ``path`` is complete — the stale
      ``._old``/``._tmp`` debris is dropped.
    """
    fs, dest = _hadoop_fs(spark, path)
    _, tmp = _hadoop_fs(spark, path + "._tmp")
    _, old = _hadoop_fs(spark, path + "._old")
    if not fs.exists(dest) and fs.exists(old):
        if not fs.rename(old, dest):
            raise IOError(
                f"swap recovery: could not restore {old} -> {dest}; "
                "manual intervention required"
            )
    fs.delete(tmp, True)
    fs.delete(old, True)


def _swap_parquet_dir(
    spark: SparkSession,
    merged: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    sidecars: dict[str, DataFrame] | None = None,
) -> None:
    """Write ``merged`` beside ``path`` then swap directories with two
    filesystem renames (metadata ops, not data copies) — the shared
    crash-safety core of ``upsert_parquet`` and
    ``compact_partial_store``. Every crash point heals on the next
    ``_clear_swap_leftovers`` (incl. restoring the previous table if
    the crash landed between the renames). Callers must have healed
    leftovers before building ``merged``, and must hold exclusive
    access: a concurrent writer recreating ``path`` mid-swap is
    undetectable corruption.

    ``sidecars`` land at ``<path>._tmp/_<name>`` AFTER the data write
    (the overwrite wipes the tmp dir) and BEFORE either rename — so
    data + sidecars become visible, and survive crashes, strictly
    together. Their plans may read the current ``path`` contents:
    nothing under ``path`` moves until every sidecar is materialized.
    """
    fs, dest = _hadoop_fs(spark, path)
    _, tmp = _hadoop_fs(spark, path + "._tmp")
    _, old = _hadoop_fs(spark, path + "._old")
    writer = merged.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path + "._tmp")  # materializes any read of `path`
    for name, frame in (sidecars or {}).items():
        frame.write.mode("overwrite").parquet(f"{path}._tmp/_{name}")
    # Hadoop FileSystem.rename signals failure by returning false, not by
    # throwing — an unchecked false on the second rename would leave the
    # table vanished from `path` while reporting success.
    if fs.exists(dest):
        if not fs.rename(dest, old):
            raise IOError(f"swap: rename {dest} -> {old} failed")
    if not fs.rename(tmp, dest):
        restored = fs.exists(old) and fs.rename(old, dest)
        raise IOError(
            f"swap: rename {tmp} -> {dest} failed; previous table "
            + ("restored" if restored else f"left at {old}")
        )
    fs.delete(old, True)


COMPACT_BASE_ID = -1  # reserved partition id; stream batch ids are >= 0


def _max_committed_batch_id(spark: SparkSession, checkpoint_location: str) -> int | None:
    """The highest batch id with a commit record in the streaming
    checkpoint. Batches commit strictly in order, so EVERY id at or
    below it is committed and can never be replayed — which also makes
    this robust to commit-log retention purging old entries
    (``spark.sql.streaming.minBatchesToRetain``): a purged id is below
    the retained maximum, not uncommitted. Works on HDFS/S3A/local
    alike; None when no batch has ever committed."""
    fs, commits = _hadoop_fs(spark, checkpoint_location.rstrip("/") + "/commits")
    if not fs.exists(commits):
        return None
    ids = [
        int(st.getPath().getName())
        for st in fs.listStatus(commits)
        if st.getPath().getName().isdigit()
    ]
    return max(ids) if ids else None


def compact_partial_store(
    spark: SparkSession,
    store_path: str,
    group_cols: list[str],
    checkpoint_location: str | None = None,
) -> int:
    """Maintenance pass for ``batch_store_job`` partial stores: fold batch
    partitions into ONE base partition at the reserved
    ``batch_id=-1`` (``COMPACT_BASE_ID``) — an id the stream can never
    write, so no future or REPLAYED micro-batch's ``overwrite`` of its
    own ``batch_id=N`` partition can ever clobber folded history.
    Totals are exact: every non-group column is summed and cast back to
    its stored type, so partition schemas never drift across
    compactions.

    Pass the job's ``checkpoint_location`` (e.g.
    ``f"{checkpoint_dir}/topk_spend"``) and only COMMITTED batches fold
    — every id at or below the checkpoint's highest commit record
    (commits are strictly ordered, so this also survives commit-log
    retention purging old entries). A landed-but-uncommitted partition
    is LEFT IN PLACE for the stream to overwrite on replay, so a crash
    between sink write and checkpoint commit can neither lose nor
    double-count that batch. Without a checkpoint, everything folds —
    only safe when the stream is stopped for good.

    Crash-safe via the two-rename swap (``_swap_parquet_dir``): any
    crash point heals on the next swap-protocol entry, restoring the
    previous store if the crash landed between the renames. NOT safe to
    run concurrently with the live stream's sink writes — run it
    between ``availableNow`` runs or while the stream is paused
    (DEPLOY.md). A compaction with nothing new to fold (no committed
    partition outside the base) is a no-op. Returns
    ``COMPACT_BASE_ID``.

    Group keys may be NULL (the rollup/cube finest grain keeps NULL
    dimension values as data): the groupBy treats NULL as a regular key,
    matching the ``*_from_store`` final pass.

    Store convention for value columns (the grain-rule trilogy):
    numeric columns are plain mergeable sums; non-decomposable
    aggregates are stored at a finer grain (``corpus_summary_job``);
    and BINARY columns are DataSketches HLL sketches
    (``F.hll_sketch_agg``) merged here with ``F.hll_union_agg`` —
    union is register-wise max, so folding batches is estimate-
    identical to one sketch over all the data. A binary column that is
    not an HLL sketch has no defined merge and must not be stored, and
    a sketch column must keep ONE ``lgConfigK`` across batches (the
    union is called without ``allowDifferentLgConfigK``, so a mid-
    stream precision change fails loudly instead of silently degrading
    every merged sketch to the coarser precision).
    """
    _clear_swap_leftovers(spark, store_path)  # may restore a half-swapped store
    # A scheduled compaction can race first deployment: no batch has
    # landed yet, so there is no store directory. That is the documented
    # quiet no-op, not a raw AnalysisException from the read.
    fs, dest = _hadoop_fs(spark, store_path)
    if not fs.exists(dest):
        return COMPACT_BASE_ID
    store = spark.read.parquet(store_path)
    value_cols = [
        f for f in store.schema.fields if f.name not in (*group_cols, "batch_id")
    ]
    if checkpoint_location is None:
        foldable = F.lit(True)
    else:
        max_committed = _max_committed_batch_id(spark, checkpoint_location)
        # the prior base is always foldable: it only ever held folded
        # committed batches
        foldable = F.col("batch_id") <= (
            COMPACT_BASE_ID if max_committed is None else int(max_committed)
        )
    fold = store.filter(foldable)
    keep = store.filter(~foldable)
    # no-op when there is nothing NEW to fold: rewriting the store to
    # produce the identical base (e.g. a scheduled compaction on a
    # quiet store) would be pure churn
    if not fold.filter(F.col("batch_id") != COMPACT_BASE_ID).limit(1).count():
        return COMPACT_BASE_ID
    # Sum integral columns through a decimal(38,0) intermediate: Spark's
    # sum(long) is itself a long, so the merged total can overflow BEFORE
    # the try_cast guard below ever sees it — wrapping silently in
    # non-ANSI mode or throwing a raw JVM ArithmeticException under ANSI.
    # Widening first moves the overflow to the guarded cast-back, where
    # it raises the one documented ArithmeticError under both modes.
    from pyspark.sql.types import (
        BinaryType,
        ByteType,
        IntegerType,
        LongType,
        ShortType,
    )

    def _merge_expr(f):
        if isinstance(f.dataType, BinaryType):
            # HLL sketch column (store convention): union, not sum
            return F.hll_union_agg(f.name).alias(f.name)
        if isinstance(f.dataType, (ByteType, ShortType, IntegerType, LongType)):
            return F.sum(F.col(f.name).cast("decimal(38,0)")).alias(f.name)
        return F.sum(f.name).alias(f.name)

    # (binary sketch columns skip the overflow guard: hll_union_agg
    # already returns the stored binary type and cannot overflow)
    guarded = [f for f in value_cols if not isinstance(f.dataType, BinaryType)]
    if value_cols:
        folded = fold.groupBy(*group_cols).agg(
            *[_merge_expr(f) for f in value_cols],
            # per-column non-null input counts: a decimal column with
            # precision >= 29 can overflow INSIDE F.sum itself (result
            # precision caps at 38, → NULL in non-ANSI mode) before any
            # cast-back runs, so "inputs existed but the sum is NULL"
            # must also read as overflow, not as a legitimate total
            *[F.count(F.col(f.name)).alias(f"__nn_{f.name}") for f in guarded],
        )
    else:
        # every column is a group key (extrema stores, where partials
        # are idempotent): the fold is a pure dedup — nothing to sum
        folded = fold.select(*group_cols).distinct()
    with cached(folded) as raw:
        # A merged total that no longer fits the stored type would
        # either corrupt the store silently (non-ANSI cast → NULL) or
        # die mid-swap with a raw JVM error (ANSI cast). try_cast is
        # NULL-on-overflow under BOTH modes, so the pre-check raises
        # one well-defined error before any write happens.
        overflowed = [
            (
                F.col(f.name).isNotNull()
                & F.col(f.name).try_cast(f.dataType).isNull()
            )
            | ((F.col(f"__nn_{f.name}") > 0) & F.col(f.name).isNull())
            for f in guarded
        ]
        if guarded:
            cond = overflowed[0]
            for c in overflowed[1:]:
                cond = cond | c
            # Under ANSI mode (the Spark 4 default) a decimal sum at the
            # 38-digit cap throws inside this very evaluation rather
            # than returning NULL — same defect, same uniform error.
            try:
                hit = bool(raw.filter(cond).limit(1).count())
            except ArithmeticException as exc:
                raise ArithmeticError(
                    "compact_partial_store: a merged total overflows its "
                    "stored column type; widen the store schema before "
                    "compacting"
                ) from exc
            if hit:
                raise ArithmeticError(
                    "compact_partial_store: a merged total overflows its "
                    "stored column type; widen the store schema before "
                    "compacting"
                )
        base = raw.select(
            *group_cols,
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in value_cols],
        ).withColumn("batch_id", F.lit(COMPACT_BASE_ID).cast("long"))
        merged = base.unionByName(
            keep.select(*group_cols, *[f.name for f in value_cols], "batch_id")
        )
        _swap_parquet_dir(spark, merged, store_path, partition_by=["batch_id"])
    return COMPACT_BASE_ID


def compact_fact_store(
    spark: SparkSession,
    store_path: str,
    checkpoint_location: str | None = None,
) -> int:
    """Maintenance pass for FACT-shaped ``batch_id=N`` stores — the
    shingle / mixture / profile / contamination / media feature stores,
    whose rows are per-doc facts with no fold aggregation (unlike
    ``compact_partial_store``'s additive partials): committed batch
    partitions are rewritten verbatim into the reserved
    ``batch_id=-1`` base (``COMPACT_BASE_ID``, the
    ``reindex_index_store`` layout convention), collapsing an
    ingest-cadence pile of small per-batch directories into one base
    the per-run heads list and scan cheaply. Rows are MOVED, never
    merged or deduplicated — exactly-once landing is the ingest job's
    contract (idempotent per-batch_id overwrite), so the store holds no
    duplicates for compaction to resolve.

    Same safety envelope as ``compact_partial_store``: pass the job's
    ``checkpoint_location`` and only batches at or below the highest
    COMMITTED id fold — a landed-but-uncommitted partition stays in
    place for the stream to overwrite on replay, so a crash between
    sink write and checkpoint commit can neither lose nor double-count
    it, and a replayed batch can never resurrect beside its folded
    copy (committed batches are no longer replayable). Crash-safe via
    the two-rename swap; requires a quiesced stream (run between
    ``availableNow`` rounds). Nothing new to fold → no-op. The rewrite
    inherits scan bin-packing (``maxPartitionBytes``), so the base
    comes out in full-sized files regardless of how small the input
    batch files were. Returns ``COMPACT_BASE_ID``.
    """
    _clear_swap_leftovers(spark, store_path)  # may restore a half-swapped store
    fs, dest = _hadoop_fs(spark, store_path)
    if not fs.exists(dest):
        return COMPACT_BASE_ID  # scheduled compaction before first batch
    store = spark.read.parquet(store_path)
    if checkpoint_location is None:
        foldable = F.lit(True)
    else:
        max_committed = _max_committed_batch_id(spark, checkpoint_location)
        foldable = F.col("batch_id") <= (
            COMPACT_BASE_ID if max_committed is None else int(max_committed)
        )
    fold = store.filter(foldable)
    keep = store.filter(~foldable)
    if not fold.filter(F.col("batch_id") != COMPACT_BASE_ID).limit(1).count():
        return COMPACT_BASE_ID  # nothing new — rewriting would be pure churn
    data_cols = [c for c in store.columns if c != "batch_id"]
    base = fold.select(*data_cols).withColumn(
        "batch_id", F.lit(COMPACT_BASE_ID).cast("long")
    )
    merged = base.unionByName(keep.select(*data_cols, "batch_id"))
    _swap_parquet_dir(spark, merged, store_path, partition_by=["batch_id"])
    return COMPACT_BASE_ID


def land_batch(frame: DataFrame, store_path: str, batch_id: int) -> None:
    """Land one micro-batch's rows in its own ``batch_id=N`` partition
    of ``store_path``: heal swap leftovers first (``heal_store_dirs``),
    then overwrite the partition. The overwrite is the exactly-once
    unit, since a replayed batch replaces its earlier output instead of
    appending beside it. ``frame`` must not read ``store_path``; a job
    whose frame reads a store heals that store before building it."""
    heal_store_dirs(frame.sparkSession, store_path)
    frame.write.mode("overwrite").parquet(f"{store_path}/batch_id={batch_id}")


def start_batches(
    stream: DataFrame,
    process: Callable[[DataFrame, int], None],
    checkpoint: str,
):
    """Start ``process(batch, batch_id)`` over ``stream`` as a
    checkpointed ``availableNow`` query: the one place a streaming job
    wires ``foreachBatch``, its checkpoint and its trigger."""
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def batch_store_job(stream: DataFrame, frame_fn, store_path: str, checkpoint: str):
    """The shared ingest-store shape: map each micro-batch through
    ``frame_fn`` and land the result with ``land_batch``.

    Two store families run on it. DWS partial stores reduce each batch
    to a COMPACT partial-aggregate frame (size ∝ #groups, independent
    of fact volume), and a ``*_from_store`` final pass re-aggregates the
    partials — exact, because decimal sums and counts are associative.
    Fact stores land per-doc rows computed once at ingest (shingles,
    profiles, fingerprints), which every later head reads instead of
    re-scanning text. At 100 TB the stream pays one batch-sized pass per
    micro-batch; the final passes read only the store."""
    return start_batches(
        stream,
        lambda batch, batch_id: land_batch(frame_fn(batch), store_path, batch_id),
        checkpoint,
    )


def replace_parquet(
    spark: SparkSession,
    path: str,
    build_df: Callable[[], DataFrame],
    partition_by: list[str] | None = None,
) -> None:
    """Atomically replace the whole parquet table at ``path`` with the
    frame ``build_df()`` returns, through the self-healing two-rename
    swap.

    ``build_df`` is a zero-arg factory invoked AFTER swap-leftover
    healing: a crash between a previous replace's renames leaves the
    table only under ``._old``, and a factory that reads the current
    table (derived stores usually do) would otherwise fail on the
    missing path before healing could restore it. The swap itself
    materializes the frame into ``._tmp`` before either rename touches
    ``path``, so reads of the current table inside the factory's plan
    are safe with no extra persist/count pass.

    Full-REBUILD semantics, unlike ``upsert_parquet``'s merge: rows
    absent from the new frame are gone afterwards — the shape for
    derived stores recomputed wholesale (e.g. an IVF index
    reassignment after centroid drift). The caller must hold exclusive
    access to ``path``.
    """
    _clear_swap_leftovers(spark, path)
    _swap_parquet_dir(spark, build_df(), path, partition_by)


def heal_store_dirs(spark: SparkSession, *paths: str) -> None:
    """Swap-crash heal for every store directory a ``foreachBatch``
    body writes into — run BEFORE the batch's first write.

    Closes the one ordering hole in the fence protocol (found by the
    round-12 chaos state machine, reproduced as real data loss): a
    COMPACTION crash between the two renames leaves the whole table
    only under ``<path>._old``; if the stream then resumes and lands
    its ``batch_id=N`` partition first, that write RECREATES the store
    directory, and the next protocol entry's heal — seeing both the
    (one-partition) dest and ``._old`` — would drop ``._old`` as
    debris, destroying every previously folded batch. Healing at batch
    start restores the table before the partition write can mask it.
    Idempotent, two metadata existence checks per path per batch;
    exclusive access holds because compaction never runs concurrently
    with the stream (the standing protocol precondition). ``None``
    entries are skipped (optional ingest side-stores)."""
    for p in paths:
        if p is not None:
            _clear_swap_leftovers(spark, p)
