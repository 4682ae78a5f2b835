"""One-call end-to-end pretraining-dataset build — the engine's
user-facing composition.

Every stage below is an already-tested, individually-registered
operator; this module is the API a user of the engine actually calls:
one function that takes a corpus and a weight plan and leaves behind a
resumable sharded training stream plus a funnel manifest. Nothing here
introduces new semantics — it wires the curation verdict
(``corpus_filter_pipeline``), benchmark decontamination
(``contamination_shingles``/``contamination_counts``), hash-decided
weighted mixing, the global training order, sequence packing, and the
pruned shard layout (``write_training_shards``) in their contract
order, with the funnel counted along the way.

Scale shape of the composition (the sum of its audited parts): two
corpus scans (verdict+shingles share one logical pass each), the
fingerprint shuffle, the broadcast benchmark semi-join, one range sort,
and the one-task-per-shard write. All decisions are md5-derived, so the
entire dataset is reproducible from (corpus, weights, seed) — a crashed
build re-run lands byte-identical shards, and a crashed TRAINING run
re-derives sample N from the manifest alone.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_parent_spark.functions.curation import (
    _BENCH_MOD,
    contamination_counts,
    contamination_shingles,
    corpus_filter_frame,
    filter_verdict_frame,
)
from gmall_flink_parent_spark.functions.mixture import (
    _PACK_CAP,
    _SHARD_BLOCK,
    corpus_mix_weighted,
    mixture_budget_frame,
    pack_sequences,
    training_order,
    write_training_shards,
)
from gmall_flink_parent_spark.registry import cached, release_caches
from gmall_flink_parent_spark.sources.tables import fan_out, load_table


def _check_mixture_store(
    spark: SparkSession,
    mix_store: DataFrame,
    weights: dict[str, float],
    mix_seed: str,
    sample: int = 64,
) -> None:
    """Refuse to build from a mixture store landed under different
    (weights, seed): replay the hash-decided mix for a BOUNDED sample
    of stored docs and require their stored epoch sets to match
    exactly. Per-doc independence makes the per-doc check exact — a
    doc's epochs depend only on (weights[source], seed, doc_id) — so a
    wrong seed flips essentially every upsampled doc's epoch pattern
    and a wrong weight flips its source's docs; 64 docs catch either
    with near-certainty while costing two tiny jobs, not a corpus
    pass. (A store CONSISTENT with (weights, seed) that was landed
    from a different corpus is caught downstream: the funnel joins it
    against the filter store's doc set.)"""
    probe = mix_store.select("doc_id", "source").distinct().limit(sample)
    probe_rows = probe.collect()
    if not probe_rows:
        return  # empty store: nothing mixes in, nothing to contradict
    replay = {
        (r["doc_id"], r["source"], r["epoch"])
        for r in corpus_mix_weighted(
            spark.createDataFrame(probe_rows, probe.schema), weights, mix_seed
        ).collect()
    }
    ids = {r["doc_id"] for r in probe_rows}
    stored = {
        (r["doc_id"], r["source"], r["epoch"])
        for r in mix_store.filter(F.col("doc_id").isin(ids)).collect()
    }
    if stored != replay:
        raise ValueError(
            "mixture store is inconsistent with the requested (weights, "
            f"seed={mix_seed!r}): a replay of {len(ids)} stored docs "
            "produced different epoch sets — rebuild the store or pass "
            "the weights/seed it was landed with"
        )


def build_pretraining_dataset(
    spark: SparkSession,
    sf_dir: str | None,
    out_path: str,
    weights: dict[str, float] | None = None,
    seed: str = "pretrain-v1",
    bench_mod: int = _BENCH_MOD,
    pack_cap: int = _PACK_CAP,
    block: int = _SHARD_BLOCK,
    corpus: DataFrame | None = None,
    keep_docs: DataFrame | None = None,
    stores_path: str | None = None,
    span_rewrite: bool = False,
    expectations: list | None = None,
) -> dict:
    """Curate → decontaminate → mix → order → pack → shard, returning
    the build manifest.

    ``weights`` maps source → mixture weight (epoched upsample ≥ 1,
    fractional downsample < 1); ``None`` derives the plan from
    ``mixture_budget_weights`` (temperature-smoothed token budgeting) —
    a |sources|-row collect, the same O(1)-bounded driver read the
    weight planner itself is. ``bench_mod`` selects the stand-in
    benchmark slice (``doc_id % bench_mod == 0``), which is both the
    decontamination reference AND excluded from training, matching
    ``contamination_4gram``'s convention.

    The manifest records the funnel (corpus → quality-kept →
    decontaminated), the stream totals read back from the WRITTEN
    shards (count/sequences/tokens verified post-write, not assumed),
    and the (weights, seed, cap, block) tuple that makes the build
    reproducible.

    The corpus comes from ``sf_dir``'s parquet documents table, or —
    when ``corpus`` is given — from ANY frame carrying the documents
    contract (``doc_id, text, lang, source, n_chars``), e.g. the clean
    side of ``sources.documents.read_documents_jsonl`` →
    ``split_corrupt``: the JSONL front door and the parquet table run
    the identical build through the same frame-level stage cores.

    ``keep_docs`` plugs ANY selection head into the funnel: a
    (doc_id, …) frame whose rows are the documents allowed to train —
    a DSIR keep-list (``dsir_importance_weights`` filtered on
    ``dsir_keep``), a domain cap (``per_source_cap``), a dedup cluster
    keep-list — intersected after quality/benchmark/decontamination,
    with the drop counted in the manifest (``n_selection_dropped``).

    ``stores_path`` is the ZERO-RE-SCAN fast path: a directory whose
    ``filter`` / ``shingles`` / ``mixture`` / ``profile`` subdirs were
    landed by ``curation_ingest_job`` (``filter_path=…/filter`` etc.)
    over the same corpus, with the mixture store mixed under THIS
    build's ``weights`` and mix seed ``f"{seed}:mix"``. The build then
    never reads document text: the verdict closes over stored filter
    signals (``filter_verdict_frame``), decontamination probes stored
    shingles, token counts come from the profile store, and the
    mixture store replaces the re-mix (per-doc hash decisions make
    store-rows ∩ kept-docs ≡ mixing the kept docs — the any-split
    property). A bounded sample of stored mixture rows is REPLAYED
    against (weights, seed) and the build refuses to run on a
    mismatched store, because a silent mismatch would produce a valid-
    looking but differently-mixed dataset. Explicit ``weights`` are
    required (the budget planner needs document text). The result is
    byte-identical to the scan-backed build (pinned at sf0.001/sf0.01)
    and the manifest records which path ran (``built_from``).

    ``expectations`` is the admission gate: a list of
    ``functions.expectations.Expectation`` checks (e.g. the
    ``DOCUMENT_CHECKS`` suite) evaluated over the corpus frame in one
    scan BEFORE any other stage runs. Any failing check raises with the
    failing names and nothing is written; on pass, the full report rows
    land in the manifest (``expectations``) so the dataset ships with
    the evidence it was admitted on. Scan-path only — a stores build
    never reads the corpus, so its suite belongs at ingest.

    ``span_rewrite=True`` runs corpus-wide repeated-span removal
    (``span_dedup_rewrite``'s surgery) as a build stage: every
    document's token budget becomes its REWRITTEN count — the tokens
    left after spans occurring ≥ 3 times corpus-wide are cut — so the
    packed stream prices documents at their cleaned length (the shard
    store carries token counts, never text; the counts-only form
    ``span_rewrite_token_counts`` is pinned token-equal to the full
    text rewrite). A document emptied by the surgery leaves the funnel
    as its own counted stage (``n_empty_after_rewrite``), keeping
    sample indices contiguous; the manifest totals the spans removed
    from surviving docs (``n_spans_removed``). Works on both paths: the
    scan path spans the corpus in-build, the stores path reads the
    ``spans`` subdir (``curation_ingest_job`` ``span_path=…/spans``)
    with the footer-decided broadcast gate.
    """
    # The build's own caches (flags, the span frame, rewrite_counts)
    # live for this block: training_order's query scope releases only
    # query-lifetime caches, and the mix, pack join and span total
    # still read these after it runs.
    with ExitStack() as hold:
        if stores_path is not None:
            if weights is None:
                raise ValueError(
                    "stores_path builds need explicit weights matching the "
                    "mixture store (the budget planner reads document text)"
                )
            if expectations is not None:
                raise ValueError(
                    "the expectations admission gate validates the corpus "
                    "frame, which a stores build never reads — run the suite "
                    "at ingest (over the corpus feeding curation_ingest_job) "
                    "or on the scan path"
                )
            if corpus is not None:
                raise ValueError("pass either corpus or stores_path, not both")
            flags_store = spark.read.parquet(f"{stores_path}/filter")
            verdict = filter_verdict_frame(flags_store).select("doc_id", "keep")
            sh = spark.read.parquet(f"{stores_path}/shingles").select("doc_id", "g")
            toks = spark.read.parquet(f"{stores_path}/profile").select(
                "doc_id", "n_tokens"
            )
            mix_store = spark.read.parquet(f"{stores_path}/mixture").select(
                "doc_id", "source", "epoch"
            )
            _check_mixture_store(spark, mix_store, weights, f"{seed}:mix")
            docs = None
            if span_rewrite:
                from gmall_flink_parent_spark.functions.spans import (
                    span_rewrite_token_counts,
                )
                from gmall_flink_parent_spark.streaming.store import store_row_count

                rewrite_counts = span_rewrite_token_counts(
                    hold.enter_context(
                        cached(
                            spark.read.parquet(f"{stores_path}/spans").select(
                                "doc_id", "pos", "span", "sk"
                            )
                        )
                    ),
                    row_count=store_row_count(f"{stores_path}/spans"),
                )
        else:
            docs = corpus if corpus is not None else load_table(spark, sf_dir, "documents")
            if expectations is not None:
                # admission control: one corpus scan, k report rows; a failed
                # check halts the build BEFORE any downstream stage pays for
                # the corpus, and the report lands in the manifest either way
                from gmall_flink_parent_spark.functions.expectations import (
                    expectation_report,
                )

                expectation_rows = [
                    r.asDict() for r in expectation_report(docs, expectations).collect()
                ]
                failed = [r["check_name"] for r in expectation_rows if r["status"] != "pass"]
                if failed:
                    raise ValueError(
                        "corpus failed admission expectations: " + ", ".join(failed)
                    )
            if weights is None:
                plan = mixture_budget_frame(docs).collect()
                weights = {r["source"]: float(r["mix_weight"]) for r in plan}
            verdict = corpus_filter_frame(fan_out(spark, docs)).select("doc_id", "keep")
            sh = contamination_shingles(docs)
            if span_rewrite:
                from gmall_flink_parent_spark.functions.spans import (
                    span_frame,
                    span_rewrite_token_counts,
                )

                rewrite_counts = span_rewrite_token_counts(
                    hold.enter_context(cached(span_frame(fan_out(spark, docs))))
                )
            else:
                toks = docs.select(
                    "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
                )
        if span_rewrite:
            # three consumers (funnel flag, removed-span total, pack join)
            rewrite_counts = hold.enter_context(cached(rewrite_counts))
            toks = rewrite_counts.select("doc_id", "n_tokens")

        # --- funnel: quality verdict ∧ not benchmark ∧ not contaminated
        #     (∧ selection keep-list, when one is plugged in
        #      ∧ nonempty-after-rewrite, when the span surgery is on)
        bench = sh.filter(F.col("doc_id") % bench_mod == 0).select("g").distinct()
        contaminated = contamination_counts(
            sh.filter(F.col("doc_id") % bench_mod != 0), bench
        ).select("doc_id")
        flagged = verdict.withColumn("is_bench", F.col("doc_id") % bench_mod == 0).join(
            contaminated.withColumn("is_contam", F.lit(True)), "doc_id", "left"
        )
        if keep_docs is not None:
            flagged = flagged.join(
                keep_docs.select("doc_id").distinct().withColumn("in_sel", F.lit(True)),
                "doc_id",
                "left",
            )
        if span_rewrite:
            # a doc whose every span is cut has no tokens to train on — it
            # leaves the funnel HERE (counted), not at the pack join, so
            # sample indices stay contiguous
            flagged = flagged.join(
                rewrite_counts.filter(F.col("n_tokens") > 0)
                .select("doc_id")
                .withColumn("has_text", F.lit(True)),
                "doc_id",
                "left",
            )
        flags = hold.enter_context(cached(flagged))
        trainable = F.col("keep") & ~F.col("is_bench")
        survives_decontam = trainable & F.col("is_contam").isNull()
        in_sel = F.col("in_sel").isNotNull() if keep_docs is not None else F.lit(True)
        nonempty = F.col("has_text").isNotNull() if span_rewrite else F.lit(True)
        final_keep = survives_decontam & in_sel & nonempty
        funnel = flags.agg(
            F.count(F.lit(1)).alias("n_corpus"),
            F.sum(F.col("keep").cast("long")).alias("n_quality_kept"),
            F.sum(trainable.cast("long")).alias("n_trainable"),
            F.sum((trainable & F.col("is_contam").isNotNull()).cast("long")).alias(
                "n_contaminated"
            ),
            F.sum((survives_decontam & ~in_sel).cast("long")).alias(
                "n_selection_dropped"
            ),
            F.sum((survives_decontam & in_sel & ~nonempty).cast("long")).alias(
                "n_empty_after_rewrite"
            ),
            F.sum(final_keep.cast("long")).alias("n_final"),
        ).collect()[0]

        # --- assemble: mix (hash-decided) → order (one range sort) → pack
        kept = flags.filter(final_keep).select("doc_id")
        if stores_path is not None:
            # per-doc independence: the store's mixed copies filtered to
            # kept docs ≡ mixing the kept docs (the any-split property the
            # mixture_job family rests on)
            mixed = mix_store.join(kept, "doc_id", "left_semi")
        else:
            mix_in = docs.select("doc_id", "source").join(kept, "doc_id", "left_semi")
            mixed = corpus_mix_weighted(mix_in, weights, f"{seed}:mix")
        stream = training_order(mixed, f"{seed}:order")
        packed = pack_sequences(stream.join(toks, "doc_id"), cap=pack_cap)
        write_training_shards(packed, out_path, block=block)
        n_spans_removed = 0
        if span_rewrite:  # spans cut from the docs that made the stream
            n_spans_removed = int(
                rewrite_counts.join(kept, "doc_id", "left_semi")
                .agg(F.sum("n_removed_spans"))
                .collect()[0][0]
                or 0
            )
    release_caches()

    # --- totals from the WRITTEN store: the manifest describes what is
    # on disk, not what the plan intended to put there.
    totals = (
        spark.read.parquet(out_path)
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            (F.max("seq_id") + 1).alias("n_sequences"),
            F.sum("n_tokens").alias("n_stream_tokens"),
        )
        .collect()[0]
    )
    return {
        "out_path": out_path,
        "built_from": "stores" if stores_path is not None else "scan",
        "expectations": expectation_rows if expectations is not None else None,
        "seed": seed,
        "weights": dict(sorted(weights.items())),
        "pack_cap": int(pack_cap),
        "shard_block": int(block),
        "bench_mod": int(bench_mod),
        "n_corpus": int(funnel["n_corpus"]),
        "n_quality_kept": int(funnel["n_quality_kept"]),
        "n_trainable": int(funnel["n_trainable"]),
        "n_contaminated": int(funnel["n_contaminated"]),
        "n_selection_dropped": int(funnel["n_selection_dropped"]),
        "span_rewrite": bool(span_rewrite),
        "n_empty_after_rewrite": int(funnel["n_empty_after_rewrite"]),
        "n_spans_removed": n_spans_removed,
        "n_final_docs": int(funnel["n_final"]),
        "n_samples": int(totals["n_samples"]),
        "n_sequences": int(totals["n_sequences"]) if totals["n_sequences"] is not None else 0,
        "n_stream_tokens": int(totals["n_stream_tokens"]) if totals["n_stream_tokens"] is not None else 0,
    }


def dataset_diff(spark: SparkSession, path_a: str, path_b: str) -> DataFrame:
    """Per-document membership diff between two WRITTEN training
    datasets (``build_pretraining_dataset`` outputs): one row per
    (doc_id, source) present in either build, with per-build sample
    multiplicities (a doc upsampled to 3 epochs counts 3), token
    totals, and a status — ``added`` / ``removed`` / ``reweighted`` /
    ``kept``.

    The dataset-versioning read: after changing a gate (a new keep
    list, a tightened quality threshold, a different mixture weight),
    this is "what actually changed on disk", computed from the shard
    stores themselves — not from manifests, which describe intent. At
    100 TB the cost is two shard-store scans reduced to doc grain
    (map-side combined) and one doc-grain full outer join; no text is
    read, because shard stores carry counts, never text.
    """
    def grain(path: str, side: str) -> DataFrame:
        return (
            spark.read.parquet(path)
            .groupBy("doc_id", "source")
            .agg(
                F.count(F.lit(1)).alias(f"n_samples_{side}"),
                F.sum("n_tokens").cast("long").alias(f"n_tokens_{side}"),
            )
        )

    a, b = grain(path_a, "a"), grain(path_b, "b")
    j = a.join(b, ["doc_id", "source"], "full_outer")
    na = F.coalesce(F.col("n_samples_a"), F.lit(0))
    nb = F.coalesce(F.col("n_samples_b"), F.lit(0))
    return j.select(
        "doc_id",
        "source",
        na.cast("long").alias("n_samples_a"),
        nb.cast("long").alias("n_samples_b"),
        F.coalesce(F.col("n_tokens_a"), F.lit(0)).cast("long").alias("n_tokens_a"),
        F.coalesce(F.col("n_tokens_b"), F.lit(0)).cast("long").alias("n_tokens_b"),
        F.when(na == 0, F.lit("added"))
        .when(nb == 0, F.lit("removed"))
        .when(na != nb, F.lit("reweighted"))
        .otherwise(F.lit("kept"))
        .alias("status"),
    )


def dataset_diff_summary(diff: DataFrame) -> dict:
    """Bounded rollup of ``dataset_diff``: doc and token deltas per
    status — the four-row answer a build report prints. One aggregate
    over the doc-grain diff; the collect is O(#statuses)."""
    rows = (
        diff.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_tokens_b") - F.col("n_tokens_a")).alias("token_delta"),
        )
        .collect()
    )
    return {
        r["status"]: {"n_docs": int(r["n_docs"]), "token_delta": int(r["token_delta"])}
        for r in rows
    }
