"""End-to-end build_pretraining_dataset: the one-call user API wiring
curate → decontaminate → mix → order → pack → shard. The stages are
individually oracle-backed; these tests pin the COMPOSITION — funnel
arithmetic, exclusion semantics, written-shard fidelity against the
freshly computed chain, and build reproducibility."""

from __future__ import annotations

from pyspark.sql import functions as F

from gmall_flink_parent_spark import plans  # noqa: F401  (import-order contract)
from gmall_flink_parent_spark.functions.curation import corpus_filter_pipeline
from gmall_flink_parent_spark.functions.mixture import read_training_slice
from gmall_flink_parent_spark.pipeline import build_pretraining_dataset


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_build_pretraining_dataset_end_to_end(spark, sf_dir, tmp_path):
    out = str(tmp_path / "pretrain")
    m = build_pretraining_dataset(spark, sf_dir, out, seed="t-e2e")

    # Funnel is monotone and consistent (no selection gate → 0 dropped).
    assert m["n_corpus"] >= m["n_quality_kept"] >= m["n_trainable"]
    assert m["n_selection_dropped"] == 0
    assert m["n_trainable"] == m["n_final_docs"] + m["n_contaminated"]
    assert m["n_final_docs"] > 0 and m["n_samples"] > 0
    assert m["n_sequences"] >= 1

    # The written stream IS the slice the loader reads: full-range
    # slice returns every sample exactly once, ids 0..n-1.
    sliced = read_training_slice(spark, out, 0, m["n_samples"])
    assert sliced.count() == m["n_samples"]
    idx = sliced.agg(
        F.min("sample_idx"), F.max("sample_idx"), F.countDistinct("sample_idx")
    ).collect()[0]
    assert tuple(idx) == (0, m["n_samples"] - 1, m["n_samples"])

    # Exclusion semantics: no benchmark-slice doc and no non-keep doc
    # ever reaches the stream.
    stream_docs = {r["doc_id"] for r in sliced.select("doc_id").distinct().collect()}
    assert not any(d % m["bench_mod"] == 0 for d in stream_docs)
    keep = {
        r["doc_id"]
        for r in corpus_filter_pipeline(spark, sf_dir)
        .filter(F.col("keep"))
        .select("doc_id")
        .collect()
    }
    assert stream_docs <= keep

    # Token accounting survives the write: stream tokens are the sum of
    # per-doc counts over the mixture (epochs counted).
    assert m["n_stream_tokens"] == sliced.agg(F.sum("n_tokens")).collect()[0][0]
    # Packing invariant on the written data: every offset < cap.
    assert sliced.filter(F.col("seq_offset") >= m["pack_cap"]).count() == 0


def test_build_is_reproducible(spark, sf_dir, tmp_path):
    """Same (corpus, weights, seed) → byte-identical stream on a second
    build into a different directory — the property a crashed build
    relies on."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    wts = {f"src{i}": (1.5, 0.7)[i % 2] for i in range(20)}
    ma = build_pretraining_dataset(spark, sf_dir, a, weights=wts, seed="t-repro")
    mb = build_pretraining_dataset(spark, sf_dir, b, weights=wts, seed="t-repro")
    assert {k: v for k, v in ma.items() if k != "out_path"} == {
        k: v for k, v in mb.items() if k != "out_path"
    }
    cols = ["sample_idx", "doc_id", "source", "epoch", "n_tokens", "seq_id", "seq_offset"]
    ra = _rows(read_training_slice(spark, a, 0, ma["n_samples"]).select(*cols))
    rb = _rows(read_training_slice(spark, b, 0, mb["n_samples"]).select(*cols))
    assert ra == rb


def test_build_from_jsonl_corpus_matches_parquet_build(spark, sf_dir, tmp_path):
    """The JSONL front door (`sources/documents.py`) feeds the SAME
    build as the parquet table: ingest the corpus from JSONL (with
    corrupt lines quarantined on the way in), run the one-call build on
    the clean frame, and require the manifest and the written stream to
    be byte-identical to the parquet-path build."""
    from gmall_flink_parent_spark.sources.documents import (
        read_documents_jsonl,
        split_corrupt,
    )

    corpus_dir = str(tmp_path / "corpus_jsonl")
    spark.read.parquet(f"{sf_dir}/documents.parquet").coalesce(2).write.json(corpus_dir)
    with open(f"{tmp_path}/corpus_jsonl/zz_bad.json", "w") as fh:
        fh.write('{"doc_id": 1, "text": unquoted}\n')  # parse failure
        fh.write('{"doc_id": null, "text": "no id"}\n')  # contract failure

    clean, quarantine = split_corrupt(read_documents_jsonl(spark, corpus_dir))
    assert quarantine.count() == 2

    wts = {f"src{i}": (1.5, 0.7)[i % 2] for i in range(20)}
    a, b = str(tmp_path / "from_jsonl"), str(tmp_path / "from_parquet")
    mj = build_pretraining_dataset(
        spark, None, a, weights=wts, seed="t-jsonl", corpus=clean
    )
    mp = build_pretraining_dataset(spark, sf_dir, b, weights=wts, seed="t-jsonl")
    assert {k: v for k, v in mj.items() if k != "out_path"} == {
        k: v for k, v in mp.items() if k != "out_path"
    }
    cols = ["sample_idx", "doc_id", "source", "epoch", "n_tokens", "seq_id", "seq_offset"]
    rj = _rows(read_training_slice(spark, a, 0, mj["n_samples"]).select(*cols))
    rp = _rows(read_training_slice(spark, b, 0, mp["n_samples"]).select(*cols))
    assert rj == rp


def test_build_with_selection_keep_list(spark, sf_dir, tmp_path):
    """Any selection head gates the build: with the DSIR keep-list
    plugged in, the written stream contains ONLY selected docs, the
    funnel counts the selection drop explicitly, and the manifest
    arithmetic closes (trainable = final + contaminated + dropped)."""
    keep = (
        plans.query_map()["dsir_importance_weights"](spark, sf_dir)
        .filter(F.col("dsir_keep"))
        .select("doc_id")
    )
    keep_ids = {r["doc_id"] for r in keep.collect()}
    assert keep_ids  # the gate must actually bite

    out = str(tmp_path / "sel")
    m = build_pretraining_dataset(
        spark, sf_dir, out, seed="t-sel", keep_docs=keep
    )
    assert m["n_selection_dropped"] > 0
    assert (
        m["n_trainable"]
        == m["n_final_docs"] + m["n_contaminated"] + m["n_selection_dropped"]
    )
    sliced = read_training_slice(spark, out, 0, m["n_samples"])
    stream_docs = {r["doc_id"] for r in sliced.select("doc_id").distinct().collect()}
    assert stream_docs and stream_docs <= keep_ids

    # Because mix decisions are per-doc hashes (a surviving doc's
    # keep/epoch depends only on its own id), the gated stream must be
    # the ungated stream minus the dropped docs, re-indexed — gating
    # cannot perturb any other document's mixture membership.
    m0 = build_pretraining_dataset(spark, sf_dir, str(tmp_path / "all"), seed="t-sel")
    full = read_training_slice(spark, str(tmp_path / "all"), 0, m0["n_samples"])
    want = {
        (r["doc_id"], r["epoch"])
        for r in full.collect()
        if r["doc_id"] in keep_ids
    }
    got = {(r["doc_id"], r["epoch"]) for r in sliced.collect()}
    assert got == want


def test_build_from_stores_matches_scan_build(spark, sf_dir, tmp_path):
    """The zero-re-scan build: stores landed by curation_ingest_job
    (filter signals, shingles, mixture, profile — two micro-batches)
    must drive a build whose manifest and written stream are
    byte-identical to the scan-backed build, with the manifest
    recording which path ran; a mixture store landed under a different
    seed must be REFUSED, and stores builds require explicit weights."""
    import pytest

    from gmall_flink_parent_spark.streaming.jobs import curation_ingest_job
    from gmall_flink_parent_spark.sources.tables import load_table
    from tests.test_streaming import _two_file_stream

    wts = {f"src{i}": (1.5, 0.7)[i % 2] for i in range(20)}
    seed = "t-stores"
    root = tmp_path / "stores"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    stream = _two_file_stream(
        spark, tmp_path, docs, "doc_id", "doc_id long, text string, source string"
    )
    curation_ingest_job(
        stream,
        str(root / "profile"),
        str(root / "shingles"),
        str(root / "mixture"),
        str(tmp_path / "ck"),
        weights=wts,
        mix_seed=f"{seed}:mix",
        filter_path=str(root / "filter"),
        span_path=str(root / "spans"),
    ).awaitTermination(120)

    a, b = str(tmp_path / "from_stores"), str(tmp_path / "from_scan")
    ms = build_pretraining_dataset(
        spark, None, a, weights=wts, seed=seed, stores_path=str(root)
    )
    mp = build_pretraining_dataset(spark, sf_dir, b, weights=wts, seed=seed)
    assert ms["built_from"] == "stores" and mp["built_from"] == "scan"
    skip = {"out_path", "built_from"}
    assert {k: v for k, v in ms.items() if k not in skip} == {
        k: v for k, v in mp.items() if k not in skip
    }
    cols = ["sample_idx", "doc_id", "source", "epoch", "n_tokens", "seq_id", "seq_offset"]
    rs = _rows(read_training_slice(spark, a, 0, ms["n_samples"]).select(*cols))
    rp = _rows(read_training_slice(spark, b, 0, mp["n_samples"]).select(*cols))
    assert rs == rp and len(rs) == ms["n_samples"] > 0

    # a store mixed under a different seed must be refused loudly
    with pytest.raises(ValueError, match="inconsistent"):
        build_pretraining_dataset(
            spark,
            None,
            str(tmp_path / "bad"),
            weights=wts,
            seed="other-seed",
            stores_path=str(root),
        )
    # and different weights likewise
    with pytest.raises(ValueError, match="inconsistent"):
        build_pretraining_dataset(
            spark,
            None,
            str(tmp_path / "bad2"),
            weights={s: 3.0 for s in wts},
            seed=seed,
            stores_path=str(root),
        )
    # the budget planner needs text: stores builds require weights
    with pytest.raises(ValueError, match="weights"):
        build_pretraining_dataset(
            spark, None, str(tmp_path / "bad3"), seed=seed, stores_path=str(root)
        )

    # span surgery from the spans store: byte-identical to the
    # scan-backed rewrite build
    c, d = str(tmp_path / "rw_stores"), str(tmp_path / "rw_scan")
    mrs = build_pretraining_dataset(
        spark,
        None,
        c,
        weights=wts,
        seed=seed,
        stores_path=str(root),
        span_rewrite=True,
    )
    mrp = build_pretraining_dataset(
        spark, sf_dir, d, weights=wts, seed=seed, span_rewrite=True
    )
    assert mrs["n_spans_removed"] > 0
    assert {k: v for k, v in mrs.items() if k not in skip} == {
        k: v for k, v in mrp.items() if k not in skip
    }
    assert _rows(read_training_slice(spark, c, 0, mrs["n_samples"]).select(*cols)) == _rows(
        read_training_slice(spark, d, 0, mrp["n_samples"]).select(*cols)
    )


def test_build_with_span_rewrite_stage(spark, sf_dir, tmp_path):
    """The optional in-build span surgery: with span_rewrite=True the
    packed stream prices every doc at its REWRITTEN token count, the
    funnel counts removed spans and emptied docs, the manifest
    arithmetic still closes, and a rebuild is byte-identical."""
    from gmall_flink_parent_spark.functions.spans import (
        span_dedup_frame,
        span_frame,
    )
    from gmall_flink_parent_spark.registry import scoped_persist
    from gmall_flink_parent_spark.sources.tables import load_table

    wts = {f"src{i}": (1.5, 0.7)[i % 2] for i in range(20)}
    a = str(tmp_path / "rw")
    m = build_pretraining_dataset(
        spark, sf_dir, a, weights=wts, seed="t-rw", span_rewrite=True
    )
    assert m["span_rewrite"] is True
    assert m["n_spans_removed"] > 0  # the surgery must bite on this corpus
    assert (
        m["n_trainable"]
        == m["n_final_docs"]
        + m["n_contaminated"]
        + m["n_selection_dropped"]
        + m["n_empty_after_rewrite"]
    )

    # every stream sample's n_tokens is the doc's REWRITTEN count
    docs = load_table(spark, sf_dir, "documents")
    rewritten = {
        r["doc_id"]: (len(r["kept_text"].split(" ")) if r["kept_text"] else 0)
        for r in span_dedup_frame(scoped_persist(span_frame(docs))).collect()
    }
    sliced = read_training_slice(spark, a, 0, m["n_samples"]).collect()
    assert sliced
    assert all(r["n_tokens"] == rewritten[r["doc_id"]] for r in sliced)
    assert all(r["n_tokens"] > 0 for r in sliced)

    # a plain build prices docs at raw length — the stage must have
    # actually changed the stream economics for some doc
    m0 = build_pretraining_dataset(
        spark, sf_dir, str(tmp_path / "plain"), weights=wts, seed="t-rw"
    )
    assert m0["span_rewrite"] is False and m0["n_spans_removed"] == 0
    assert m["n_stream_tokens"] < m0["n_stream_tokens"]

    # byte-identical rebuild
    b = str(tmp_path / "rw2")
    m2 = build_pretraining_dataset(
        spark, sf_dir, b, weights=wts, seed="t-rw", span_rewrite=True
    )
    assert {k: v for k, v in m.items() if k != "out_path"} == {
        k: v for k, v in m2.items() if k != "out_path"
    }
    cols = ["sample_idx", "doc_id", "source", "epoch", "n_tokens", "seq_id", "seq_offset"]
    assert _rows(read_training_slice(spark, a, 0, m["n_samples"]).select(*cols)) == _rows(
        read_training_slice(spark, b, 0, m2["n_samples"]).select(*cols)
    )


def test_filter_store_serves_corpus_verdict(spark, sf_dir, tmp_path):
    """The filter-signal store's verdict head: canonical election over
    stored per-doc facts (two micro-batches + compaction) must equal
    the one-shot corpus_filter_pipeline exactly."""
    from gmall_flink_parent_spark.sources.tables import load_table
    from gmall_flink_parent_spark.streaming.jobs import (
        corpus_filter_from_store,
        filter_store_job,
    )
    from gmall_flink_parent_spark.streaming.store import compact_fact_store
    from tests.test_streaming import _two_file_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stream = _two_file_stream(
        spark, tmp_path, docs, "doc_id", "doc_id long, text string"
    )
    out, ck = str(tmp_path / "filter"), str(tmp_path / "fck")
    filter_store_job(stream, out, ck).awaitTermination(120)

    want = _rows(corpus_filter_pipeline(spark, sf_dir))
    assert _rows(corpus_filter_from_store(spark, out)) == want
    compact_fact_store(spark, out, f"{ck}/filter_store")
    assert _rows(corpus_filter_from_store(spark, out)) == want


def test_external_classifier_model_end_to_end(spark, sf_dir, tmp_path):
    """A TRAINED quality model (any exported (bucket, weight) parquet —
    NOT the md5-derived stand-in) drives the whole curation surface:
    loaded through ``load_classifier_weights``, scored through the
    shared ``hash_classifier_frame`` core (exact integer sums verified
    against a pure-Python replay), calibrated through
    ``quality_sweep_frame``, and gating ``build_pretraining_dataset``
    via ``keep_docs=``. This is the day-one path of a real curation
    user; the md5 default stays the oracle-checked fixture."""
    import hashlib
    import math

    from gmall_flink_parent_spark.functions.quality import (
        _CLF_BUCKETS,
        hash_classifier_frame,
        load_classifier_weights,
        quality_sweep_frame,
    )
    from gmall_flink_parent_spark.sources.tables import load_table

    # "Trained" model: weights no md5 derivation could produce (odd
    # buckets strongly negative, every 7th bucket zeroed) — if the
    # default model leaked in anywhere, every assertion below flips.
    model_rows = [
        (b, 0 if b % 7 == 0 else (90 if b % 2 == 0 else -110))
        for b in range(_CLF_BUCKETS)
    ]
    wpath = str(tmp_path / "trained_model")
    spark.createDataFrame(model_rows, "bucket long, w long").write.parquet(wpath)
    ext = load_classifier_weights(spark, wpath)

    # contract validation: a wrong-schema export fails loudly
    badpath = str(tmp_path / "bad_model")
    spark.createDataFrame([(1, 2)], "bucket long, weight long").write.parquet(badpath)
    try:
        load_classifier_weights(spark, badpath)
        raise AssertionError("wrong-schema model must be rejected")
    except ValueError as e:
        assert "w" in str(e)

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", "source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "source", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = hash_classifier_frame(tf, ("doc_id", "source"), weights=ext)
    rows = {r["doc_id"]: r for r in scored.collect()}

    # default model must NOT have been used
    default_rows = {
        r["doc_id"]: r for r in hash_classifier_frame(tf, ("doc_id", "source")).collect()
    }
    assert any(
        rows[d]["clf_margin"] != default_rows[d]["clf_margin"] for d in rows
    )

    # pure-Python replay of the scoring contract on a sample of docs
    weights = {b: w for b, w in model_rows}
    sample = docs.filter(F.col("doc_id") < 30).collect()
    assert sample
    for doc in sample:
        toks = doc["text"].split(" ")
        w_sum = sum(
            weights[int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % _CLF_BUCKETS]
            for t in toks
        )
        got = rows[doc["doc_id"]]
        assert got["n_tokens"] == len(toks)
        margin = w_sum / (128.0 * len(toks))
        assert got["clf_margin"] == round(margin, 6)
        assert got["clf_score"] == round(1.0 / (1.0 + math.exp(-4.0 * margin)), 6)
        assert got["clf_keep"] == (w_sum > 0)

    # calibration sweep over the trained scores: per-source keep counts
    # must agree with direct recomputation from the scored frame
    sweep = {
        (r["source"], r["threshold"]): (r["n_docs"], r["n_keep"])
        for r in quality_sweep_frame(scored).collect()
    }
    assert sweep
    by_source: dict[str, list[float]] = {}
    for r in rows.values():
        by_source.setdefault(r["source"], []).append(r["clf_score"])
    for (src, thr), (n_docs, n_keep) in sweep.items():
        scores = by_source[src]
        assert n_docs == len(scores)
        assert n_keep == sum(1 for s in scores if s >= thr)

    # the trained verdict gates the one-call build
    keep = scored.filter(F.col("clf_keep")).select("doc_id")
    keep_ids = {r["doc_id"] for r in keep.collect()}
    assert keep_ids and len(keep_ids) < len(rows)  # the gate must bite
    out = str(tmp_path / "ext_gated")
    m = build_pretraining_dataset(spark, sf_dir, out, seed="t-ext", keep_docs=keep)
    assert m["n_selection_dropped"] > 0
    sliced = read_training_slice(spark, out, 0, m["n_samples"])
    stream_docs = {r["doc_id"] for r in sliced.select("doc_id").distinct().collect()}
    assert stream_docs and stream_docs <= keep_ids


def test_build_with_expectations_gate(spark, sf_dir, tmp_path):
    """Admission control composes into the one-call build: a passing
    suite lets the build run and ships the evidence (report rows in the
    manifest); a failing suite halts BEFORE anything is written; the
    stores path refuses the gate outright (it never reads the corpus)."""
    import pytest as _pytest

    from gmall_flink_parent_spark.functions.expectations import (
        DOCUMENT_CHECKS,
        in_band,
    )

    out = str(tmp_path / "gated")
    m = build_pretraining_dataset(
        spark, sf_dir, out, seed="t-gate", expectations=DOCUMENT_CHECKS
    )
    assert m["n_samples"] > 0
    report = m["expectations"]
    assert len(report) == len(DOCUMENT_CHECKS)
    assert all(r["status"] == "pass" for r in report)
    assert {r["check_name"] for r in report} == {c.name for c in DOCUMENT_CHECKS}

    bad = [in_band("count(*)", lambda: F.count(F.lit(1)), "count(*)", -2.0, -1.0)]
    out2 = str(tmp_path / "halted")
    with _pytest.raises(ValueError, match="admission expectations: count"):
        build_pretraining_dataset(
            spark, sf_dir, out2, seed="t-gate", expectations=bad
        )
    import os

    assert not os.path.exists(out2), "failed admission must write nothing"

    with _pytest.raises(ValueError, match="stores build never reads"):
        build_pretraining_dataset(
            spark,
            None,
            str(tmp_path / "x"),
            weights={"src0": 1.0},
            stores_path=str(tmp_path / "nostores"),
            expectations=DOCUMENT_CHECKS,
        )


def test_dataset_diff_between_two_builds(spark, sf_dir, tmp_path):
    """dataset_diff answers "what changed on disk" between two builds:
    docs gated out of B are `removed`, docs whose source weight doubled
    are `reweighted` with exactly doubled sample multiplicity, and
    everything else is `kept` with identical counts; the summary rollup
    agrees with the per-row frame."""
    from gmall_flink_parent_spark.pipeline import dataset_diff, dataset_diff_summary
    from gmall_flink_parent_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sources = [r["source"] for r in docs.select("source").distinct().collect()]
    wts = {s: 1.0 for s in sources}
    a_path, b_path = str(tmp_path / "a"), str(tmp_path / "b")
    build_pretraining_dataset(spark, sf_dir, a_path, weights=wts, seed="t-diff")

    in_a = spark.read.parquet(a_path)
    dropped = [
        r["doc_id"]
        for r in in_a.filter(F.col("source") != "src1")
        .select("doc_id")
        .distinct()
        .limit(3)
        .collect()
    ]
    assert len(dropped) == 3
    wb = dict(wts)
    wb["src1"] = 2.0
    keep = docs.filter(~F.col("doc_id").isin(dropped)).select("doc_id")
    build_pretraining_dataset(
        spark, sf_dir, b_path, weights=wb, seed="t-diff", keep_docs=keep
    )

    rows = {r["doc_id"]: r for r in dataset_diff(spark, a_path, b_path).collect()}
    for d in dropped:
        assert rows[d]["status"] == "removed"
        assert rows[d]["n_samples_b"] == 0
    n_reweighted = n_kept = 0
    for d, r in rows.items():
        if r["source"] == "src1" and r["n_samples_a"] > 0 and r["n_samples_b"] > 0:
            assert r["status"] == "reweighted"
            assert r["n_samples_b"] == 2 * r["n_samples_a"]
            n_reweighted += 1
        elif d not in dropped:
            assert r["status"] == "kept", r
            assert r["n_samples_b"] == r["n_samples_a"]
            assert r["n_tokens_b"] == r["n_tokens_a"]
            n_kept += 1
    assert n_reweighted > 0 and n_kept > 0

    summary = dataset_diff_summary(dataset_diff(spark, a_path, b_path))
    assert summary["removed"]["n_docs"] == 3
    assert summary["reweighted"]["n_docs"] == n_reweighted
    assert summary["kept"]["n_docs"] == n_kept
    assert summary["kept"]["token_delta"] == 0
    assert summary["removed"]["token_delta"] < 0 < summary["reweighted"]["token_delta"]


def test_build_holds_its_caches_until_the_shards_are_written(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The build's own caches — the funnel flags, the span frame and
    the rewritten token counts — are read again after ``training_order``
    runs (the mix, the pack join, the removed-span total).
    ``training_order``'s query scope must not release them before
    ``write_training_shards`` returns, or those reads re-run their
    lineage."""
    from gmall_flink_parent_spark import pipeline, registry

    registry.release_caches()  # start from an empty pool
    early: list = []
    written: list = []
    real_release, real_write = registry._release, pipeline.write_training_shards

    def spy_release(owned):
        with registry._LOCK:
            drop = [df for t, dfs in registry._LIVE_CACHES.items() if owned(t) for df in dfs]
        if not written:
            early.extend(drop)
        real_release(owned)

    def spy_write(*args, **kwargs):
        out = real_write(*args, **kwargs)
        written.append(True)
        return out

    monkeypatch.setattr(registry, "_release", spy_release)
    monkeypatch.setattr(pipeline, "write_training_shards", spy_write)
    wts = {f"src{i}": (1.5, 0.7)[i % 2] for i in range(20)}
    m = build_pretraining_dataset(
        spark, sf_dir, str(tmp_path / "rw"), weights=wts, seed="t-hold", span_rewrite=True
    )
    assert written and m["n_spans_removed"] > 0
    build_frames = [
        df.columns
        for df in early
        if {"is_bench"} <= set(df.columns)  # flags
        or {"pos", "span"} <= set(df.columns)  # the span frame
        or {"n_removed_spans"} <= set(df.columns)  # rewrite_counts
    ]
    assert not build_frames, build_frames
