"""Property-based tests (hypothesis) for operators whose invariants are
stronger than any single fixture: sessionization and the dedup keep-one
contract hold for *every* input, not just the test tables."""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

GAP_US = 1_800_000_000  # 30 min, mirrors operators/windows.py::sessionize

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),  # user_id (collisions intended)
        st.integers(min_value=0, max_value=6 * 3600),  # offset seconds
        st.integers(min_value=0, max_value=100),  # value
    ),
    min_size=1,
    max_size=40,
)


def _sessionize_frame(spark, rows):
    base = pd.Timestamp("2024-06-01 00:00:00")
    pdf = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "user_id": [r[0] for r in rows],
            "ts": [base + pd.Timedelta(seconds=r[1]) for r in rows],
            "value": [float(r[2]) for r in rows],
        }
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    df = spark.createDataFrame(pdf)
    # same definition as operators/windows.py::sessionize, over this frame
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gap = us - F.lag(us).over(w)
    is_new = F.when(gap.isNull() | (gap > GAP_US), 1).otherwise(0)
    sess = F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        df.withColumn("session_seq", sess)
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=events_strategy)
def test_sessionize_invariants(spark, rows):
    """For any event set: sessions partition the events of each user;
    consecutive sessions of a user are separated by more than the gap;
    no session spans a silent stretch longer than n_events can allow."""
    out = _sessionize_frame(spark, rows).collect()
    per_user_events: dict[int, int] = {}
    for uid, _, _ in [(r[0], r[1], r[2]) for r in rows]:
        per_user_events[uid] = per_user_events.get(uid, 0) + 1
    # partition property: session event counts sum to user event counts
    got_counts: dict[int, int] = {}
    for r in out:
        got_counts[r["user_id"]] = got_counts.get(r["user_id"], 0) + r["n_events"]
    assert got_counts == per_user_events
    # gap property: sessions of one user, ordered by start, are > gap apart
    by_user: dict[int, list] = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    for sessions in by_user.values():
        sessions.sort(key=lambda r: r["session_start"])
        for a, b in zip(sessions, sessions[1:]):
            gap_us = (b["session_start"] - a["session_end"]).total_seconds() * 1e6
            assert gap_us > GAP_US, (a, b)
        for s in sessions:
            assert s["session_start"] <= s["session_end"]


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    n_nodes=st.integers(min_value=1, max_value=14),
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=13),
            st.integers(min_value=0, max_value=13),
        ),
        min_size=0,
        max_size=24,
    ),
)
def test_connected_components_match_union_find(spark, n_nodes, edges):
    """For any graph: pointer-jumping min-label propagation produces
    exactly the union-find components, labeled by min node id."""
    from gmall_flink_parent_spark.functions.dedup import connected_components

    edges = [(a % n_nodes, b % n_nodes) for a, b in edges if a % n_nodes != b % n_nodes]
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "doc_id long")
    pairs = spark.createDataFrame(
        edges or [(0, 0)], "doc_id_a long, doc_id_b long"
    ).filter(F.col("doc_id_a") != F.col("doc_id_b"))
    got = {
        r["doc_id"]: r["label"] for r in connected_components(nodes, pairs).collect()
    }
    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    comp: dict[int, list[int]] = {}
    for i in range(n_nodes):
        comp.setdefault(find(i), []).append(i)
    want = {i: min(members) for members in comp.values() for i in members}
    assert got == want


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=12), min_size=1, max_size=25
    )
)
def test_dedup_exact_keep_one_property(spark, texts):
    """For any corpus: dedup_exact keeps exactly one doc per normalized
    content, the lowest doc_id, and copy counts sum to the corpus size."""
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)
    out = (
        df.groupBy(F.md5(F.lower(F.trim(F.col("text")))).alias("fp"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .collect()
    )
    import hashlib

    want: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        key = hashlib.md5(t.strip().lower().encode()).hexdigest()
        want.setdefault(key, []).append(i)
    assert {r["fp"]: (r["keep_doc_id"], r["n_copies"]) for r in out} == {
        k: (min(v), len(v)) for k, v in want.items()
    }


@settings(max_examples=200, deadline=None)
@given(
    sig=st.integers(min_value=0, max_value=(1 << 32) - 1),
    flip_bits=st.sets(st.integers(min_value=0, max_value=31), min_size=0, max_size=3),
)
def test_simhash_probe_tables_complete_for_hamming_3(sig, flip_bits):
    """Pigeonhole completeness of the SimHash candidate join: ANY pair
    within Hamming distance 3 shares at least one of the 4 8-bit blocks,
    so the probe equi-join can never miss a qualifying pair."""
    from gmall_flink_parent_spark.functions.dedup import (
        HAMMING_THRESHOLD,
        SIMHASH_BLOCK_BITS,
        SIMHASH_N_BLOCKS,
    )

    assert HAMMING_THRESHOLD < SIMHASH_N_BLOCKS  # the pigeonhole precondition
    other = sig
    for b in flip_bits:
        other ^= 1 << b
    assert bin(sig ^ other).count("1") <= HAMMING_THRESHOLD
    mask = (1 << SIMHASH_BLOCK_BITS) - 1
    blocks_equal = [
        (sig >> (SIMHASH_BLOCK_BITS * i)) & mask
        == (other >> (SIMHASH_BLOCK_BITS * i)) & mask
        for i in range(SIMHASH_N_BLOCKS)
    ]
    assert any(blocks_equal), (hex(sig), hex(other))


@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    payload=st.binary(min_size=0, max_size=200),
    png_filter=st.integers(min_value=0, max_value=4),
    png_level=st.sampled_from([0, 1, 6, 9]),
)
def test_media_codec_roundtrip_property(payload, png_filter, png_level):
    """For ANY byte content: encode_bmp/encode_wav/encode_png produce
    files whose real parse recovers exactly the embedded pixel/sample
    bytes — decode must agree with direct byte math on the original
    content, for every PNG scanline filter and compression level."""
    from gmall_flink_parent_spark.functions.multimodal import (
        BMP_PIXEL_BYTES,
        WAV_DATA_BYTES,
        decode_media,
        encode_bmp,
        encode_png,
        encode_wav,
        sample_frames,
    )

    px = (payload * 48)[:BMP_PIXEL_BYTES] if payload else b"\x00" * BMP_PIXEL_BYTES
    bmp = encode_bmp(px)
    got = decode_media(bmp, "image/bmp")
    assert got == {
        "n_units": 16,
        "first_unit": px[0],
        "unit_sum_mod": sum(px) % 997,
    }
    assert b"".join(sample_frames(bmp, "image/bmp")) == px

    png = encode_png(px, filter_type=png_filter, level=png_level)
    got = decode_media(png, "image/png")
    assert got == {
        "n_units": 16,
        "first_unit": px[0],
        "unit_sum_mod": sum(px) % 997,
    }
    assert b"".join(sample_frames(png, "image/png")) == px

    data = (payload * 64)[: WAV_DATA_BYTES] if payload else b"\x00" * WAV_DATA_BYTES
    wav = encode_wav(data)
    got = decode_media(wav, "audio/wav")
    assert got["n_units"] == WAV_DATA_BYTES // 2
    assert got["first_unit"] == int.from_bytes(data[0:2], "little", signed=True)
    assert got["unit_sum_mod"] == sum(data) % 997
    assert b"".join(sample_frames(wav, "audio/wav")) == data


@settings(max_examples=100, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    doc_id=st.integers(min_value=0, max_value=10**9),
    text=st.text(min_size=0, max_size=300),
)
def test_payload_routing_mirror_property(doc_id, text):
    """build_payload_bytes (the Python mirror of the JVM construction)
    always produces a payload its own mime can decode, and short texts
    never route to a media mime."""
    from gmall_flink_parent_spark.functions.multimodal import (
        MIN_MEDIA_BYTES,
        build_payload_bytes,
        decode_media,
    )

    payload, mime = build_payload_bytes(doc_id, text)
    if len(text.encode("utf-8")) < MIN_MEDIA_BYTES:
        assert mime == "text/plain"
    feats = decode_media(payload, mime)
    assert feats["n_units"] >= 0 and 0 <= feats["unit_sum_mod"] < 997


@settings(max_examples=3, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(
                [
                    "the quick brown fox jumps over a lazy dog",
                    "the quick brown fox jumps over the lazy dog",
                    "pack my box with five dozen liquor jugs now",
                    "sphinx of black quartz judge my vow today ok",
                ]
            ),
            st.integers(min_value=0, max_value=3),  # batch assignment
        ),
        min_size=2,
        max_size=12,
    )
)
def test_dedup_incremental_any_split_property(spark, docs):
    """For ANY corpus and ANY ordered batch split: the union of per-batch
    incremental pairs (store accumulating signatures batch by batch)
    equals the single-shot run over the whole corpus — no pair is lost
    at a batch boundary and none is double-emitted."""
    from gmall_flink_parent_spark.functions.dedup import (
        dedup_minhash_incremental,
        minhash_signatures,
    )

    rows = [(i, text) for i, (text, _) in enumerate(docs)]
    full = spark.createDataFrame(rows, "doc_id long, text string")
    want = {
        tuple(r) for r in dedup_minhash_incremental(minhash_signatures(full)).collect()
    }
    got: set = set()
    store = None
    for b in range(4):
        batch_rows = [
            (i, text) for i, (text, bb) in enumerate(docs) if bb == b
        ]
        if not batch_rows:
            continue
        sigs = minhash_signatures(
            spark.createDataFrame(batch_rows, "doc_id long, text string")
        )
        got |= {
            tuple(r) for r in dedup_minhash_incremental(sigs, store_sigs=store).collect()
        }
        store = sigs if store is None else store.unionByName(sigs)
    assert got == want


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    data=st.binary(min_size=1, max_size=96),
    geom=st.sampled_from([(8, 8, 1), (4, 4, 3), (16, 8, 1), (12, 4, 3)]),
)
def test_jpeg_roundtrip_property(data, geom):
    """For ANY pixel content and several geometries: baseline JPEG with
    a flat quantization table round-trips within DCT rounding error
    (gray <= 2 counts, RGB <= 4 via the YCbCr float transform), and the
    decoded geometry is exactly the declared one."""
    import numpy as np

    from gmall_flink_parent_spark.functions.jpeg import decode_jpeg, encode_jpeg

    w, h, ch = geom
    need = w * h * ch
    px = (data * (need // len(data) + 1))[:need]
    jpg = encode_jpeg(px, w, h, channels=ch)
    gw, gh, gc, out = decode_jpeg(jpg)
    assert (gw, gh, gc) == (w, h, ch)
    diff = np.abs(
        np.frombuffer(out, np.uint8).astype(int)
        - np.frombuffer(px, np.uint8).astype(int)
    )
    assert diff.max() <= (2 if ch == 1 else 4), diff.max()


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    data=st.binary(min_size=1, max_size=64),
    geom=st.sampled_from([(8, 8), (16, 8), (16, 16), (11, 13), (24, 9)]),
    mode=st.sampled_from(["420", "422"]),
    restart=st.sampled_from([0, 2]),
)
def test_jpeg_subsampled_roundtrip_property(data, geom, mode, restart):
    """For ANY content, both chroma-subsampled layouts, arbitrary
    (incl. odd) geometry, with and without restart framing: gray-content
    RGB (constant chroma — subsampling structurally lossless there)
    round-trips within DCT rounding, and the declared geometry is exact.
    Complements the hand-built 4:2:2 decoder pin with encoder-path
    breadth."""
    import numpy as np

    from gmall_flink_parent_spark.functions.jpeg import decode_jpeg, encode_jpeg

    w, h = geom
    need = w * h
    gray = (data * (need // len(data) + 1))[:need]
    px = bytes(b for g in gray for b in (g, g, g))  # gray content, 3-channel
    jpg = encode_jpeg(px, w, h, channels=3, subsample=mode, restart_interval=restart)
    gw, gh, gc, out = decode_jpeg(jpg)
    assert (gw, gh, gc) == (w, h, 3)
    diff = np.abs(
        np.frombuffer(out, np.uint8).astype(int)
        - np.frombuffer(px, np.uint8).astype(int)
    )
    assert diff.max() <= 4, (mode, restart, diff.max())


mix_docs_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=60),  # doc_id (unique below)
        st.integers(min_value=0, max_value=3),  # source index
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda t: t[0],
)
mix_weights_strategy = st.tuples(
    *[
        st.floats(min_value=0.0, max_value=3.0, allow_nan=False, width=32)
        for _ in range(4)
    ]
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=mix_docs_strategy, ws=mix_weights_strategy, split_at=st.integers(0, 60))
def test_corpus_mix_weighted_properties(spark, rows, ws, split_at):
    """For ANY corpus, ANY weights in [0,3], ANY split point: the
    mixture of the whole equals the union of the mixtures of the parts
    (no global state — the incremental-reprocessing guarantee), every
    doc appears floor(w) or floor(w)+1 times (never more, never fewer),
    and weight-0 sources are absent."""
    import math

    from gmall_flink_parent_spark.functions.curation import corpus_mix_weighted

    docs = spark.createDataFrame(
        [(d, f"s{i}") for d, i in rows], "doc_id long, source string"
    )
    weights = {f"s{i}": float(w) for i, w in enumerate(ws)}
    got = sorted(
        (r["doc_id"], r["source"], r["epoch"])
        for r in corpus_mix_weighted(docs, weights).collect()
    )

    lo = corpus_mix_weighted(docs.filter(F.col("doc_id") < split_at), weights)
    hi = corpus_mix_weighted(docs.filter(F.col("doc_id") >= split_at), weights)
    assert got == sorted(
        (r["doc_id"], r["source"], r["epoch"])
        for r in lo.unionByName(hi).collect()
    )

    from collections import Counter

    per_doc = Counter((d, s) for d, s, _ in got)
    for d, i in rows:
        w = weights[f"s{i}"]
        c = per_doc.get((d, f"s{i}"), 0)
        lo_c, frac = math.floor(w), w - math.floor(w)
        assert c in ({lo_c} if frac == 0 else {lo_c, lo_c + 1}), (d, w, c)


slice_stream_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),  # doc_id
        st.integers(min_value=1, max_value=50),  # n_tokens
    ),
    min_size=5,
    max_size=60,
    unique_by=lambda t: t[0],
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=slice_stream_strategy, block=st.integers(2, 9), cut=st.integers(1, 58))
def test_training_slices_tile_the_stream(spark, tmp_path_factory, rows, block, cut):
    """For ANY stream, ANY shard block size, ANY cut point: two
    adjacent slices [0, cut) and [cut, n) concatenate to exactly the
    full stream — no sample lost or duplicated at any shard boundary,
    the invariant a resumed training run's correctness rests on."""
    from gmall_flink_parent_spark.functions.curation import (
        read_training_slice,
        write_training_shards,
    )

    n = len(rows)
    cut = min(cut, n)
    stream = spark.createDataFrame(
        [(i, d, t) for i, (d, t) in enumerate(sorted(rows))],
        "sample_idx long, doc_id long, n_tokens long",
    )
    path = str(tmp_path_factory.mktemp("shards") / "s")
    write_training_shards(stream, path, block=block)

    def rows_of(df):
        return [
            (r["sample_idx"], r["doc_id"])
            for r in df.orderBy("sample_idx").collect()
        ]

    left = rows_of(read_training_slice(spark, path, 0, cut))
    right = rows_of(read_training_slice(spark, path, cut, n))
    assert left + right == rows_of(stream)
    assert len(left) == cut and len(right) == n - cut


centroid_batch_strategy = st.lists(
    st.tuples(
        st.integers(min_value=100, max_value=10_000),  # vec_id (>= k seeds)
        st.lists(
            st.floats(
                min_value=-1.0, max_value=1.0, allow_nan=False, width=32
            ),
            min_size=4,
            max_size=4,
        ),
    ),
    min_size=4,
    max_size=24,
    unique_by=lambda t: t[0],
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=centroid_batch_strategy, split_at=st.integers(0, 10_000))
def test_minibatch_centroid_update_conserves_counts(spark, rows, split_at):
    """For ANY embedding batch and ANY split of it into two sequential
    mini-batches: counts conserve exactly (Σ n_total = seeds + batch
    size) and the two-step update equals the one-step update whenever
    the split's first half moves no centroid (n_b = 0 cells pass
    through bit-identically). The count invariant is what the
    streaming store's totals rest on."""
    from gmall_flink_parent_spark.functions.similarity import (
        minibatch_centroid_update,
    )

    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    seeds = spark.createDataFrame(
        [
            (c, [float(c), 0.0, 0.0, 0.0], 1)
            for c in range(3)
        ],
        "cell int, centroid array<float>, n_total long",
    )
    one = minibatch_centroid_update(seeds, emb)
    total_one = sum(r["n_total"] for r in one.collect())
    assert total_one == 3 + len(rows)

    lo = emb.filter(F.col("vec_id") < split_at)
    hi = emb.filter(F.col("vec_id") >= split_at)
    two = minibatch_centroid_update(
        minibatch_centroid_update(seeds, lo), hi
    )
    total_two = sum(r["n_total"] for r in two.collect())
    assert total_two == 3 + len(rows)


contam_docs_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=500),  # doc_id
        st.lists(
            st.sampled_from("alpha beta gamma delta epsilon zeta".split()),
            min_size=4,
            max_size=12,
        ),
    ),
    min_size=2,
    max_size=20,
    unique_by=lambda t: t[0],
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=contam_docs_strategy, split_at=st.integers(0, 500))
def test_contamination_counts_accumulate_over_any_split(spark, rows, split_at):
    """For ANY corpus and ANY split into two ingest batches: per-doc
    contamination counts against a FIXED benchmark set are identical
    whether the corpus is probed in one shot or batch-by-batch — the
    per-doc-independence invariant `contamination_job`'s accumulation
    rests on."""
    from gmall_flink_parent_spark.functions.curation import (
        contamination_counts,
        contamination_shingles,
    )

    docs = spark.createDataFrame(
        [(d, " ".join(toks)) for d, toks in rows], "doc_id long, text string"
    )
    sh = contamination_shingles(docs)
    # fixed benchmark: the even-doc shingle set (stand-in for an eval corpus)
    bench = (
        sh.filter(F.col("doc_id") % 2 == 0).select("g").distinct()
    )
    probe = sh.filter(F.col("doc_id") % 2 != 0)
    whole = {
        (r["doc_id"], r["n_contaminated_ngrams"])
        for r in contamination_counts(probe, bench).collect()
    }
    parts = set()
    for cond in (F.col("doc_id") < split_at, F.col("doc_id") >= split_at):
        batch = docs.filter(cond)
        bsh = contamination_shingles(batch).filter(F.col("doc_id") % 2 != 0)
        parts |= {
            (r["doc_id"], r["n_contaminated_ngrams"])
            for r in contamination_counts(bsh, bench).collect()
        }
    assert whole == parts


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=contam_docs_strategy, split_at=st.integers(0, 500))
def test_doc_term_counts_accumulate_over_any_split(spark, rows, split_at):
    """For ANY corpus and ANY split into two ingest batches: the
    accumulated (doc_id, tok, tf) rows equal the one-shot count, and
    the unigram scoring head over the accumulated frame equals the
    one-shot head — the per-doc-independence + upward-mergeability
    invariant `vocab_store_job`'s accumulation rests on."""
    from gmall_flink_parent_spark.functions.curation import (
        doc_term_counts,
        unigram_logprob_frame,
    )

    docs = spark.createDataFrame(
        [(d, " ".join(toks)) for d, toks in rows], "doc_id long, text string"
    )
    whole_tf = doc_term_counts(docs)
    whole = {(r["doc_id"], r["tok"], r["tf"]) for r in whole_tf.collect()}
    parts_frames = [
        doc_term_counts(docs.filter(cond))
        for cond in (F.col("doc_id") < split_at, F.col("doc_id") >= split_at)
    ]
    acc = parts_frames[0].unionByName(parts_frames[1])
    parts = {(r["doc_id"], r["tok"], r["tf"]) for r in acc.collect()}
    assert whole == parts

    score_whole = {
        (r["doc_id"], r["n_tokens"], r["bits_per_token"])
        for r in unigram_logprob_frame(whole_tf).collect()
    }
    score_acc = {
        (r["doc_id"], r["n_tokens"], r["bits_per_token"])
        for r in unigram_logprob_frame(acc).collect()
    }
    assert score_whole == score_acc


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=contam_docs_strategy, split_at=st.integers(0, 500))
def test_filter_flags_accumulate_over_any_split(spark, rows, split_at):
    """For ANY corpus and ANY split into two ingest batches: the
    accumulated per-doc filter signals equal the one-shot computation,
    and the corpus-wide verdict (canonical election) over the
    accumulated frame equals the one-shot corpus_filter_frame — the
    invariant `filter_store_job`'s accumulation rests on."""
    from gmall_flink_parent_spark import plans  # noqa: F401 (import-order contract)
    from gmall_flink_parent_spark.functions.curation import (
        corpus_filter_frame,
        filter_flags_frame,
        filter_verdict_frame,
    )

    docs = spark.createDataFrame(
        [(d, " ".join(toks)) for d, toks in rows], "doc_id long, text string"
    )
    whole_flags = filter_flags_frame(docs)
    whole = {tuple(r) for r in whole_flags.collect()}
    acc = filter_flags_frame(
        docs.filter(F.col("doc_id") < split_at)
    ).unionByName(filter_flags_frame(docs.filter(F.col("doc_id") >= split_at)))
    assert {tuple(r) for r in acc.collect()} == whole
    assert {tuple(r) for r in filter_verdict_frame(acc).collect()} == {
        tuple(r) for r in corpus_filter_frame(docs).collect()
    }


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=contam_docs_strategy, split_at=st.integers(0, 500))
def test_span_frame_accumulates_over_any_split(spark, rows, split_at):
    """For ANY corpus and ANY split into two ingest batches: the
    accumulated (doc_id, pos, span, sk) rows equal the one-shot span
    scan, and the repeated-span REWRITE over the accumulated frame —
    whose cut set depends on CORPUS-WIDE frequencies — equals the
    one-shot head, through both broadcast-gate branches. The per-doc-
    independence + upward-mergeability invariant `span_store_job`'s
    accumulation rests on (span facts are stable; the repeated set is
    the moving verdict re-derived per run)."""
    from gmall_flink_parent_spark.functions.spans import (
        span_dedup_frame,
        span_frame,
    )

    docs = spark.createDataFrame(
        [(d, " ".join(toks)) for d, toks in rows], "doc_id long, text string"
    )
    whole_sh = span_frame(docs)
    whole = {tuple(r) for r in whole_sh.collect()}
    parts_frames = [
        span_frame(docs.filter(cond))
        for cond in (F.col("doc_id") < split_at, F.col("doc_id") >= split_at)
    ]
    acc = parts_frames[0].unionByName(parts_frames[1])
    assert {tuple(r) for r in acc.collect()} == whole

    def rewrite(sh, **kw):
        return {
            (r["doc_id"], r["n_spans"], r["n_removed"], r["kept_text"])
            for r in span_dedup_frame(sh, **kw).collect()
        }

    want = rewrite(whole_sh)
    assert rewrite(acc) == want
    # both gate branches, driven by an explicit row bound (no count())
    n = len(whole)
    assert rewrite(acc, row_count=n) == want  # broadcast branch
    assert rewrite(acc, max_broadcast_spans=0, row_count=n) == want  # AQE branch


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    a_toks=st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=30),
    b_toks=st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=30),
    run=st.lists(st.sampled_from("xyzw"), min_size=8, max_size=12),
    cut_a=st.integers(min_value=0, max_value=30),
    cut_b=st.integers(min_value=0, max_value=30),
)
def test_winnow_guarantee_shared_run_shares_fingerprint(
    spark, a_toks, b_toks, run, cut_a, cut_b
):
    """The winnowing cover guarantee (Schleimer et al. §2): two
    documents sharing a verbatim run of >= w + k - 1 tokens share at
    least one selected fingerprint, WHEREVER the run sits in either
    document. The planted run uses a disjoint alphabet so the guarantee
    is exercised on the run itself, not an accidental background match."""
    from gmall_flink_parent_spark.functions.spans import (
        _WIN_K,
        _WIN_W,
        winnow_fp_frame,
    )

    assert len(run) >= _WIN_W + _WIN_K - 1
    a = a_toks[: cut_a % (len(a_toks) + 1)] + run + a_toks[cut_a % (len(a_toks) + 1):]
    b = b_toks[: cut_b % (len(b_toks) + 1)] + run + b_toks[cut_b % (len(b_toks) + 1):]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": [" ".join(a), " ".join(b)]})
    )
    fp = winnow_fp_frame(df).toPandas()
    shared = set(fp[fp.doc_id == 0].fp) & set(fp[fp.doc_id == 1].fp)
    assert shared, "documents sharing a w+k-1 token run must share a fingerprint"


# --------------------------------------------------- per-source cap


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    sizes=st.lists(st.integers(min_value=0, max_value=60), min_size=1, max_size=5),
    n=st.integers(min_value=1, max_value=8),
    salt=st.integers(min_value=1, max_value=6),
)
def test_per_source_cap_two_phase_matches_single_window(spark, sizes, n, salt):
    """The two-phase grouped top-N must equal the naive single window
    for EVERY source-size skew, cap, and salt width — including sources
    smaller than the cap, a source holding nearly all rows (the hot
    domain the two-phase plan exists for), and salt groups that end up
    empty."""
    from pyspark.sql import Window

    from gmall_flink_parent_spark.functions.selection import (
        _h32,
        per_source_cap_frame,
    )

    rows = [
        (src_idx * 1000 + i, f"s{src_idx}")
        for src_idx, size in enumerate(sizes)
        for i in range(size)
    ]
    if not rows:
        return
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [r[0] for r in rows], "source": [r[1] for r in rows]})
    )

    got = {
        (r["source"], r["doc_id"], r["cap_rank"])
        for r in per_source_cap_frame(df, n=n, salt=salt).collect()
    }
    h = _h32(F.concat(F.lit("cap:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    want = {
        (r["source"], r["doc_id"], r["cap_rank"])
        for r in df.select("source", "doc_id", h.alias("h"))
        .withColumn("cap_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("cap_rank") <= n)
        .collect()
    }
    assert got == want


# ------------------------------------------------- perceptual hash


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(pixels=st.binary(min_size=48, max_size=48))
def test_ahash_invariant_across_codecs(pixels):
    """The perceptual hash is a function of the PIXELS, not the file:
    the same 48 pixel bytes wrapped as a BMP and as a PNG — two files
    sharing no bytes — must produce the identical aHash. (This is the
    property that makes the hash 'perceptual': re-encoded copies
    collide.) Also pins the kernel's integer decision rule on a hand
    case."""
    from gmall_flink_parent_spark.functions.multimodal import (
        ahash_value,
        encode_bmp,
        encode_png,
    )

    h_bmp = ahash_value(encode_bmp(pixels), "image/bmp")
    h_png = ahash_value(encode_png(pixels), "image/png")
    assert h_bmp == h_png
    assert 0 <= h_bmp < 2**16


def test_ahash_known_value():
    """Hand-computed case: one bright pixel among black — only its bit
    is set (16·lum > total for it alone; 16·0 > total fails for the
    rest)."""
    from gmall_flink_parent_spark.functions.multimodal import ahash_value, encode_bmp

    px = bytearray(48)
    px[3 * 5] = px[3 * 5 + 1] = px[3 * 5 + 2] = 255  # pixel 5 bright
    assert ahash_value(encode_bmp(bytes(px)), "image/bmp") == 1 << 5


# ----------------------------------------------------- count-min sketch


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=40), min_size=1, max_size=12
    ),
    split_at=st.integers(min_value=0, max_value=12),
)
def test_cms_counters_merge_across_any_split(spark, texts, split_at):
    """The CMS is a MERGEABLE sketch: counters built over any split of
    the corpus, summed cell-wise, equal the one-shot counters — the
    property that lets the sketch accumulate at ingest (per-batch
    partials in batch_id partitions, folded by sum) like every other
    store in the engine."""
    from gmall_flink_parent_spark import plans as _plans  # noqa: F401  (import-order contract)
    from gmall_flink_parent_spark.functions.curation import contamination_shingles
    from gmall_flink_parent_spark.functions.sketches import cms_counters

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    cut = split_at % (len(texts) + 1)

    def counters(df):
        out = {}
        for r in cms_counters(contamination_shingles(df)).collect():
            out[(r["i"], r["cell"])] = out.get((r["i"], r["cell"]), 0) + r["n"]
        return out

    whole = counters(docs)
    a = counters(docs.filter(F.col("doc_id") < cut))
    b = counters(docs.filter(F.col("doc_id") >= cut))
    merged = dict(a)
    for k, v in b.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == whole


# ------------------------------------------------ fuzzy blocking recall


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    adj=st.sampled_from(["red", "blue", "hot", "small", "grand"]),
    noun=st.sampled_from(["widget", "bolt", "gear", "ring", "anvil"]),
    which=st.integers(0, 1),
    pos=st.integers(0, 4),
    op=st.sampled_from(["sub", "ins", "del"]),
    ch=st.sampled_from("xyz"),
)
def test_fuzzy_blocking_complete_for_single_intoken_edit(
    spark, adj, noun, which, pos, op, ch
):
    """Any single in-token edit leaves the other token exact, so the
    token+prefix blocking MUST surface the (original, mutated) pair —
    the provable-recall half of ``fuzzy_name_pairs``' contract."""
    from gmall_flink_parent_spark.operators.entity import fuzzy_name_pairs

    toks = [adj, noun]
    t = toks[which]
    p = min(pos, len(t) - 1)
    if op == "sub":
        mut = t[:p] + ch + t[p + 1 :]
    elif op == "ins":
        mut = t[:p] + ch + t[p:]
    else:
        mut = t[:p] + t[p + 1 :] if len(t) > 1 else t + ch
    toks_mut = list(toks)
    toks_mut[which] = mut
    name_a, name_b = " ".join(toks), " ".join(toks_mut)
    if name_a == name_b:
        return
    names = spark.createDataFrame(
        [(name_a, 1), (name_b, 1)], "p_name string, n_parts long"
    )
    got = {
        (r.name_a, r.name_b)
        for r in fuzzy_name_pairs(names, max_dist=2).collect()
    }
    lo, hi = sorted([name_a, name_b])
    assert (lo, hi) in got


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    base=st.sampled_from(
        ["red widget", "grand anvil", "hot bolt", "small gizmo", "blue ring"]
    ),
    edits=st.lists(
        st.tuples(
            st.sampled_from(["sub", "ins", "del"]),
            st.integers(0, 11),
            st.sampled_from("xy "),
        ),
        min_size=1,
        max_size=2,
    ),
)
def test_edit_join_complete_for_any_two_edits(spark, base, edits):
    """PassJoin completeness holds for ARBITRARY ≤2 edits — including
    edits that insert/delete/replace the token separator, the case the
    token-blocking head documents as its evasion."""
    from gmall_flink_parent_spark.operators.entity import edit_join_complete

    mut = base
    for op, pos, ch in edits:
        p = min(pos, max(len(mut) - 1, 0))
        if op == "sub" and mut:
            mut = mut[:p] + ch + mut[p + 1 :]
        elif op == "ins":
            mut = mut[:p] + ch + mut[p:]
        elif op == "del" and len(mut) > 1:
            mut = mut[:p] + mut[p + 1 :]
    if mut == base or len(mut) < 3:
        return
    names = spark.createDataFrame([(base,), (mut,)], "p_name string")
    got = {(r.name_a, r.name_b) for r in edit_join_complete(names).collect()}
    lo, hi = sorted([base, mut])
    assert (lo, hi) in got


session_split_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # user
        st.integers(min_value=0, max_value=7200),   # seconds offset
        st.integers(min_value=0, max_value=99),     # value
        st.integers(min_value=0, max_value=2),      # batch assignment
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=session_split_strategy)
def test_session_fragment_merge_any_split_property(spark, rows):
    """Sessionization is associatively mergeable at fragment grain: for
    ANY assignment of events to batches — interleaved, nested, or
    time-ordered — per-batch session_window fragments merged by the
    interval sweep equal the single-pass sessions over all events
    (10-minute gap for dense structure at this time range)."""
    from gmall_flink_parent_spark.operators.windows import session_stats_frame
    from gmall_flink_parent_spark.streaming.jobs import (
        merge_session_fragments,
        session_fragments,
    )

    base = pd.Timestamp("2024-06-01 00:00:00")
    pdf = pd.DataFrame(
        {
            "user_id": [r[0] for r in rows],
            "ts": [base + pd.Timedelta(seconds=r[1]) for r in rows],
            "value": [float(r[2]) for r in rows],
            "part": [r[3] for r in rows],
        }
    )
    # duplicate (user, ts) rows collapse inside one batch's session agg
    # but would double-count across batches — an event belongs to ONE
    # batch, so dedupe the (user, ts) grain first (the store's
    # file-source exactly-once contract)
    pdf = pdf.drop_duplicates(subset=["user_id", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    df = spark.createDataFrame(pdf)
    frag_parts = [
        session_fragments(
            df.filter(F.col("part") == i).drop("part"), "10 minutes"
        )
        for i in range(3)
    ]
    frags = frag_parts[0]
    for fp in frag_parts[1:]:
        frags = frags.unionByName(fp)
    merged = merge_session_fragments(frags)
    want = session_stats_frame(df.drop("part"), "10 minutes")
    key = lambda r: (
        r["user_id"], r["session_start"], r["session_close"],
        r["n_events"], r["session_value"],
    )
    assert sorted(map(key, merged.collect())) == sorted(map(key, want.collect()))


@settings(max_examples=120, deadline=None, suppress_health_check=list(HealthCheck))
@given(blob=st.binary(min_size=0, max_size=2048))
def test_warc_quarantine_parser_never_raises_on_arbitrary_bytes(blob):
    """Quarantine-mode WARC parsing is total: ANY byte stream — random
    dirt, truncated records, half-valid envelopes — parses to a
    (possibly empty) record list plus a malformed count, never an
    exception; and every yielded record is internally consistent
    (payload length equals its Content-Length). Strict mode on the same
    stream either raises ValueError or yields exactly the same records
    with zero malformed."""
    import io

    from gmall_flink_parent_spark.sources.warc import _iter_warc_records

    stats: dict = {}
    got = list(_iter_warc_records(io.BytesIO(blob), strict=False, stats=stats))
    assert stats["malformed"] >= 0
    for _seq, headers, payload in got:
        assert len(payload) == int(headers.get("content-length", "0"))
    try:
        strict_got = list(_iter_warc_records(io.BytesIO(blob), strict=True))
    except ValueError:
        assert stats["malformed"] > 0  # strict only raises on counted dirt
    else:
        assert strict_got == got and stats["malformed"] == 0


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    payloads=st.lists(st.binary(min_size=0, max_size=64), min_size=1, max_size=6),
    dirt=st.binary(min_size=1, max_size=64),
    pos=st.integers(min_value=0, max_value=6),
)
def test_warc_quarantine_salvages_records_around_injected_dirt(payloads, dirt, pos):
    """Inject arbitrary dirt between two well-formed records: quarantine
    mode must still yield every record whose envelope the dirt didn't
    swallow — at minimum all records BEFORE the injection point — and
    count at least one malformed when the dirt desyncs the stream."""
    import io

    from gmall_flink_parent_spark.sources.warc import _iter_warc_records

    recs = []
    for p in payloads:
        recs.append(
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            + f"Content-Length: {len(p)}\r\n\r\n".encode() + p + b"\r\n\r\n"
        )
    pos = min(pos, len(recs))
    blob = b"".join(recs[:pos]) + dirt + b"\r\n" + b"".join(recs[pos:])
    stats: dict = {}
    got = list(_iter_warc_records(io.BytesIO(blob), strict=False, stats=stats))
    assert len(got) >= pos  # everything before the dirt always survives
    got_payloads = [p for _s, _h, p in got]
    assert got_payloads[:pos] == payloads[:pos]


# --------------------------- SCD2 / as-of pair (VERDICT r10 stretch #10)

scd2_changes_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),  # user_id (collisions intended)
        st.integers(min_value=0, max_value=3600),  # offset seconds (tie collisions too)
        st.booleans(),  # is_purchase (else signup)
        st.integers(min_value=0, max_value=50),  # value
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=scd2_changes_strategy)
def test_scd2_asof_invariants_hold_for_any_change_sequence(spark, rows):
    """For ANY interleaving of signup changes and purchases — including
    duplicate timestamps within a user — the SCD2/as-of pair must hold
    the invariants its join correctness rests on:

    - per user the versions are 1..n consecutive in (ts, event_id)
      order, each interval half-open, consecutive intervals ADJACENT
      (effective_to == next effective_from), only the last open — so
      the intervals are disjoint by construction;
    - ``dim_asof_enrich`` therefore matches AT MOST one version per
      purchase: exactly one output row per purchase row, null dim
      columns iff the purchase precedes the user's first version;
    - the matched value equals the pandas-computed truth: the LAST
      signup (by ts, then event_id) whose ts <= the purchase ts.
    """
    from gmall_flink_parent_spark.operators.entity import dim_asof_enrich, scd2_frame

    base = pd.Timestamp("2024-06-01 00:00:00")
    pdf = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "user_id": [r[0] for r in rows],
            "ts": [base + pd.Timedelta(seconds=r[1]) for r in rows],
            "is_purchase": [r[2] for r in rows],
            "value": [float(r[3]) for r in rows],
        }
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    df = spark.createDataFrame(pdf)
    signups = df.filter(~F.col("is_purchase")).drop("is_purchase")
    purchases = df.filter(F.col("is_purchase")).select("event_id", "user_id", "ts")
    hist = scd2_frame(signups).toPandas()

    # interval invariants per user
    for uid, g in hist.groupby("user_id"):
        g = g.sort_values("version")
        assert list(g["version"]) == list(range(1, len(g) + 1))
        froms = list(g["effective_from"])
        tos = list(g["effective_to"])
        assert all(pd.isna(t) for t in tos[-1:]) and g["is_current"].iloc[-1]
        assert not g["is_current"].iloc[:-1].any()
        for i in range(len(g) - 1):
            assert tos[i] == froms[i + 1]  # adjacent → disjoint half-open

    out = dim_asof_enrich(purchases, scd2_frame(signups)).toPandas()
    n_purch = purchases.count()
    assert len(out) == n_purch  # at most one version matched per purchase

    sign_pdf = pdf[~pdf["is_purchase"]].sort_values(["user_id", "ts", "event_id"])
    for _, row in out.iterrows():
        cand = sign_pdf[
            (sign_pdf["user_id"] == row["user_id"]) & (sign_pdf["ts"] <= row["ts"])
        ]
        if cand.empty:
            assert pd.isna(row["dim_value"]) and pd.isna(row["dim_effective_from"])
        else:
            truth = cand.iloc[-1]
            assert row["dim_value"] == truth["value"]
            assert row["dim_effective_from"] == truth["ts"]


@settings(max_examples=300, deadline=None)
@given(
    s=st.integers(min_value=4, max_value=10**6),
    p=st.integers(min_value=0, max_value=10**9),
)
def test_partsupp_spread_is_distinct_for_any_supplier_count(s, p):
    """The derived-partsupp docstring's distinctness proof, as a
    property: for ANY supplier count S >= 4 and part key p, the 4-way
    spread ``(p + p div S + k * max(1, S div 4)) mod S`` yields 4
    DISTINCT suppliers in [0, S) — because (k1-k2)*stride <=
    3*(S div 4) < S can only be 0 mod S when k1 = k2. Pure arithmetic
    (mirrors operators/partsupp.py::partsupp_frame and the oracle's
    ps_pairs CTE), so the property runs without Spark."""
    stride = max(1, s // 4)
    keys = {(p + p // s + k * stride) % s for k in range(4)}
    assert len(keys) == 4
    assert all(0 <= k < s for k in keys)


spend_strategy = st.lists(
    st.integers(min_value=0, max_value=10_000),  # cents
    min_size=2,
    max_size=30,
)


def _gini_of(spark, cents_list):
    from gmall_flink_parent_spark.operators.analytics import (
        spend_concentration_frame,
    )

    spend = spark.createDataFrame(
        [("t", i, c / 100.0) for i, c in enumerate(cents_list)],
        "event_type string, user_id long, spend double",
    ).select(
        "event_type", "user_id", F.col("spend").cast("decimal(18,2)").alias("spend")
    )
    row = spend_concentration_frame(spend).collect()[0]
    return row["gini"], row["n_users"]


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(cents=spend_strategy)
def test_gini_properties_hold_for_any_spend_vector(spark, cents):
    """For any spend vector: Gini is within [0, (n-1)/n]; it is
    invariant under scaling every spend by an integer constant; and a
    mean-preserving transfer from a poorer user to a richer one never
    decreases it (the Pigou-Dalton transfer principle)."""
    if sum(cents) == 0:
        return  # zero-total branch yields NULL by contract
    g, n = _gini_of(spark, cents)
    assert -1e-12 <= g <= (n - 1) / n + 1e-12
    g3, _ = _gini_of(spark, [c * 3 for c in cents])
    assert abs(g - g3) < 1e-12, "Gini must be scale-invariant"
    # transfer 1 cent from the poorest to the richest
    lo = min(range(len(cents)), key=lambda i: (cents[i], i))
    hi = max(range(len(cents)), key=lambda i: (cents[i], i))
    if lo != hi and cents[lo] >= 1:
        moved = list(cents)
        moved[lo] -= 1
        moved[hi] += 1
        g2, _ = _gini_of(spark, moved)
        assert g2 >= g - 1e-12, "regressive transfer must not lower Gini"


series_strategy = st.lists(
    st.integers(min_value=0, max_value=500),
    min_size=3,
    max_size=20,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(vals=series_strategy)
def test_mann_kendall_antisymmetry_under_time_reversal(spark, vals):
    """Reversing a daily series in time negates the Mann-Kendall S and
    the Theil-Sen slope exactly (pair signs flip one-for-one, and the
    lower median of the negated slope multiset is the negated upper
    median — equal here because the pair multiset is symmetric), and
    n and |S| are invariant."""
    from gmall_flink_parent_spark.operators.windows import mann_kendall_frame

    def run(series):
        daily = spark.createDataFrame(
            [
                ("t", f"2024-04-{i + 1:02d}", c)
                for i, c in enumerate(series)
            ],
            "event_type string, ymd string, c long",
        ).select("event_type", F.regexp_replace("ymd", "-", "").alias("ymd"),
                 F.col("c").cast("decimal(18,0)").alias("c"))
        return mann_kendall_frame(daily).collect()[0]

    fwd = run(vals)
    rev = run(list(reversed(vals)))
    assert fwd["n_days"] == rev["n_days"] == len(vals)
    assert fwd["s_statistic"] == -rev["s_statistic"]
    assert abs(fwd["mk_z"] + rev["mk_z"]) < 1e-12
    # slope antisymmetry: exact when the median pair is unique, and
    # within the tie block's width otherwise — assert the negated
    # reverse slope is a valid median of the forward slope multiset
    n = len(vals)
    slopes = sorted(
        (vals[j] - vals[i]) / (j - i) for i in range(n) for j in range(i + 1, n)
    )
    k = (len(slopes) + 1) // 2
    lower, upper = slopes[k - 1], slopes[len(slopes) - k]
    assert lower - 1e-9 <= -rev["theil_sen_slope"] * 100 <= upper + 1e-9
    assert abs(fwd["theil_sen_slope"] * 100 - lower) < 1e-9


hhi_strategy = st.lists(
    st.integers(min_value=1, max_value=100_000),  # micro-dollar revenues
    min_size=1,
    max_size=12,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(revs=hhi_strategy)
def test_hhi_bounds_and_split_monotonicity(spark, revs, tmp_path_factory):
    """For any supplier revenue vector: the ENGINE's HHI equals the
    exact python reference (same integers, same one division), lies in
    [1/n, 1], and splitting one supplier into two equal halves
    strictly decreases it (concentration falls when a market
    participant fragments) — the defining monotonicity of the index."""
    from gmall_flink_parent_spark import plans  # noqa: F401  (import order)
    from gmall_flink_parent_spark.operators.analytics import supplier_revenue_hhi
    from pyspark.sql import functions as F

    def hhi_of(vals):
        # mirror the engine's float chain exactly: one division by the
        # double PRODUCT (sq / (tot*tot)), not two sequential divisions
        n = sum(vals)
        return sum(v * v for v in vals) / (float(n) * float(n))

    def engine_hhi(vals):
        tmp_path = tmp_path_factory.mktemp("hhi")
        spark.createDataFrame(
            [(i, i + 1, v / 1e6, 0.0, "2024-03-01 00:00:00")
             for i, v in enumerate(vals)],
            "l_orderkey long, l_suppkey long, l_extendedprice double, "
            "l_discount double, ship string",
        ).selectExpr(
            "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
            "CAST(ship AS TIMESTAMP) AS l_shipdate",
        ).coalesce(1).write.parquet(str(tmp_path / "lineitem.parquet"))
        spark.createDataFrame(
            [(i + 1, f"S{i}", 0, 0.0) for i in range(len(vals))],
            "s_suppkey long, s_name string, s_nationkey long, s_acctbal double",
        ).coalesce(1).write.parquet(str(tmp_path / "supplier.parquet"))
        spark.createDataFrame(
            [(0, "N")], "n_nationkey long, n_name string"
        ).coalesce(1).write.parquet(str(tmp_path / "nation.parquet"))
        return supplier_revenue_hhi(spark, str(tmp_path)).collect()[0]["hhi"]

    # micro-dollar revenues are exact through the double round trip
    # (v/1e6 at these magnitudes is an exact decimal(18,6) value)
    g = engine_hhi(revs)
    n = len(revs)
    assert g == hhi_of(revs)
    assert 1 / n - 1e-12 <= g <= 1 + 1e-12
    # split the largest supplier in two equal halves (python side: the
    # monotonicity is a property of the index, already proven equal)
    i = max(range(n), key=lambda k: (revs[k], k))
    if revs[i] >= 2:
        half = revs[i] // 2
        rest = revs[i] - half
        split = revs[:i] + revs[i + 1:] + [half, rest]
        assert hhi_of(split) < g + 1e-15


ks_strategy = st.tuples(
    st.lists(st.integers(min_value=1, max_value=60), min_size=1, max_size=25),
    st.lists(st.integers(min_value=1, max_value=60), min_size=1, max_size=25),
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(ab=ks_strategy)
def test_ks_head_matches_exact_python_for_any_multisets(spark, ab, tmp_path_factory):
    """For ANY two length multisets: the registered KS head equals the
    exact pure-python sup|ECDF_a − ECDF_rest| (same integer
    cross-multiplication, same smallest-length tie-break), and the
    statistic is symmetric between the two sources of a two-source
    corpus."""
    import bisect

    from gmall_flink_parent_spark import plans  # noqa: F401  (import order)
    from gmall_flink_parent_spark.functions.expectations import source_length_ks
    from pyspark.sql import functions as F

    a, b = ab
    tmp_path = tmp_path_factory.mktemp("ks")
    rows = [("A", v) for v in a] + [("B", v) for v in b]
    df = spark.createDataFrame(
        [(i, s, int(v)) for i, (s, v) in enumerate(rows)],
        "doc_id long, source string, n_chars long",
    ).select(
        "doc_id",
        F.repeat(F.lit("x"), F.col("n_chars").cast("int")).alias("text"),
        F.lit("en").alias("lang"),
        "source",
        "n_chars",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {r["source"]: r for r in source_length_ks(spark, str(tmp_path)).collect()}

    pooled = sorted(set(a) | set(b))
    sa, sb = sorted(a), sorted(b)
    na, nb = len(sa), len(sb)
    best = (-1, None)
    for v in pooled:
        d = abs(bisect.bisect_right(sa, v) * nb - bisect.bisect_right(sb, v) * na)
        if d > best[0]:
            best = (d, v)
    expect = best[0] / (na * nb)
    assert got["A"]["ks_stat"] == expect
    assert got["A"]["ks_at_chars"] == best[1]
    # two-source corpora are symmetric: rest(A) = B and rest(B) = A
    assert got["B"]["ks_stat"] == expect


# ------------------------------------------------------------------
# Chaos property: the store-fence protocol under arbitrary interleaved
# crash sequences (VERDICT r11 "next round" #8) — the strongest
# exactly-once statement available without a broker.


def test_store_fence_chaos_state_machine(spark, tmp_path):
    """Interleave arbitrary (land-batch, crash-before-commit, replay,
    compact, crash-between-swap-renames, crash-leaving-stale-debris)
    sequences against a real `batch_id=N` partial store and assert,
    after EVERY step, that one protocol-entry heal
    (``_clear_swap_leftovers`` — what every consumer and maintenance
    pass runs first) leaves the store aggregate equal to a
    PREFIX-CONSISTENT batch result: the sum over all committed batches
    plus at most one landed-but-uncommitted batch, each counted exactly
    once. Micro-batch determinism (replay rewrites identical rows into
    its own partition) is the streaming contract the idempotent
    partition overwrite relies on, so the model replays the same rows.

    Hypothesis drives the schedule; the rules map 1:1 to the crash
    points the protocol documents:

    - ``land``: the ``batch_store_job`` foreachBatch body — partition
      overwrite, then (maybe) the checkpoint commit record; "maybe" IS
      the crash-between-sink-write-and-commit point.
    - ``replay``: the stream re-running the uncommitted batch after a
      crash — identical rows, same ``batch_id=N`` partition, commit.
    - ``compact``: ``compact_partial_store`` with the checkpoint — only
      committed batches fold; an uncommitted partition must survive in
      place for the replay to overwrite.
    - ``crash_between_renames``: the swap's one exposure window — the
      table exists only under ``._old`` (plus a garbage ``._tmp``).
    - ``crash_stale_debris``: crash before the first / after the second
      rename — ``path`` intact, stale side dirs present.
    """
    import os
    import uuid

    from hypothesis.stateful import (
        RuleBasedStateMachine,
        invariant,
        precondition,
        rule,
        run_state_machine_as_test,
    )

    from gmall_flink_parent_spark.streaming.store import (
        COMPACT_BASE_ID,
        _clear_swap_leftovers,
        compact_fact_store,
        compact_partial_store,
        land_batch,
    )

    def batch_rows(n: int) -> list[tuple[int, int]]:
        # deterministic per batch id — the replay-determinism contract
        return [(n % 3, n + 1), ((n + 1) % 5, 2 * n + 1)]

    class StoreFenceMachine(RuleBasedStateMachine):
        def __init__(self):
            super().__init__()
            root = tmp_path / uuid.uuid4().hex
            root.mkdir()
            self.store = str(root / "store")
            self.ckpt = str(root / "ckpt")
            os.makedirs(os.path.join(self.ckpt, "commits"))
            self.next_id = 0
            self.committed: list[int] = []
            self.pending: int | None = None

        def _land_partition(self, n: int) -> None:
            # the real store body: land_batch heals swap leftovers
            # before the partition write. Without the heal, this machine
            # found real data loss (land after a compaction crash
            # between renames recreates the store dir, so the next heal
            # drops ._old — every folded batch gone); the deterministic
            # regression lives in
            # test_land_after_half_swap_restores_before_writing.
            land_batch(
                spark.createDataFrame(batch_rows(n), "k long, v long"), self.store, n
            )

        def _commit(self, n: int) -> None:
            with open(os.path.join(self.ckpt, "commits", str(n)), "w") as fh:
                fh.write("v1")

        @precondition(lambda self: self.pending is None)
        @rule(commit=st.booleans())
        def land(self, commit: bool):
            n = self.next_id
            self.next_id += 1
            self._land_partition(n)
            if commit:
                self._commit(n)
                self.committed.append(n)
            else:
                self.pending = n  # crashed between sink write and commit

        @precondition(lambda self: self.pending is not None)
        @rule()
        def replay(self):
            n = self.pending
            self._land_partition(n)  # identical rows, same partition
            self._commit(n)
            self.committed.append(n)
            self.pending = None

        @rule(fact_mode=st.booleans())
        def compact(self, fact_mode: bool):
            # BOTH maintenance passes share the fence/swap envelope and
            # BOTH must preserve the store aggregate: the partial fold
            # sums the value column, the fact fold moves rows verbatim
            # — either way Σv per key is invariant, so the one model
            # checks the two compactors interchangeably.
            if fact_mode:
                compact_fact_store(spark, self.store, checkpoint_location=self.ckpt)
            else:
                compact_partial_store(
                    spark, self.store, ["k"], checkpoint_location=self.ckpt
                )
            if self.pending is not None:
                # the uncommitted partition must have survived in place
                assert os.path.exists(
                    f"{self.store}/batch_id={self.pending}"
                ), "compaction folded an uncommitted batch"

        @precondition(
            lambda self: os.path.exists(self.store)
            and not os.path.exists(self.store + "._old")
        )
        @rule()
        def crash_between_renames(self):
            os.rename(self.store, self.store + "._old")
            # the half-written replacement the crash abandoned
            spark.createDataFrame(
                [(99, 10**6)], "k long, v long"
            ).write.mode("overwrite").parquet(self.store + "._tmp")

        @precondition(lambda self: os.path.exists(self.store))
        @rule()
        def crash_stale_debris(self):
            for side in ("._tmp", "._old"):
                spark.createDataFrame(
                    [(98, 10**6)], "k long, v long"
                ).write.mode("overwrite").parquet(self.store + side)

        @invariant()
        def store_equals_a_prefix_consistent_batch_result(self):
            _clear_swap_leftovers(spark, self.store)  # any protocol entry
            seen = list(self.committed) + (
                [self.pending] if self.pending is not None else []
            )
            expect: dict[int, int] = {}
            for n in seen:
                for k, v in batch_rows(n):
                    expect[k] = expect.get(k, 0) + v
            if not os.path.exists(self.store):
                assert not seen, "store vanished with landed batches"
                return
            got = {
                r["k"]: r["total"]
                for r in spark.read.parquet(self.store)
                .groupBy("k")
                .agg(F.sum("v").alias("total"))
                .collect()
            }
            assert got == expect, (
                f"store={got} expected={expect} committed={self.committed} "
                f"pending={self.pending}"
            )
            ids = {
                int(d.split("=")[1])
                for d in os.listdir(self.store)
                if d.startswith("batch_id=")
            }
            uncommitted = ids - set(self.committed) - {COMPACT_BASE_ID}
            assert uncommitted <= {self.pending}, (
                f"unexplained partitions: {uncommitted}"
            )

    run_state_machine_as_test(
        StoreFenceMachine,
        settings=settings(
            max_examples=5,
            stateful_step_count=8,
            deadline=None,
            suppress_health_check=list(HealthCheck),
        ),
    )


ewma_series = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),  # day offset (gaps intended)
        st.integers(min_value=0, max_value=10**9),  # daily cents
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda t: t[0],
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(series=ewma_series)
def test_ewma_matches_exact_integer_reference(spark, series):
    """For ANY daily series (gaps included): the engine's trailing-14d
    EWMA equals a pure-python reference computed in EXACT integer
    arithmetic (same weights 3·7^d·10^(13-d), same half-up-at-1e-4
    integer rounding, same final small-int→double conversion) —
    bit-for-bit, no tolerance. Pins the whole determinism chain the
    oracle parity relies on, for inputs far uglier than the fixture."""
    import datetime as _dt

    from gmall_flink_parent_spark.operators.windows import (
        _EWMA_HORIZON,
        _EWMA_W,
        ewma_frame,
    )

    base = _dt.date(2024, 3, 1)
    days = {off: c for off, c in series}
    from decimal import Decimal

    daily = spark.createDataFrame(
        [
            ("t", (base + _dt.timedelta(days=off)).strftime("%Y%m%d"), Decimal(c))
            for off, c in series
        ],
        "event_type string, ymd string, c decimal(18,0)",
    )
    got = {
        r["ymd"]: (r["n_terms"], r["ewma"])
        for r in ewma_frame(daily).collect()
    }
    for off, _ in series:
        num = den = n_terms = 0
        for d in range(_EWMA_HORIZON):
            if (off - d) in days:
                num += days[off - d] * _EWMA_W[d]
                den += _EWMA_W[d]
                n_terms += 1
        q = (num * 20000 + den) // (2 * den)
        ymd = (base + _dt.timedelta(days=off)).strftime("%Y%m%d")
        assert got[ymd] == (n_terms, float(q) / 1000000.0), ymd
    assert len(got) == len(series)


def test_upsert_store_chaos_state_machine(spark, tmp_path):
    """Chaos coverage for the K3 dim-sink path (``upsert_parquet`` —
    the MERGE emulation every dim store rides): interleave arbitrary
    (upsert, crash-between-renames, crash-with-stale-debris) sequences
    and assert after EVERY step that the table equals the
    LAST-WRITE-WINS fold of all COMPLETED upserts — the dim-table
    contract. A failed/crashed swap must leave the PREVIOUS table
    intact (never a torn mix), which is exactly what the model
    asserts: the half-swap rule fires between upserts, and the next
    upsert's entry heal restores before merging."""
    import os
    import uuid

    from hypothesis.stateful import (
        RuleBasedStateMachine,
        precondition,
        invariant,
        rule,
        run_state_machine_as_test,
    )

    from gmall_flink_parent_spark.streaming.store import (
        _clear_swap_leftovers,
        upsert_parquet,
    )

    class UpsertChaosMachine(RuleBasedStateMachine):
        def __init__(self):
            super().__init__()
            self.path = str(tmp_path / uuid.uuid4().hex / "dim")
            os.makedirs(os.path.dirname(self.path))
            self.model: dict[int, int] = {}
            self.seq = 0

        @rule(keys=st.sets(st.integers(min_value=0, max_value=6), min_size=1, max_size=3))
        def upsert(self, keys):
            self.seq += 1
            rows = [(k, self.seq * 100 + k) for k in sorted(keys)]
            upsert_parquet(
                spark,
                spark.createDataFrame(rows, "k long, v long"),
                self.path,
                key="k",
                # the replay-fence pattern: the sidecar travels in the
                # SAME swap, so store and fence are atomic together
                sidecars={
                    "fence": spark.createDataFrame(
                        [(self.seq,)], "seq long"
                    )
                },
            )
            self.model.update(dict(rows))

        @precondition(
            lambda self: os.path.exists(self.path)
            and not os.path.exists(self.path + "._old")
        )
        @rule()
        def crash_between_renames(self):
            os.rename(self.path, self.path + "._old")
            spark.createDataFrame([(99, -1)], "k long, v long").write.mode(
                "overwrite"
            ).parquet(self.path + "._tmp")

        @precondition(lambda self: os.path.exists(self.path))
        @rule()
        def crash_stale_debris(self):
            for side in ("._tmp", "._old"):
                spark.createDataFrame([(98, -2)], "k long, v long").write.mode(
                    "overwrite"
                ).parquet(self.path + side)

        @invariant()
        def table_is_last_write_wins_and_fence_atomic(self):
            _clear_swap_leftovers(spark, self.path)
            if not os.path.exists(self.path):
                assert not self.model
                return
            got = {
                r["k"]: r["v"] for r in spark.read.parquet(self.path).collect()
            }
            assert got == self.model, f"{got} != {self.model}"
            # the fence sidecar must be exactly the last COMPLETED
            # upsert's — store and fence can never be torn apart by any
            # crash state, because they travel in one swap
            fence = spark.read.parquet(f"{self.path}/_fence").collect()
            assert [r["seq"] for r in fence] == [self.seq], (
                f"fence {fence} vs last completed upsert {self.seq}"
            )

    run_state_machine_as_test(
        UpsertChaosMachine,
        settings=settings(
            max_examples=5,
            stateful_step_count=7,
            deadline=None,
            suppress_health_check=list(HealthCheck),
        ),
    )


# ------------------------------------------------------------------
# Positional-index heads vs pure-python references (round 12)

_POS_ALPHABET = [
    "table", "hash", "order", "fast", "part", "filter", "scan",
    "slow", "spark", "data", "window", "query", "join", "zz",
]

corpus_strategy = st.lists(
    st.lists(
        st.sampled_from(_POS_ALPHABET), min_size=1, max_size=14
    ),
    min_size=1,
    max_size=6,
)


def _write_docs(spark, tmp_path, docs):
    from pyspark.sql import functions as F  # noqa: F401

    spark.createDataFrame(
        [(i, " ".join(toks), "en", "src", len(" ".join(toks)))
         for i, toks in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=corpus_strategy)
def test_phrase_and_proximity_match_python_for_any_corpus(
    spark, docs, tmp_path_factory
):
    """For ANY corpus over the query vocabulary: the positional phrase
    probe equals the naive python substring-of-tokens matcher
    (overlaps and repeated words included), and the NEAR probe equals
    the naive all-position-pairs scan."""
    from gmall_flink_parent_spark.functions.retrieval import (
        PHRASES,
        PROX_PAIRS,
        PROX_SLOP,
        phrase_search_positional,
        term_proximity_search,
    )

    tmp_path = tmp_path_factory.mktemp("pos")
    _write_docs(spark, tmp_path, docs)

    want_phrase = {}
    for p in PHRASES:
        pt = p.split(" ")
        for did, toks in enumerate(docs):
            starts = [
                i
                for i in range(len(toks) - len(pt) + 1)
                if toks[i:i + len(pt)] == pt
            ]
            if starts:
                want_phrase[(p, did)] = (len(starts), min(starts))
    got_phrase = {
        (r["phrase"], r["doc_id"]): (r["n_matches"], r["first_pos"])
        for r in phrase_search_positional(spark, str(tmp_path)).collect()
    }
    assert got_phrase == want_phrase

    want_prox = {}
    for a, b in PROX_PAIRS:
        for did, toks in enumerate(docs):
            dists = [
                abs(i - j)
                for i, ta in enumerate(toks)
                if ta == a
                for j, tb in enumerate(toks)
                if tb == b and abs(i - j) <= PROX_SLOP
            ]
            if dists:
                want_prox[(a, b, did)] = (len(dists), min(dists))
    got_prox = {
        (r["term_a"], r["term_b"], r["doc_id"]): (r["n_windows"], r["min_dist"])
        for r in term_proximity_search(spark, str(tmp_path)).collect()
    }
    assert got_prox == want_prox


pmi_corpus_strategy = st.lists(
    st.lists(st.sampled_from(["x", "y", "z"]), min_size=2, max_size=40),
    min_size=1,
    max_size=4,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=pmi_corpus_strategy)
def test_collocation_pmi_matches_python_for_any_corpus(
    spark, docs, tmp_path_factory
):
    """For ANY corpus over a 3-token alphabet (dense enough to cross
    the ≥5 pair floor): every above-floor bigram's count matches the
    python counter exactly and its PMI matches the same exact-integer
    ratio through ln to the rounding grid."""
    import math
    from collections import Counter

    from gmall_flink_parent_spark.functions.text import (
        _PMI_MIN_PAIR,
        collocation_pmi,
    )

    tmp_path = tmp_path_factory.mktemp("pmi")
    _write_docs(spark, tmp_path, docs)

    uni = Counter(t for toks in docs for t in toks)
    pairs = Counter(
        (toks[i], toks[i + 1]) for toks in docs for i in range(len(toks) - 1)
    )
    n1, n2 = sum(uni.values()), sum(pairs.values())
    want = {
        (a, b): (
            c,
            round(math.log((c * n1 * n1) / (n2 * uni[a] * uni[b])), 6),
        )
        for (a, b), c in pairs.items()
        if c >= _PMI_MIN_PAIR
    }
    got = {
        (r["w1"], r["w2"]): (r["n_pair"], r["pmi"])
        for r in collocation_pmi(spark, str(tmp_path)).collect()
    }
    assert set(got) == set(want)
    for k, (c, pmi) in want.items():
        assert got[k][0] == c
        assert abs(got[k][1] - pmi) <= 1e-6, (k, got[k][1], pmi)


holt_series_strategy = st.dictionaries(
    keys=st.integers(min_value=0, max_value=35),  # day offsets (gappy)
    values=st.integers(min_value=0, max_value=10**7),  # cents
    min_size=1,
    max_size=20,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(series=holt_series_strategy)
def test_holt_forecast_matches_python_for_any_gapped_series(
    spark, series, tmp_path_factory
):
    """For ANY gapped daily series: the forecast equals a pure-python
    walk of the same integer coefficients over the zero-filled
    calendar — pinning the calendar-spine generation, the zero-fill
    contract, the band join, and the floor/rounding edge
    independently of the oracle."""
    from gmall_flink_parent_spark.operators.windows import (
        _HOLT_C,
        _HOLT_DEN,
        _HOLT_LAGS,
        event_value_holt_forecast,
    )
    from tests.test_operators import _write_events_fixture

    tmp_path = tmp_path_factory.mktemp("holt")
    base = 1  # day-of-month base: offsets 0..35 → March 1 .. April 5
    rows = []
    for off, cents in sorted(series.items()):
        day = off + base
        month, dom = (3, day) if day <= 31 else (4, day - 31)
        rows.append(
            (
                "t",
                f"2024-{month:02d}-{dom:02d} 10:00:00",
                cents / 100.0,
            )
        )
    sf = _write_events_fixture(spark, tmp_path, rows)
    got = {
        r["ymd"]: r["holt_forecast"]
        for r in event_value_holt_forecast(spark, sf).collect()
    }

    import datetime

    offs = sorted(series)
    lo, hi = offs[0], offs[-1]
    want = {}
    for t in range(lo, hi + 1):
        num = sum(
            _HOLT_C[t - k] * series.get(k, 0)
            for k in range(max(lo, t - _HOLT_LAGS + 1), t + 1)
        )
        q = (max(num, 0) * 20000 + _HOLT_DEN) // (2 * _HOLT_DEN)
        ymd = (
            datetime.date(2024, 3, 1) + datetime.timedelta(days=t)
        ).strftime("%Y%m%d")
        want[ymd] = q / 1_000_000.0
    assert got == want
