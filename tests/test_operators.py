"""Operator-level tests for the non-oracle surfaces: approximate
aggregates, the vectorized similarity path, and the multimodal decode
stub (the claims the oracle harness can't check)."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from gmall_flink_parent_spark import plans
from gmall_flink_parent_spark.functions.multimodal import decode_media
from gmall_flink_parent_spark.functions.similarity import cosine_topk_pandas
from gmall_flink_parent_spark.sources.tables import load_table


def test_day_buckets_immune_to_host_timezone(spark, sf_dir):
    """Day-grain buckets are defined on UTC-naive event time; a non-UTC
    session timezone (the driver's host could be anywhere) must not move
    events across day boundaries."""
    q = plans.query_map()["dau_by_day"]
    utc = sorted((r["ymd"], r["dau"]) for r in q(spark, sf_dir).collect())
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        ny = sorted((r["ymd"], r["dau"]) for r in q(spark, sf_dir).collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert utc == ny


def test_same_callable_across_sf_dirs(spark, sf_dir):
    """One session must serve multiple scale factors (the driver runs
    sf0.001 smoke then sf0.01 correctness on the same callables)."""
    q = plans.query_map()["pricing_summary"]
    small = q(spark, "/root/testdata/sf0.001")
    larger = q(spark, "/root/testdata/sf0.01")
    assert small.columns == larger.columns
    assert small.count() > 0 and larger.count() > 0


def test_sql_surface_over_registered_views(spark, sf_dir):
    """The Spark SQL surface works over the registered views — a user of
    the reference can write plain SQL against every table."""
    from gmall_flink_parent_spark.sources.tables import TABLES, register_views

    register_views(spark, sf_dir)
    joined = spark.sql(
        """
        SELECT n.n_name, COUNT(*) AS n_customers
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """
    )
    assert joined.count() > 0
    for t in TABLES:
        assert spark.sql(f"SELECT * FROM {t} LIMIT 1").count() == 1


def test_json_roundtrip_preserves_fields(spark, sf_dir):
    """P2/P1: to_json → from_json round trip over full event rows loses
    nothing — the serialization surface the Kafka sink/source pair uses."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    schema = "event_id long, user_id long, event_type string, value double"
    rt = events.select(
        F.from_json(F.to_json(F.struct("*")), schema).alias("r")
    ).select("r.*")
    assert rt.schema == events.schema
    assert rt.subtract(events).count() == 0 and events.subtract(rt).count() == 0


def test_order_wide_scan_prunes_columns(spark, sf_dir):
    """Column-pruning regression guard: the lineitem scan under the
    flagship query must read only the 7 needed columns of 16 — a scan
    reading all columns for a projection is wrong at any scale."""
    import io
    import contextlib

    df = plans.query_map()["order_wide_enriched"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    li_schemas = [
        line
        for line in plan.splitlines()
        if "ReadSchema" in line and "l_orderkey" in line
    ]
    assert li_schemas, "no lineitem scan found in plan"
    for line in li_schemas:
        read_cols = line.split("struct<", 1)[1].count(":")
        assert read_cols == 7, f"lineitem scan reads {read_cols} columns: {line}"


def test_order_wide_dims_all_broadcast(spark, sf_dir):
    """Join-strategy regression guard for the flagship 6-way enrichment
    (J2): every dim join must plan as BroadcastHashJoin — a dim that
    silently fell back to a shuffled join would add an exchange per dim
    over the fact table, the dominant avoidable cost at 100 TB. (The
    fact-fact side is allowed either strategy: AQE rightly flips it to
    sort-merge once orders outgrows the broadcast threshold.)"""
    import contextlib
    import io

    df = plans.query_map()["order_wide_enriched"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    n_bhj = sum(
        1
        for ln in plan.splitlines()
        if ln.strip().startswith("(") and "BroadcastHashJoin" in ln
    )
    assert n_bhj >= 5, f"expected >=5 broadcast dim joins, plan has {n_bhj}"
    assert "BroadcastNestedLoopJoin" not in plan


def test_pricing_summary_plan_shape(spark, sf_dir):
    """Perf-plan regression guard for the TPC-H-Q1-shaped aggregate —
    the plan the 100 TB audit approved (SCALE.md): the shipdate filter
    reaches the parquet scan as PushedFilters, the scan reads only the
    7 needed lineitem columns, and partial aggregation leaves exactly
    ONE data-proportional exchange (hash, on the 2-key group) in the
    whole plan. A second hash exchange or an unpushed filter here
    multiplies the dominant cost of the query at scale. The fan_out
    guard may add one RoundRobin exchange when the scan is a single
    split (the r14 single-row-group parallelism repair) — that one is
    a structural no-op at real scale (guard never fires once the scan
    has >= cores splits) and is allowed, but only as RoundRobin."""
    import contextlib
    import io

    df = plans.query_map()["pricing_summary"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "l_shipdate" in pushed[0], "shipdate filter not pushed to scan"
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas and schemas[0].split("struct<", 1)[1].count(":") == 7, schemas
    # Exchange arguments follow each "(N) Exchange" node in formatted
    # plans; classify every exchange by its partitioning.
    args = [
        ln
        for ln in plan.splitlines()
        if ln.strip().startswith("Arguments:") and "artitioning(" in ln
    ]
    hash_ex = [ln for ln in args if "hashpartitioning" in ln]
    rr_ex = [ln for ln in args if "RoundRobinPartitioning" in ln]
    assert len(hash_ex) == 1, f"expected 1 hash exchange, plan has {len(hash_ex)}:\n{plan}"
    assert "l_returnflag" in hash_ex[0] and "l_linestatus" in hash_ex[0], hash_ex
    assert len(args) == len(hash_ex) + len(rr_ex) and len(rr_ex) <= 1, (
        f"unexpected exchange mix:\n{args}"
    )


def test_cascade_semi_prefilter_precedes_python_boundary(spark, sf_dir):
    """The cascade head's broadcast-scoring path must drop pairs lacking
    an embedding BEFORE the Arrow boundary (guide §3.2): two broadcast
    LEFT SEMI joins on vec_id upstream of the MapInPandas node. Without
    them, every non-covered candidate pair (84% at sf0.1) pays
    JVM→Python serialization just to be discarded inside the kernel —
    measured 2× on the scoring action. Output is unchanged (the kernel's
    inner-join semantics made the same drop); the oracle pins that."""
    import contextlib
    import io

    df = plans.query_map()["dedup_cascade_verify"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "MapInPandas" in plan, "expected the broadcast BLAS path at test scale"
    semi = [
        ln for ln in plan.splitlines() if ln.strip() == "Join type: LeftSemi"
    ]
    assert len(semi) >= 2, f"expected 2 semi pre-filters, plan has {len(semi)}:\n{plan}"


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Co-located joins via bucketing (the SCALE.md claim, demonstrated):
    both fact tables bucketed+sorted on the join key plan as a
    SortMergeJoin with ZERO exchanges — at 100 TB this removes the
    biggest shuffle of the wide-table build for repeat consumers."""
    import io
    import contextlib

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    try:
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").option(
            "path", str(tmp_path / "o")
        ).mode("overwrite").saveAsTable("b_orders")
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").option(
            "path", str(tmp_path / "l")
        ).mode("overwrite").saveAsTable("b_lineitem")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
        joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        assert "Exchange" not in buf.getvalue(), "bucketed join still shuffled"
        want = orders.join(li, orders.o_orderkey == li.l_orderkey).count()
        assert joined.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_approx_dau_error_bound(spark, sf_dir):
    """HLL DAU must land within 10% of the exact distinct count per day."""
    approx = {
        r["ymd"]: r["approx_dau"]
        for r in plans.query_map()["approx_dau_by_day"](spark, sf_dir).collect()
    }
    events = load_table(spark, sf_dir, "events")
    exact = {
        r["ymd"]: r["dau"]
        for r in events.groupBy(F.date_format("ts", "yyyyMMdd").alias("ymd"))
        .agg(F.countDistinct("user_id").alias("dau"))
        .collect()
    }
    assert approx.keys() == exact.keys()
    for ymd, a in approx.items():
        assert abs(a - exact[ymd]) <= max(0.1 * exact[ymd], 1), (ymd, a, exact[ymd])


def test_cosine_topk_pandas_matches_bruteforce(spark, sf_dir):
    """The mapInPandas/BLAS throughput path returns the same neighbors
    and (to float tolerance) the same cosines as the codegen baseline."""
    fast = {
        (r["query_id"], r["rnk"]): (r["neighbor_id"], r["cos_sim"])
        for r in cosine_topk_pandas(spark, sf_dir).collect()
    }
    base = {
        (r["query_id"], r["rnk"]): (r["neighbor_id"], r["cos_sim"])
        for r in plans.query_map()["cosine_topk_bruteforce"](spark, sf_dir).collect()
    }
    assert fast.keys() == base.keys()
    for k, (nid, cs) in base.items():
        assert fast[k][0] == nid, (k, fast[k], (nid, cs))
        assert fast[k][1] == pytest.approx(cs, abs=1e-5)


def test_dedup_cluster_keep_invariants(spark, sf_dir, cluster_keep_df):
    """Connected components over the MinHash pair graph: the assignment
    must equal an independent union-find over the same pairs, and keepers
    are exactly the cluster minima."""
    pairs = [
        (r["doc_id_a"], r["doc_id_b"])
        for r in plans.query_map()["dedup_minhash_lsh"](spark, sf_dir).collect()
    ]
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_keeper"])
        for r in cluster_keep_df.collect()
    }
    assert got, "dedup_cluster_keep returned 0 rows"
    # independent union-find oracle
    parent: dict[int, int] = {d: d for d in got}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want_root = {d: find(d) for d in got}
    # normalize: component label = min doc_id in component
    comp_min: dict[int, int] = {}
    for d, r in want_root.items():
        comp_min[r] = min(comp_min.get(r, d), d)
    assert {d: got[d][0] for d in got} == {d: comp_min[want_root[d]] for d in got}
    assert all(keeper == (d == cid) for d, (cid, keeper) in got.items())


def test_embedding_dedup_keep_invariants(spark, sf_dir, embedding_keep_df):
    """Semantic dedup keep-list: the component assignment over the
    embedding-cosine pair graph must equal an independent union-find,
    keepers are the cluster minima, and every vector is assigned."""
    pairs = [
        (r["vec_id_a"], r["vec_id_b"])
        for r in plans.query_map()["dedup_embedding_cosine"](spark, sf_dir).collect()
    ]
    got = {
        r["vec_id"]: (r["cluster_id"], r["is_keeper"])
        for r in embedding_keep_df.collect()
    }
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert len(got) == n_vecs, "every vector must get a cluster assignment"
    parent: dict[int, int] = {d: d for d in got}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want_root = {d: find(d) for d in got}
    comp_min: dict[int, int] = {}
    for d, r in want_root.items():
        comp_min[r] = min(comp_min.get(r, d), d)
    assert {d: got[d][0] for d in got} == {d: comp_min[want_root[d]] for d in got}
    assert all(keeper == (d == cid) for d, (cid, keeper) in got.items())
    # one keeper per cluster, and clusters partition the id space
    keepers = {cid for d, (cid, k) in got.items() if k}
    assert keepers == {cid for cid, _ in got.values()}


def test_ivf_kmeans_assign_invariants(spark, sf_dir):
    """The iterative cell builder: every vector gets exactly one cell in
    [0, k); the run is deterministic across invocations (decimal centroid
    sums — float sums would drift with partition order); clustering beats
    the single-centroid baseline."""
    from gmall_flink_parent_spark.functions.similarity import K_CELLS

    q = plans.query_map()["ivf_kmeans_assign"]
    rows1 = sorted((r["vec_id"], r["cell"], r["dist"]) for r in q(spark, sf_dir).collect())
    rows2 = sorted((r["vec_id"], r["cell"], r["dist"]) for r in q(spark, sf_dir).collect())
    assert rows1 == rows2, "k-means run is not deterministic"
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert len(rows1) == n_vecs
    assert all(0 <= c < K_CELLS for _, c, _ in rows1)
    assert all(d >= 0 for _, _, d in rows1)
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").collect()
    mat = np.array([r["embedding"] for r in emb], dtype=np.float64)
    global_mean = mat.mean(axis=0)
    baseline = float(np.sqrt(((mat - global_mean) ** 2).sum(axis=1)).mean())
    got = sum(d for _, _, d in rows1) / len(rows1)
    assert got < baseline, (got, baseline)


def test_decode_media_kernels():
    """BMP/PNG/WAV decode for real from parsed structure; entropy-coded
    codecs refuse loudly; text/plain gets byte stats."""
    import struct
    import zlib

    from gmall_flink_parent_spark.functions.multimodal import (
        encode_bmp,
        encode_png,
        encode_wav,
        sample_frames,
    )

    with pytest.raises(NotImplementedError):
        decode_media(b"\x00\x00\x00\x20ftypmp42", "video/mp4")
    with pytest.raises(ValueError):  # jpeg is real now — truncated stream
        decode_media(b"\xff\xd8\xff\xe0", "image/jpeg")
    payload = b"hello world"
    assert decode_media(payload, "text/plain") == {
        "n_units": len(payload),
        "first_unit": payload[0],
        "unit_sum_mod": sum(payload) % 997,
    }

    # BMP: 4x4 24bpp, pixel bytes 0..47 — decode must find them via the
    # header's data offset, not by assuming a 54-byte prefix.
    px = bytes(range(48))
    bmp = encode_bmp(px)
    assert decode_media(bmp, "image/bmp") == {
        "n_units": 16,
        "first_unit": 0,
        "unit_sum_mod": sum(px) % 997,
    }
    # non-standard: an extra chunk of junk between header and pixels,
    # with the data offset pointing past it
    shifted = bmp[:10] + (54 + 7).to_bytes(4, "little") + bmp[14:54] + b"\x00" * 7 + px
    assert decode_media(shifted, "image/bmp")["unit_sum_mod"] == sum(px) % 997
    with pytest.raises(ValueError):
        decode_media(b"XX" + bmp[2:], "image/bmp")

    # WAV: PCM16 samples round-trip, including negative first sample;
    # chunk walk must skip unknown chunks before data.
    samples = struct.pack("<32h", *(i - 16 for i in range(32)))
    wav = encode_wav(samples)
    assert decode_media(wav, "audio/wav") == {
        "n_units": 32,
        "first_unit": -16,
        "unit_sum_mod": sum(samples) % 997,
    }
    with_junk = (
        wav[:12]
        + struct.pack("<4sI", b"LIST", 6)
        + b"\x00" * 6
        + wav[12:]
    )
    fixed = with_junk[:4] + (len(with_junk) - 8).to_bytes(4, "little") + with_junk[8:]
    assert decode_media(fixed, "audio/wav")["first_unit"] == -16
    with pytest.raises(ValueError):
        decode_media(b"JUNK" + wav[4:], "audio/wav")

    # PNG: decode must really inflate + unfilter — a Paeth-filtered,
    # level-9-compressed file stores nothing resembling the pixel bytes.
    png = encode_png(px, filter_type=4, level=9)
    assert px not in png  # the content truly is transformed on disk
    assert decode_media(png, "image/png") == {
        "n_units": 16,
        "first_unit": 0,
        "unit_sum_mod": sum(px) % 997,
    }
    # RGBA decodes too; chunk CRCs are genuinely verified
    rgba = bytes(range(64))
    assert decode_media(encode_png(rgba, channels=4, filter_type=2), "image/png") == {
        "n_units": 16,
        "first_unit": 0,
        "unit_sum_mod": sum(rgba) % 997,
    }
    corrupt = bytearray(encode_png(px))
    corrupt[40] ^= 0xFF  # flip an IDAT byte without fixing the chunk CRC
    with pytest.raises((ValueError, zlib.error)):
        decode_media(bytes(corrupt), "image/png")
    with pytest.raises(ValueError):
        decode_media(b"XX" + encode_png(px)[2:], "image/png")
    # palette/16-bit PNGs hit the documented seam, not silence
    ihdr16 = struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0)
    from gmall_flink_parent_spark.functions.multimodal import PNG_SIG, _png_chunk

    deep = (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr16)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 100))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        decode_media(deep, "image/png")

    # frame sampling slices the DECODED region: BMP/PNG scanlines / WAV runs
    assert sample_frames(bmp, "image/bmp") == [px[i * 12 : (i + 1) * 12] for i in range(4)]
    assert sample_frames(png, "image/png") == [px[i * 12 : (i + 1) * 12] for i in range(4)]
    assert sample_frames(wav, "audio/wav") == [
        samples[i * 16 : (i + 1) * 16] for i in range(4)
    ]


def test_multimodal_frame_sample_values(spark, sf_dir):
    """Frame fan-out: N binary rows per doc, frames/thumbs match the
    local kernels byte-for-byte across all four routed mimes;
    entropy-coded codecs refuse. (The registered query exposes byte STATS
    of these frames — oracle-checked by the driver; the raw binary
    plumbing is pinned here.)"""
    from pyspark.sql import functions as F

    from gmall_flink_parent_spark.functions.multimodal import (
        N_FRAMES,
        _routed_payload,
        build_payload_bytes,
        frame_sample_rows,
        resize_frame,
        sample_frames,
    )

    with pytest.raises(NotImplementedError):
        sample_frames(b"\x00\x00\x01\xba", "video/mpeg")
    docs_df = load_table(spark, sf_dir, "documents")
    payload, mime = _routed_payload(F.col("doc_id"), F.encode(F.col("text"), "UTF-8"))
    with_payload = docs_df.select(
        "doc_id", payload.alias("payload"), mime.alias("mime")
    )
    got: dict[tuple[int, int], tuple[bytes, bytes]] = {}
    mimes_seen = set()
    for r in with_payload.select("mime").distinct().collect():
        mimes_seen.add(r["mime"])
    assert mimes_seen == {"image/bmp", "audio/wav", "image/png", "text/plain"}
    for r in frame_sample_rows(with_payload).collect():
        got[(r["doc_id"], r["frame_idx"])] = (bytes(r["frame"]), bytes(r["thumb"]))
    docs = docs_df.select("doc_id", "text").collect()
    assert len(got) == N_FRAMES * len(docs)
    for r in docs[:40]:
        pay, mm = build_payload_bytes(r["doc_id"], r["text"])
        for i, fr in enumerate(sample_frames(pay, mm)):
            assert got[(r["doc_id"], i)] == (fr, resize_frame(fr)), (r["doc_id"], i)


def test_multimodal_features_values(spark, sf_dir):
    """The distributed mapInPandas pipeline reproduces the local decode
    kernels, BMP/WAV header parsing included."""
    from gmall_flink_parent_spark.functions.multimodal import build_payload_bytes

    rows = plans.query_map()["multimodal_meta_features"](spark, sf_dir).collect()
    got = {
        r["doc_id"]: (r["mime"], r["n_units"], r["first_unit"], r["unit_sum_mod"])
        for r in rows
    }
    assert {r["mime"] for r in rows} == {
        "image/bmp",
        "audio/wav",
        "image/png",
        "text/plain",
    }
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    assert len(got) == len(docs)
    for r in docs:
        pay, mm = build_payload_bytes(r["doc_id"], r["text"])
        want = decode_media(pay, mm)
        assert got[r["doc_id"]] == (
            mm,
            want["n_units"],
            want["first_unit"],
            want["unit_sum_mod"],
        ), r["doc_id"]


def test_connected_components_long_chain(spark):
    """Pointer doubling must collapse a 100-node path graph — plain
    neighbor-min propagation would need 99 rounds and the old 32-round
    cap silently returned wrong labels."""
    from pyspark.sql import functions as F

    from gmall_flink_parent_spark.functions.dedup import connected_components

    n = 100
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    pairs = spark.range(n - 1).select(
        F.col("id").alias("doc_id_a"), (F.col("id") + 1).alias("doc_id_b")
    )
    labels = {r["doc_id"]: r["label"] for r in connected_components(nodes, pairs).collect()}
    assert labels == {i: 0 for i in range(n)}


def test_sql_macros_inline_into_codegen(spark, sf_dir):
    """SQL UDFs are macros: bodies inline at analysis time, so the plan
    is a single JVM-side Project over the scan — no Python-eval node, no
    exchange. (The higher-order `filter` lambda keeps this Project out of
    whole-stage codegen, but it stays interpreted-JVM, never Python.)"""
    df = plans.query_map()["sql_function_surface"](spark, sf_dir)
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in physical and "ArrowEvalPython" not in physical
    assert "Exchange" not in physical
    assert "FileScan parquet" in physical


def test_pack_bins_capacity_invariant(spark, sf_dir):
    """Packing is a per-shard prefix sum: offsets stay below the cap and
    consecutive docs in a shard are contiguous in token space."""
    from gmall_flink_parent_spark.functions.curation import _PACK_CAP

    rows = (
        plans.query_map()["doc_pack_bins"](spark, sf_dir)
        .orderBy("source", "doc_id")
        .collect()
    )
    assert rows
    cum: dict[str, int] = {}
    for r in rows:
        assert 0 <= r["seq_offset"] < _PACK_CAP
        expect = cum.get(r["source"], 0)
        assert (r["seq_id"] * _PACK_CAP + r["seq_offset"]) == expect, r
        cum[r["source"]] = expect + r["n_tokens"]


def test_multiprobe_dominates_single_probe(spark, sf_dir):
    """Hamming-1 multi-probe searches a superset of the single-probe
    candidates, so its best cosine per query can never be worse."""
    single = {
        r["query_id"]: r["cos_sim"]
        for r in plans.query_map()["ann_srp_lsh"](spark, sf_dir).collect()
        if r["rnk"] == 1
    }
    multi = {
        r["query_id"]: r["cos_sim"]
        for r in plans.query_map()["ann_srp_multiprobe"](spark, sf_dir).collect()
        if r["rnk"] == 1
    }
    assert set(single) <= set(multi)  # every answered query still answered
    for qid, cs in single.items():
        assert multi[qid] >= cs, qid


def test_fan_out_is_noop_on_wide_input(spark, sf_dir):
    """fan_out adds no shuffle when the scan is already at least as wide
    as the cluster — the guard that makes it free at real scale."""
    from gmall_flink_parent_spark.sources.tables import fan_out, load_table

    docs = load_table(spark, sf_dir, "documents")
    narrow = fan_out(spark, docs)
    assert narrow.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    wide = docs.repartition(spark.sparkContext.defaultParallelism + 1)
    assert fan_out(spark, wide) is wide


def test_fan_out_width_contract_on_many_tiny_files(spark, tmp_path):
    """The estimate must mirror FilePartition packing (openCostInBytes
    included — round-2 advisor finding), so whatever fan_out decides,
    the resulting scan is at least target wide. Spark's own adaptive
    maxSplitBytes already spreads target-many tiny files across ~target
    partitions; the estimate agreeing with that makes the repair a no-op
    exactly when it should be."""
    from gmall_flink_parent_spark.sources.tables import fan_out

    target = spark.sparkContext.defaultParallelism
    spark.range(target * 10).repartition(target).write.parquet(str(tmp_path / "tiny"))
    df = spark.read.parquet(str(tmp_path / "tiny"))
    assert len(df.inputFiles()) >= target
    assert fan_out(spark, df).rdd.getNumPartitions() >= target


def test_fan_out_treats_gzip_as_one_task_per_file(spark, tmp_path):
    """A stream-codec (.gz) file scans as ONE task regardless of size —
    the splittable ceil-div estimate must not early-exit on it."""
    import pandas as pd

    from gmall_flink_parent_spark.sources.tables import fan_out

    target = spark.sparkContext.defaultParallelism
    (tmp_path / "gz").mkdir()
    pd.DataFrame({"v": ["x" * 80] * 20000}).to_csv(
        str(tmp_path / "gz" / "one.csv.gz"), index=False, compression="gzip"
    )
    df = spark.read.option("header", "true").csv(str(tmp_path / "gz"))
    assert df.rdd.getNumPartitions() == 1
    out = fan_out(spark, df)
    assert out.rdd.getNumPartitions() >= target


def test_simhash_probe_join_is_equi_join(spark, sf_dir):
    """Candidate generation must be an equi-join on probe keys — a plan
    with a nested-loop or cartesian join would be the quadratic shape
    the probe tables exist to avoid."""
    import contextlib
    import io

    df = plans.query_map()["simhash_near_dup"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_minhash_lsh_reads_cluster_cache_not_corpus(spark, sf_dir):
    """The one-scan claim of SCALE.md, pinned: the LSH pair plan's three
    signature-cluster consumers must read the persisted reduced frame
    (InMemoryTableScan), never re-scan + re-minhash the corpus per
    consumer."""
    import contextlib
    import io

    df = plans.query_map()["dedup_minhash_lsh"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    n_cache_reads = plan.count("InMemoryTableScan")
    assert n_cache_reads >= 2, f"cluster cache not reused: {n_cache_reads} reads"
    # the corpus parquet appears only inside the cache's lineage, so the
    # executed plan holds no second Scan outside the InMemoryRelation
    assert plan.count("InMemoryRelation") <= n_cache_reads


def test_band_pairs_salted_hot_bucket_invariant_and_bounded(spark):
    """Skew-resistant band join: an adversarial corpus (one band bucket
    holding every cluster — the boilerplate-template case) must produce
    IDENTICAL pairs through the salted path and the plain join, while
    the salted build side is split into many bounded groups instead of
    one B-row bucket."""
    from pyspark.sql import functions as F

    from gmall_flink_parent_spark.functions.dedup import (
        BANDS,
        N_BAND_SALT,
        NUM_HASHES,
        ROWS_PER_BAND,
        _band_pairs,
    )

    n = 200
    rows = []
    for i in range(n):
        # band 0 (s0..s3) identical everywhere → one hot bucket with all
        # n clusters; s4..s15 shared only within consecutive pairs, so
        # (2k, 2k+1) match 16/16 and every other pair dies at 4/16.
        sig = ["H"] * ROWS_PER_BAND + [f"v{i // 2}"] * (NUM_HASHES - ROWS_PER_BAND)
        for j in range(BANDS):
            bh = ":".join(sig[j * ROWS_PER_BAND : (j + 1) * ROWS_PER_BAND])
            rows.append((i, [i], *sig, j, bh))
    schema = (
        "rep long, ids array<long>, "
        + ", ".join(f"s{k} string" for k in range(NUM_HASHES))
        + ", band_idx int, bh string"
    )
    banded = spark.createDataFrame(rows, schema)

    def collect_pairs(df):
        return sorted(
            (r["x"], r["y"], r["est_jaccard"])
            for r in df.select(
                F.least("x", "y").alias("x"), F.greatest("x", "y").alias("y"), "est_jaccard"
            ).collect()
        )

    plain = collect_pairs(_band_pairs(banded, hot_threshold=10**9))
    salted = collect_pairs(_band_pairs(banded, hot_threshold=50))
    assert plain == salted
    assert len(salted) == n // 2  # exactly the consecutive pairs
    assert all(e == 1.0 for _, _, e in salted)
    # the physical plan actually takes the two-branch shape
    physical = (
        _band_pairs(banded, hot_threshold=50)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Union" in physical
    # bounded build side: the hot bucket's B rows split into many salt
    # groups, each far below B (xxhash spread, not exact B/G)
    groups = (
        banded.filter(F.col("band_idx") == 0)
        .select(F.pmod(F.xxhash64("rep"), F.lit(N_BAND_SALT)).alias("g"))
        .groupBy("g")
        .count()
        .collect()
    )
    assert len(groups) >= N_BAND_SALT // 2
    assert max(r["count"] for r in groups) <= 3 * (n // N_BAND_SALT)


def test_minhash_salted_conf_wiring_result_invariant(spark, sf_dir):
    """Flipping the hot-bucket config on the registered query must not
    change a single pair — the salted rewrite is distribution-only."""
    from gmall_flink_parent_spark.functions.dedup import HOT_BUCKET_CONF

    q = plans.query_map()["dedup_minhash_lsh"]
    base = sorted(map(tuple, q(spark, sf_dir).collect()))
    spark.conf.set(HOT_BUCKET_CONF, "2")  # absurdly low: everything hot
    try:
        salted = sorted(map(tuple, q(spark, sf_dir).collect()))
    finally:
        spark.conf.unset(HOT_BUCKET_CONF)
    assert base == salted and len(base) > 0


def test_ahash_pairs_salted_hot_bucket_invariant_and_bounded(spark):
    """Skew-resistant aHash probe join: an adversarial corpus whose
    hashes ALL share one 8-bit probe block (near-uniform images — the
    all-black-thumbnail case) must produce IDENTICAL pairs through the
    salted path and the plain join, while the salted build side splits
    into many bounded groups instead of one B-row bucket."""
    from pyspark.sql import functions as F

    from gmall_flink_parent_spark.functions.multimodal import (
        N_AHASH_SALT,
        ahash_pairs_frame,
    )
    from gmall_flink_parent_spark.registry import scoped_persist

    # Every hash shares low byte 0x07 → table-0 bucket (0, 7) holds ALL
    # rows (the hot bucket). High bytes: one distinct weight-2 byte per
    # doc pair (xor of two distinct even-weight values has even weight
    # >= 2, so no cross-pair Hamming<=1 survivor), docs 2k/2k+1 share
    # their hash exactly (Hamming 0, first-match table 0).
    two_bit = [
        (1 << i) | (1 << j) for i in range(8) for j in range(i + 1, 8)
    ]  # 28 values
    rows = [
        (2 * g + p, hi * 256 + 0x07)
        for g, hi in enumerate(two_bit)
        for p in (0, 1)
    ]
    hashed = scoped_persist(
        spark.createDataFrame(rows, "doc_id long, ahash long")
    )

    def collect_pairs(df):
        return sorted(
            (r["doc_id_a"], r["doc_id_b"], r["hamming"]) for r in df.collect()
        )

    plain = collect_pairs(ahash_pairs_frame(hashed, hot_threshold=10**9))
    salted = collect_pairs(ahash_pairs_frame(hashed, hot_threshold=10))
    assert plain == salted
    assert len(salted) == len(two_bit)  # exactly the within-pair matches
    assert all(h == 0 for _, _, h in salted)
    # the physical plan actually takes the two-branch shape
    physical = (
        ahash_pairs_frame(hashed, hot_threshold=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Union" in physical
    # bounded build side: the hot bucket's B rows split across many salt
    # groups, each far below B (xxhash spread is deterministic here —
    # fixed doc_ids, fixed salt count — so these bounds cannot flake)
    groups = (
        hashed.select(
            F.pmod(F.xxhash64("doc_id"), F.lit(N_AHASH_SALT)).alias("g")
        )
        .groupBy("g")
        .count()
        .collect()
    )
    assert len(groups) >= N_AHASH_SALT // 2
    assert max(r["count"] for r in groups) <= len(rows) // 4


def test_ahash_salted_conf_wiring_result_invariant(spark, sf_dir):
    """Flipping the aHash hot-bucket config on the registered query (and
    on the store head's shared core) must not change a single pair — the
    salted rewrite is distribution-only."""
    from gmall_flink_parent_spark.functions.multimodal import (
        AHASH_HOT_BUCKET_CONF,
    )

    q = plans.query_map()["image_ahash_near_dup"]
    base = sorted(map(tuple, q(spark, sf_dir).collect()))
    spark.conf.set(AHASH_HOT_BUCKET_CONF, "2")  # absurdly low: everything hot
    try:
        salted = sorted(map(tuple, q(spark, sf_dir).collect()))
    finally:
        spark.conf.unset(AHASH_HOT_BUCKET_CONF)
    assert base == salted and len(base) > 0


def test_bm25_multi_query_reproduces_fixed_head(spark, sf_dir):
    """The query-table BM25 form with the fixed term set as its single
    query must reproduce the registered head's ranking row for row —
    and a genuinely multi-query table must rank each query
    independently, through an equi/bounded-broadcast-only plan."""
    from gmall_flink_parent_spark.functions.chunks import chunk_windows_frame
    from gmall_flink_parent_spark.functions.retrieval import (
        BM25_TOPK,
        QUERY_TERMS,
        bm25_topk_multi,
    )
    from gmall_flink_parent_spark.sources.tables import fan_out

    chunks = chunk_windows_frame(
        fan_out(spark, load_table(spark, sf_dir, "documents"))
    )
    head = plans.query_map()["chunk_bm25_topk"](spark, sf_dir).collect()
    want = [(r["doc_id"], r["chunk_idx"], r["chunk_id"], r["bm25"]) for r in head]
    # the comparison below is total only while every head row matched
    # >= 1 term (multi returns no zero-score padding) — assert loudly
    assert len(want) == BM25_TOPK and all(t[3] > 0 for t in want)

    queries = spark.createDataFrame(
        [(7, list(QUERY_TERMS)), (9, [QUERY_TERMS[0], QUERY_TERMS[0], "zzz-notaword"])],
        "query_id long, terms array<string>",
    )
    multi = bm25_topk_multi(chunks, queries)
    rows = multi.collect()
    got7 = sorted(
        ((r["rnk"], r["doc_id"], r["chunk_idx"], r["chunk_id"], r["bm25"])
         for r in rows if r["query_id"] == 7)
    )
    assert [(d, ci, cid, b) for _, d, ci, cid, b in got7] == want

    # second query: duplicate terms count once, unknown terms drop out,
    # ranking is per-query (contiguous rnk, nonincreasing score)
    got9 = sorted(
        ((r["rnk"], r["bm25"]) for r in rows if r["query_id"] == 9)
    )
    assert [r for r, _ in got9] == list(range(1, len(got9) + 1))
    assert all(got9[i][1] >= got9[i + 1][1] for i in range(len(got9) - 1))
    assert len(got9) > 0

    physical = multi._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in physical


def test_cosine_topk_frame_parameterized_queries(spark, sf_dir):
    """The query-table ANN form with the fixed vec_id<8 set must
    reproduce both registered heads (brute-force and IVF-pruned), and
    an EXTERNAL query vector — ids outside the corpus space,
    exclude_self off — must rank the whole corpus."""
    from gmall_flink_parent_spark.functions.similarity import (
        IVF_TOP_K,
        N_QUERIES,
        TOP_K,
        cosine_topk_frame,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    for name, kw, k in (
        ("cosine_topk_bruteforce", {}, TOP_K),
        ("ann_ivf_bucketed", {"same_label": True}, IVF_TOP_K),
    ):
        got = sorted(
            tuple(r) for r in cosine_topk_frame(emb, q, k, **kw).collect()
        )
        want = sorted(tuple(r) for r in plans.query_map()[name](spark, sf_dir).collect())
        assert got == want and len(want) == N_QUERIES * k, name

    novel = spark.createDataFrame(
        [(10_000_000, [0.25] * 64)], "query_id long, q_emb array<float>"
    )
    res = cosine_topk_frame(emb, novel, top_k=5, exclude_self=False).collect()
    assert [r["rnk"] for r in sorted(res, key=lambda r: r["rnk"])] == [1, 2, 3, 4, 5]
    sims = [r["cos_sim"] for r in sorted(res, key=lambda r: r["rnk"])]
    assert all(sims[i] >= sims[i + 1] for i in range(4))
    assert all(r["query_id"] == 10_000_000 for r in res)


def test_srp_multiprobe_recall_vs_bruteforce(spark, sf_dir):
    """Approximation quality pinned, not assumed: the multi-probe SRP
    top-1 must recover the exact brute-force top-1 neighbor for at
    least half the query vectors at test scale (random hyperplanes are
    seeded, so this is deterministic, not flaky)."""
    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in plans.query_map()["cosine_topk_bruteforce"](spark, sf_dir).collect()
        if r["rnk"] == 1
    }
    approx = {
        r["query_id"]: r["neighbor_id"]
        for r in plans.query_map()["ann_srp_multiprobe"](spark, sf_dir).collect()
        if r["rnk"] == 1
    }
    hits = sum(1 for q, n in exact.items() if approx.get(q) == n)
    assert hits >= len(exact) / 2, f"top-1 recall {hits}/{len(exact)}"


def test_ann_bucket_joins_are_equi_joins(spark, sf_dir):
    """Every ANN variant's candidate generation must be an equi-join on
    bucket/cell keys — a nested-loop join would be the brute-force shape
    the buckets exist to avoid."""
    import contextlib
    import io

    for name in ("ann_srp_lsh", "ann_srp_multiprobe", "ann_ivf_bucketed"):
        df = plans.query_map()[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_jpeg_codec_kernels():
    """Baseline JPEG decode for real. The first check is ENCODER-
    INDEPENDENT: a hand-assembled single-block grayscale JPEG (markers,
    DHT, and entropy bits written out by hand in this test) whose only
    nonzero coefficient is the DC term — T.81 fixes the decoded block to
    the flat value round(DC*q/8) + 128, so marker parsing, canonical
    Huffman construction, dequantization, and IDCT scaling are verified
    without trusting encode_jpeg. Then encoder round trips, unsupported
    modes, and the decode_media/_content_region integration."""
    import struct

    import numpy as np

    from gmall_flink_parent_spark.functions.jpeg import (
        LOSSY_QUANT,
        decode_jpeg,
        encode_jpeg,
    )

    # --- hand-built stream: 8x8 gray, q=2 everywhere, DC quantized = 24
    def seg(marker, payload):
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    dc_bits = [0, 0, 0, 12] + [0] * 12  # 12 size symbols, all 4-bit codes
    dc_vals = list(range(12))  # canonical => symbol k gets code k
    ac_bits = [0, 0, 1] + [0] * 13  # ONE 3-bit code...
    ac_vals = [0x00]  # ...for EOB, code 0b000
    # entropy bits: DC size 5 -> 0101; amplitude 24 -> 11000; EOB -> 000
    # = 0101 11000 000 + 1111 padding -> bytes 0x5C 0x0F
    scan = bytes([0b01011100, 0b00001111])
    hand = (
        b"\xff\xd8"
        # T.81 B.1.1.2 interchange noise a spec decoder must tolerate:
        # a 0xFF fill byte before a marker, and a parameterless TEM
        + b"\xff"
        + seg(0xDB, bytes([0]) + bytes([2] * 64))
        + b"\xff\x01"  # TEM — no length field
        + seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
        + seg(0xC4, bytes([0x00] + dc_bits) + bytes(dc_vals))
        + seg(0xC4, bytes([0x10] + ac_bits) + bytes(ac_vals))
        + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + scan
        + b"\xff\xd9"
    )
    w, h, nc, px = decode_jpeg(hand)
    assert (w, h, nc) == (8, 8, 1)
    assert px == bytes([24 * 2 // 8 + 128]) * 64  # flat 134

    # LOSSY_QUANT must be in zigzag order: zigzag index 2 is natural
    # index 8 (row 1 col 0) = 12 in the standard-shape table — the
    # natural-order constant passed through unconverted had 10 here,
    # scrambling the effective matrix
    assert (LOSSY_QUANT[0], LOSSY_QUANT[2], int(LOSSY_QUANT.max())) == (16, 12, 121)

    # --- encoder round trips: flat quant => DCT rounding only
    rng = np.random.RandomState(11)
    gray = rng.randint(0, 256, size=16 * 12, dtype=np.uint8).tobytes()
    w, h, nc, out = decode_jpeg(encode_jpeg(gray, 16, 12, channels=1))
    assert (w, h, nc) == (16, 12, 1)
    diff = np.abs(
        np.frombuffer(out, np.uint8).astype(int)
        - np.frombuffer(gray, np.uint8).astype(int)
    )
    assert diff.max() <= 2
    rgb = rng.randint(0, 256, size=8 * 8 * 3, dtype=np.uint8).tobytes()
    w, h, nc, out = decode_jpeg(encode_jpeg(rgb, 8, 8, channels=3))
    assert (w, h, nc) == (8, 8, 3)
    diff = np.abs(
        np.frombuffer(out, np.uint8).astype(int)
        - np.frombuffer(rgb, np.uint8).astype(int)
    )
    assert diff.max() <= 4  # YCbCr float transform adds ~1 count

    # lossy tables shrink the stream and stay close on smooth content
    grad = bytes(((x * 2 + y) % 256) for y in range(16) for x in range(16))
    flat_j = encode_jpeg(grad, 16, 16, channels=1)
    lossy_j = encode_jpeg(grad, 16, 16, channels=1, quant=LOSSY_QUANT)
    assert len(lossy_j) < len(flat_j)
    _, _, _, out = decode_jpeg(lossy_j)
    diff = np.abs(
        np.frombuffer(out, np.uint8).astype(int)
        - np.frombuffer(grad, np.uint8).astype(int)
    )
    assert diff.max() <= 8

    # unsupported modes refuse loudly, garbage refuses loudly
    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x00" + hand[2:])
    progressive = hand.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(NotImplementedError):
        decode_jpeg(progressive)

    # decode_media / frame sampling integration
    from gmall_flink_parent_spark.functions.multimodal import sample_frames

    feats = decode_media(encode_jpeg(gray, 16, 12, channels=1), "image/jpeg")
    want_px = np.frombuffer(
        decode_jpeg(encode_jpeg(gray, 16, 12, channels=1))[3], np.uint8
    )
    assert feats == {
        "n_units": 16 * 12,
        "first_unit": int(want_px[0]),
        "unit_sum_mod": int(want_px.sum()) % 997,
    }
    frames = sample_frames(encode_jpeg(gray, 16, 12, channels=1), "image/jpeg")
    assert b"".join(frames) == want_px.tobytes()[: len(b"".join(frames))]


def test_jpeg_distributed_decode_path(spark):
    """image/jpeg payloads ride the same Arrow mapInPandas decode stage
    as the routed mimes: build a small binary-column frame of real JPEG
    files and pin the distributed features to the local kernel."""
    import numpy as np

    from gmall_flink_parent_spark.functions.jpeg import decode_jpeg, encode_jpeg
    from gmall_flink_parent_spark.functions.multimodal import (
        extract_media_features,
    )

    rng = np.random.RandomState(5)
    rows = []
    for i in range(12):
        ch = 1 if i % 2 else 3
        w, h = 8 + 8 * (i % 3), 8
        px = rng.randint(0, 256, size=w * h * ch, dtype=np.uint8).tobytes()
        rows.append((i, bytearray(encode_jpeg(px, w, h, channels=ch)), "image/jpeg"))
    df = spark.createDataFrame(rows, "doc_id long, payload binary, mime string")
    got = {
        r["doc_id"]: (r["n_units"], r["first_unit"], r["unit_sum_mod"])
        for r in extract_media_features(df).collect()
    }
    assert len(got) == 12
    for doc_id, payload, _m in rows:
        w, h, _nc, px = decode_jpeg(bytes(payload))
        assert got[doc_id] == (w * h, px[0], sum(px) % 997), doc_id


def test_doc_length_quantiles_approx_bounds(spark, sf_dir):
    """The sketch path is bounded by RANK, not value: GK guarantees the
    returned element's rank is within rel-error of the target, and the
    exact query interpolates between the two adjacent order statistics —
    so the sketch value must be an actual order statistic within one
    rank step of the interpolation window (value-distance bounds are
    meaningless across gaps in the length distribution)."""
    import math

    exact = {
        r["source"]: r
        for r in plans.query_map()["doc_length_quantiles"](spark, sf_dir).collect()
    }
    approx = {
        r["source"]: r
        for r in plans.query_map()["doc_length_quantiles_approx"](
            spark, sf_dir
        ).collect()
    }
    assert approx.keys() == exact.keys()
    lengths: dict[str, list[int]] = {}
    for r in (
        load_table(spark, sf_dir, "documents")
        .select("source", F.size(F.split("text", " ")).alias("n"))
        .collect()
    ):
        lengths.setdefault(r["source"], []).append(r["n"])
    for src, a in approx.items():
        e = exact[src]
        vals = sorted(lengths[src])
        assert a["n_docs"] == e["n_docs"] == len(vals)
        assert a["avg_tokens"] == e["avg_tokens"]
        for p, q in ((0.5, "p50_tokens"), (0.9, "p90_tokens"), (0.99, "p99_tokens")):
            target = p * (len(vals) - 1)  # interpolation rank of the exact query
            lo = vals[max(math.floor(target) - 1, 0)]
            hi = vals[min(math.ceil(target) + 1, len(vals) - 1)]
            assert lo <= a[q] <= hi, (src, q, a[q], lo, hi)
            assert a[q] in vals, (src, q)  # a real order statistic, not interpolated


def test_png_jvm_construction_matches_python_mirror(spark):
    """The pure-codegen PNG payload (stored-deflate + expression-built
    adler32/crc32) must equal encode_png(level=0) BYTE FOR BYTE — pins
    the JVM checksum expressions against zlib's own implementations,
    including multi-byte UTF-8 pixel content."""
    from pyspark.sql import functions as F

    from gmall_flink_parent_spark.functions.multimodal import (
        _routed_payload,
        build_payload_bytes,
        decode_media,
    )

    texts = [
        "x" * 70,
        "hello world " * 8,
        "".join(chr(0x100 + i) for i in range(40)) + "abc" * 20,
        "éèê" * 40,  # 2-byte UTF-8 sequences
    ]
    df = spark.createDataFrame(
        [(4 * i + 2, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    payload, mime = _routed_payload(F.col("doc_id"), F.encode(F.col("text"), "UTF-8"))
    for r in df.select("doc_id", "text", payload.alias("p"), mime.alias("m")).collect():
        want, wm = build_payload_bytes(r["doc_id"], r["text"])
        assert r["m"] == wm == "image/png", r["doc_id"]
        assert bytes(r["p"]) == want, r["doc_id"]
        # and the file is genuinely decodable (zlib verifies the
        # JVM-computed adler32; the chunk walk verifies the crc32)
        assert decode_media(bytes(r["p"]), "image/png")["n_units"] == 16


def test_jpeg_420_subsampling():
    """4:2:0 chroma subsampling — the layout most real-world JPEGs use:
    generalized MCU decode (4 luma + 2 chroma blocks per 16×16), chroma
    upsampling, odd-geometry crop. Gray-content RGB has constant chroma,
    so 4:2:0 loses nothing there beyond DCT rounding — an exact-ish pin;
    colorful smooth content is bounded in the mean."""
    import numpy as np

    from gmall_flink_parent_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(9)
    gray_rgb = np.repeat(
        rng.randint(0, 256, size=(24, 16, 1), dtype=np.uint8), 3, axis=2
    ).tobytes()
    w, h, nc, out = decode_jpeg(encode_jpeg(gray_rgb, 16, 24, channels=3, subsample=True))
    assert (w, h, nc) == (16, 24, 3)
    diff = np.abs(
        np.frombuffer(out, np.uint8).astype(int)
        - np.frombuffer(gray_rgb, np.uint8).astype(int)
    )
    assert diff.max() <= 4

    grad = np.zeros((32, 32, 3), np.uint8)
    for y in range(32):
        for x in range(32):
            grad[y, x] = (x * 8 % 256, y * 8 % 256, (x + y) * 4 % 256)
    w, h, nc, out = decode_jpeg(encode_jpeg(grad.tobytes(), 32, 32, channels=3, subsample=True))
    diff = np.abs(
        np.frombuffer(out, np.uint8).astype(int)
        - np.frombuffer(grad.tobytes(), np.uint8).astype(int)
    )
    assert diff.mean() <= 8

    # odd geometry: padded MCU grid must crop back exactly
    odd = rng.randint(0, 256, size=(13, 11, 3), dtype=np.uint8).tobytes()
    w, h, nc, out = decode_jpeg(encode_jpeg(odd, 11, 13, channels=3, subsample=True))
    assert (w, h, nc) == (11, 13, 3) and len(out) == 11 * 13 * 3

    # unsupported sampling factors still refuse loudly
    import struct

    from gmall_flink_parent_spark.functions.jpeg import _seg

    bad_sof = _seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x31, 0]))
    with pytest.raises(NotImplementedError):
        decode_jpeg(b"\xff\xd8" + bad_sof + b"\xff\xd9")


def test_jpeg_restart_intervals():
    """DRI/RSTn framing (camera JPEGs): the encoder pads to the byte
    boundary, emits cycling RSTn, and resets DC prediction every N MCUs;
    the decoder consumes the markers at the declared cadence. Framing
    must not change decoded content, and a stream whose RSTn is missing
    where DRI promises one must refuse."""
    import numpy as np

    from gmall_flink_parent_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(4)
    px = rng.randint(0, 256, size=32 * 24, dtype=np.uint8).tobytes()
    j = encode_jpeg(px, 32, 24, channels=1, restart_interval=5)
    assert b"\xff\xd0" in j and b"\xff\xd1" in j  # 12 MCUs / 5 -> RST0, RST1
    _, _, _, out = decode_jpeg(j)
    diff = np.abs(
        np.frombuffer(out, np.uint8).astype(int)
        - np.frombuffer(px, np.uint8).astype(int)
    )
    assert diff.max() <= 2
    # framing is content-neutral
    assert out == decode_jpeg(encode_jpeg(px, 32, 24, channels=1))[3]
    # 4:2:0 + restarts compose
    px3 = rng.randint(0, 256, size=48 * 32 * 3, dtype=np.uint8).tobytes()
    w, h, nc, _ = decode_jpeg(
        encode_jpeg(px3, 48, 32, channels=3, subsample=True, restart_interval=2)
    )
    assert (w, h, nc) == (48, 32, 3)
    # a DRI that promises restarts the scan doesn't contain must refuse
    no_rst = encode_jpeg(px, 32, 24, channels=1)
    import struct

    from gmall_flink_parent_spark.functions.jpeg import _seg

    sos_at = no_rst.find(b"\xff\xda")
    lying = no_rst[:sos_at] + _seg(0xDD, struct.pack(">H", 5)) + no_rst[sos_at:]
    with pytest.raises(ValueError):
        decode_jpeg(lying)


def test_pil_adapter_seam_routes_compressed_image_mimes(monkeypatch):
    """The Pillow seam contract (``multimodal._pil_pixels``), pinned with
    a FAKED ``PIL`` module (same pattern as the faked-Delta MERGE
    dispatch test): with PIL importable, an image mime the in-repo
    kernels don't cover (webp) routes through open-from-bytes →
    mode-convert → size/tobytes and lands in the shared
    ``_pixel_stats`` contract; without PIL the honest
    NotImplementedError stands. A real Pillow dropped into the
    environment therefore meets a tested surface."""
    import sys
    import types

    from gmall_flink_parent_spark.functions.multimodal import (
        decode_media,
        sample_frames,
    )

    px = bytes(range(24))  # 4x2 RGB

    class FakeRGB:
        mode = "RGB"
        size = (4, 2)

        def tobytes(self):
            return px

    class FakePalette:
        mode = "P"  # forces the convert("RGB") branch
        size = (4, 2)

        def __init__(self, fp):
            self.raw = fp.read()

        def convert(self, target):
            assert target == "RGB"
            assert self.raw == b"RIFFfakeWEBP"  # open() got the payload bytes
            return FakeRGB()

    fake_image_mod = types.ModuleType("PIL.Image")
    fake_image_mod.open = FakePalette
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image_mod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image_mod)

    feats = decode_media(b"RIFFfakeWEBP", "image/webp")
    assert feats == {
        "n_units": 8,
        "first_unit": px[0],
        "unit_sum_mod": sum(px) % 997,
    }
    # frame sampling slices the PIL-decoded content region
    assert b"".join(sample_frames(b"RIFFfakeWEBP", "image/webp")) == px
    # audio/video stay at the libav seam — PIL must NOT be consulted
    with pytest.raises(NotImplementedError):
        decode_media(b"\x00\x00\x00\x20ftypmp42", "video/mp4")

    # progressive JPEG: the baseline kernel refuses (SOF2), and the
    # refusal falls through to the Pillow adapter instead of escaping
    import struct

    from gmall_flink_parent_spark.functions.jpeg import _seg

    progressive = b"\xff\xd8" + _seg(0xC2, struct.pack(">BHHB", 8, 8, 8, 1))

    class FakeAny:
        mode = "RGB"
        size = (4, 2)

        def __init__(self, fp):
            pass

        def tobytes(self):
            return px

    fake_image_mod.open = FakeAny
    assert decode_media(progressive, "image/jpeg")["n_units"] == 8

    # malformed payload under PIL: the uniform ValueError contract, not
    # a raw PIL exception escaping the Arrow batch
    def explode(fp):
        raise OSError("cannot identify image file")

    fake_image_mod.open = explode
    with pytest.raises(ValueError, match="could not decode"):
        decode_media(b"garbage", "image/webp")

    # Pillow's failure surface is wider than OSError/ValueError: plugin
    # parsers raise struct.error or SyntaxError on truncated streams,
    # and the bomb check raises Image.DecompressionBombError (a plain
    # Exception subclass). All of them must land in the same uniform
    # ValueError.
    class FakeDecompressionBombError(Exception):
        pass

    for raw_exc in (
        struct.error("unpack requires a buffer"),
        SyntaxError("broken PNG file"),
        FakeDecompressionBombError("bomb check tripped"),
    ):

        def explode_typed(fp, _exc=raw_exc):
            raise _exc

        fake_image_mod.open = explode_typed
        with pytest.raises(ValueError, match="could not decode"):
            decode_media(b"garbage", "image/webp")

    # ...but a genuine MemoryError is a resource condition, not a data
    # defect — it must escape UNwrapped so retries see the real cause
    def explode_oom(fp):
        raise MemoryError("allocation failed")

    fake_image_mod.open = explode_oom
    with pytest.raises(MemoryError):
        decode_media(b"garbage", "image/webp")

    # and with PIL genuinely absent the image seam refuses loudly.
    # sys.modules[name] = None makes the import itself raise ImportError
    # even when a real Pillow is installed — delitem would only drop the
    # cache and let a real install be re-imported.
    monkeypatch.setitem(sys.modules, "PIL", None)
    monkeypatch.setitem(sys.modules, "PIL.Image", None)
    with pytest.raises(NotImplementedError):
        decode_media(b"RIFFfakeWEBP", "image/webp")


def test_jpeg_422_hand_built_stream():
    """4:2:2 decode, pinned ENCODER-INDEPENDENTLY with a hand-assembled
    stream (same style as the hand-built block in
    test_jpeg_codec_kernels) so the sh=2/sv=1 branch of the generalized
    MCU loop is verified without trusting the encoder's own 4:2:2 path
    (round-tripped separately in test_jpeg_422_encoder_roundtrip).
    One 16×8 MCU:
    Y blocks DC 24 then DC 40 (flat 134 / 138 after dequant+IDCT+shift),
    neutral chroma (DC 0 → 128), so RGB equals luma exactly — left half
    134, right half 138, every channel."""
    import struct

    import numpy as np

    from gmall_flink_parent_spark.functions.jpeg import decode_jpeg

    def seg(marker, payload):
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    dc_bits = [0, 0, 0, 12] + [0] * 12  # size symbols 0..11, all 4-bit
    dc_vals = list(range(12))  # canonical => symbol k gets code k
    ac_bits = [0, 0, 1] + [0] * 13  # one 3-bit code: EOB
    ac_vals = [0x00]
    # Y1: DC size 5 (0101) + amp 24 (11000) + EOB (000)
    # Y2: DC size 5 (0101) + amp 16 (10000) + EOB (000)  [diff 40-24]
    # Cb: DC size 0 (0000) + EOB (000);  Cr: same
    # = 38 bits + 2 pad-ones -> 0x5C 0x05 0x80 0x00 0x03
    scan = bytes([0x5C, 0x05, 0x80, 0x00, 0x03])
    sof = struct.pack(">BHHB", 8, 8, 16, 3) + bytes(
        [1, 0x21, 0, 2, 0x11, 0, 3, 0x11, 0]  # Y at sh=2 sv=1: 4:2:2
    )
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    stream = (
        b"\xff\xd8"
        + seg(0xDB, bytes([0]) + bytes([2] * 64))
        + seg(0xC0, sof)
        + seg(0xC4, bytes([0x00] + dc_bits) + bytes(dc_vals))
        + seg(0xC4, bytes([0x10] + ac_bits) + bytes(ac_vals))
        + seg(0xDA, sos)
        + scan
        + b"\xff\xd9"
    )
    w, h, nc, px = decode_jpeg(stream)
    assert (w, h, nc) == (16, 8, 3)
    out = np.frombuffer(px, np.uint8).reshape(8, 16, 3)
    assert (out[:, :8, :] == 134).all()  # left Y block, neutral chroma
    assert (out[:, 8:, :] == 138).all()  # right Y block

    # --- scan-shape validation (the 'refuse loudly' contract) ---
    def swap(body_sos):
        return (
            b"\xff\xd8"
            + seg(0xDB, bytes([0]) + bytes([2] * 64))
            + seg(0xC0, sof)
            + seg(0xC4, bytes([0x00] + dc_bits) + bytes(dc_vals))
            + seg(0xC4, bytes([0x10] + ac_bits) + bytes(ac_vals))
            + seg(0xDA, body_sos)
            + scan
            + b"\xff\xd9"
        )

    # multi-scan baseline (ns < nc) is not implemented, not mis-decoded
    with pytest.raises(NotImplementedError, match="interleaved"):
        decode_jpeg(swap(bytes([1, 1, 0x00, 0, 63, 0])))
    # SOS order differing from SOF order is malformed per T.81 B.2.3
    with pytest.raises(ValueError, match="component order"):
        decode_jpeg(swap(bytes([3, 2, 0x00, 1, 0x00, 3, 0x00, 0, 63, 0])))
    # undefined Huffman / quant table ids: uniform ValueError, no KeyError
    with pytest.raises(ValueError, match="undefined AC Huffman table"):
        decode_jpeg(swap(bytes([3, 1, 0x01, 2, 0x01, 3, 0x01, 0, 63, 0])))
    with pytest.raises(ValueError, match="undefined DC Huffman table"):
        decode_jpeg(swap(bytes([3, 1, 0x10, 2, 0x10, 3, 0x10, 0, 63, 0])))
    bad_q_sof = struct.pack(">BHHB", 8, 8, 16, 3) + bytes(
        [1, 0x21, 1, 2, 0x11, 1, 3, 0x11, 1]  # quant table 1 never declared
    )
    bad_q = (
        b"\xff\xd8"
        + seg(0xDB, bytes([0]) + bytes([2] * 64))
        + seg(0xC0, bad_q_sof)
        + seg(0xC4, bytes([0x00] + dc_bits) + bytes(dc_vals))
        + seg(0xC4, bytes([0x10] + ac_bits) + bytes(ac_vals))
        + seg(0xDA, sos)
        + scan
        + b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="undefined quant table"):
        decode_jpeg(bad_q)
    # single-component scan whose SOF declares sampling > 1 is
    # non-interleaved (T.81 A.2) — refuse, don't decode as interleaved
    one_comp = (
        b"\xff\xd8"
        + seg(0xDB, bytes([0]) + bytes([2] * 64))
        + seg(0xC0, struct.pack(">BHHB", 8, 8, 16, 1) + bytes([1, 0x21, 0]))
        + seg(0xC4, bytes([0x00] + dc_bits) + bytes(dc_vals))
        + seg(0xC4, bytes([0x10] + ac_bits) + bytes(ac_vals))
        + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + scan
        + b"\xff\xd9"
    )
    with pytest.raises(NotImplementedError, match="non-interleaved"):
        decode_jpeg(one_comp)


def test_jpeg_422_encoder_roundtrip():
    """Encoder 4:2:2 emission (``subsample="422"``): gray-content RGB
    has constant chroma so horizontal-pair averaging loses nothing
    beyond DCT rounding; odd geometry crops back exactly; restart
    framing composes; ``True`` stays an alias for "420"."""
    import numpy as np

    from gmall_flink_parent_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(21)
    gray_rgb = np.repeat(
        rng.randint(0, 256, size=(16, 32, 1), dtype=np.uint8), 3, axis=2
    ).tobytes()
    j = encode_jpeg(gray_rgb, 32, 16, channels=3, subsample="422")
    # SOF declares Y at 2x1 sampling
    sof_at = j.find(b"\xff\xc0")
    assert j[sof_at + 11] == 0x21
    w, h, nc, out = decode_jpeg(j)
    assert (w, h, nc) == (32, 16, 3)
    diff = np.abs(
        np.frombuffer(out, np.uint8).astype(int)
        - np.frombuffer(gray_rgb, np.uint8).astype(int)
    )
    assert diff.max() <= 4

    # colorful smooth content bounded in the mean (chroma pooling is lossy)
    grad = np.zeros((16, 32, 3), np.uint8)
    for y in range(16):
        for x in range(32):
            grad[y, x] = (x * 8 % 256, y * 8 % 256, (x + y) * 4 % 256)
    _, _, _, out = decode_jpeg(
        encode_jpeg(grad.tobytes(), 32, 16, channels=3, subsample="422")
    )
    diff = np.abs(
        np.frombuffer(out, np.uint8).astype(int)
        - np.frombuffer(grad.tobytes(), np.uint8).astype(int)
    )
    assert diff.mean() <= 8

    # odd geometry: padded 16x8 MCU grid must crop back exactly
    odd = rng.randint(0, 256, size=(13, 11, 3), dtype=np.uint8).tobytes()
    w, h, nc, out = decode_jpeg(encode_jpeg(odd, 11, 13, channels=3, subsample="422"))
    assert (w, h, nc) == (11, 13, 3) and len(out) == 11 * 13 * 3

    # restart intervals compose with 4:2:2 framing
    w, h, nc, _ = decode_jpeg(
        encode_jpeg(gray_rgb, 32, 16, channels=3, subsample="422", restart_interval=2)
    )
    assert (w, h, nc) == (32, 16, 3)

    # back-compat: True is an alias for "420", byte for byte
    assert encode_jpeg(gray_rgb, 32, 16, channels=3, subsample=True) == encode_jpeg(
        gray_rgb, 32, 16, channels=3, subsample="420"
    )
    with pytest.raises(ValueError, match="subsample"):
        encode_jpeg(gray_rgb, 32, 16, channels=3, subsample="411")


def test_day_partitioned_layout_prunes_partitions(spark, sf_dir, tmp_path):
    """The DEPLOY.md storage claim, demonstrated: events written
    day-partitioned serve a single-day query from ONE partition — the
    scan's plan carries the ymd PartitionFilter and reads only that
    directory, which at 100 TB is the difference between scanning a day
    and scanning a year."""
    import contextlib
    import io

    events = load_table(spark, sf_dir, "events")
    part = events.withColumn("ymd", F.date_format("ts", "yyyyMMdd"))
    part.write.partitionBy("ymd").mode("overwrite").parquet(str(tmp_path / "ev"))
    days = sorted(r["ymd"] for r in part.select("ymd").distinct().collect())
    assert len(days) > 1
    one_day = spark.read.parquet(str(tmp_path / "ev")).filter(F.col("ymd") == days[0])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        one_day.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "ymd" in plan
    # physical proof: every file the pruned scan ACTUALLY reads lives in
    # the one partition directory (inputFiles() is relation-level and
    # ignores filters; input_file_name() reflects post-pruning reads)
    read_files = {
        r[0] for r in one_day.select(F.input_file_name()).distinct().collect()
    }
    assert read_files and all(f"ymd={days[0]}" in f for f in read_files), read_files
    assert one_day.count() == part.filter(F.col("ymd") == days[0]).count()


def test_corpus_mix_weighted_deterministic_epoched_and_concentrated(spark, sf_dir):
    """Data-mixing contract: hash-decided (bit-identical across runs and
    across corpus partitionings), epoch-structured upsampling (floor(w)
    full copies + fractional extra), excluded sources absent, per-group
    kept-counts inside a 5-sigma binomial envelope, and a
    broadcast-join/codegen plan with no Python evaluation."""
    import math
    from collections import Counter

    from gmall_flink_parent_spark.functions.curation import corpus_mix_weighted
    from gmall_flink_parent_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    srcs = sorted(r["source"] for r in docs.select("source").distinct().collect())
    assert len(srcs) >= 20
    up, down = {s: 2.5 for s in srcs[:10]}, {s: 0.3 for s in srcs[10:18]}
    weights = {**up, **down, srcs[18]: 0.0}  # srcs[19] left unlisted

    mix = corpus_mix_weighted(docs, weights)
    rows = sorted((r["doc_id"], r["source"], r["epoch"]) for r in mix.collect())
    again = sorted(
        (r["doc_id"], r["source"], r["epoch"])
        for r in corpus_mix_weighted(docs, weights).collect()
    )
    assert rows == again and len(rows) > 0  # deterministic

    # partition-independence / no global state: mixing two disjoint
    # halves separately gives exactly the whole-corpus mixture
    h1 = corpus_mix_weighted(docs.filter(F.col("doc_id") % 2 == 0), weights)
    h2 = corpus_mix_weighted(docs.filter(F.col("doc_id") % 2 == 1), weights)
    halves = sorted(
        (r["doc_id"], r["source"], r["epoch"])
        for r in h1.unionByName(h2).collect()
    )
    assert halves == rows

    # weight-0 and unlisted sources are excluded outright
    assert {s for _, s, _ in rows} <= set(srcs[:18])

    # upsampled sources: every doc appears exactly 2 or 3 times, with
    # epochs forming a prefix 0..k
    per_doc = Counter((d, s) for d, s, _ in rows if s in up)
    n_up = docs.filter(F.col("source").isin(*up)).count()
    assert len(per_doc) == n_up  # every doc kept at least floor(2.5)=2 times
    assert set(per_doc.values()) <= {2, 3}
    epochs_of = {}
    for d, s, e in rows:
        epochs_of.setdefault((d, s), []).append(e)
    assert all(
        sorted(v) == list(range(len(v))) for v in epochs_of.values()
    )  # prefix epochs

    # 5-sigma binomial envelopes on the fractional decisions
    n_extra = sum(1 for v in per_doc.values() if v == 3)
    exp, sd = 0.5 * n_up, math.sqrt(n_up * 0.25)
    assert abs(n_extra - exp) <= 5 * sd, (n_extra, exp, sd)
    n_down_corpus = docs.filter(F.col("source").isin(*down)).count()
    n_down_kept = sum(1 for _, s, _ in rows if s in down)
    exp_d, sd_d = 0.3 * n_down_corpus, math.sqrt(n_down_corpus * 0.3 * 0.7)
    assert abs(n_down_kept - exp_d) <= 5 * sd_d, (n_down_kept, exp_d, sd_d)

    # plan: broadcast weight join, no Python eval, no shuffle exchange
    physical = mix._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in physical
    assert "BatchEvalPython" not in physical and "Exchange hashpartitioning" not in physical

    # all-zero weights → empty mixture with the same schema
    assert corpus_mix_weighted(docs, {srcs[0]: 0.0}).count() == 0


def test_training_order_deterministic_contiguous_and_interleaved(spark, sf_dir):
    """Global-shuffle contract: the order is a pure function of
    (seed, epoch, doc_id) — identical across runs; sample_idx is a
    contiguous 0..N-1 numbering; the mixture's row multiset is
    preserved exactly; different seeds give different orders; and the
    shuffled stream interleaves sources rather than concatenating
    them."""
    from gmall_flink_parent_spark.functions.curation import (
        corpus_mix_weighted,
        training_order,
    )
    from gmall_flink_parent_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    srcs = sorted(r["source"] for r in docs.select("source").distinct().collect())
    mix = corpus_mix_weighted(docs, {s: 1.5 for s in srcs})

    ordered = training_order(mix)
    rows = [
        (r["sample_idx"], r["doc_id"], r["source"], r["epoch"])
        for r in ordered.orderBy("sample_idx").collect()
    ]

    # Plan assertions run NOW, while this call's query-scoped cache is
    # still live — each training_order call releases the previous one's
    # (the one-live-cache cadence, asserted below).
    # JVM-side end to end, and the full data crosses the cluster ONCE:
    # both consumers (counts summary, final select) read the SAME
    # persisted range-sorted frame — the plan shows InMemoryTableScan in
    # each branch, and every range exchange line is the one exchange;
    # local positions come from monotonically_increasing_id over the
    # sorted partitions, not a row_number window (which would add a
    # full-data hash exchange)
    physical = ordered._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in physical
    assert physical.count("InMemoryTableScan") >= 2
    range_lines = {
        line.strip().split(", [plan_id")[0]
        for line in physical.splitlines()
        if "Exchange rangepartitioning" in line
    }
    assert len(range_lines) == 1, range_lines
    hash_lines = [
        line for line in physical.splitlines() if "Exchange hashpartitioning" in line
    ]
    assert all(
        "pid" in line or "_groupingexpression" in line for line in hash_lines
    ), hash_lines

    from gmall_flink_parent_spark import registry

    def n_own() -> int:
        return len(registry._LIVE_CACHES.get(threading.current_thread(), []))

    n_caches = n_own()
    again = [
        (r["sample_idx"], r["doc_id"], r["source"], r["epoch"])
        for r in training_order(mix).orderBy("sample_idx").collect()
    ]
    assert rows == again and len(rows) > 0

    # contiguous global numbering, no gaps or dups
    assert [i for i, *_ in rows] == list(range(len(rows)))

    # exact multiset preservation of the mixture
    assert sorted((d, s, e) for _, d, s, e in rows) == sorted(
        (r["doc_id"], r["source"], r["epoch"]) for r in mix.collect()
    )

    # a different seed reorders (deterministically different)
    other = [
        (r["sample_idx"], r["doc_id"], r["source"], r["epoch"])
        for r in training_order(mix, seed="order-v2").orderBy("sample_idx").collect()
    ]
    assert other != rows and sorted(r[1:] for r in other) == sorted(
        r[1:] for r in rows
    )

    # one-live-cache cadence: the two extra training_order calls above
    # each released the previous call's full-data cache
    assert n_own() <= max(n_caches, 1)
    registry.release_caches()

    # interleaving: a uniform shuffle of >=20 sources puts many distinct
    # sources in any 100-sample window (a concatenated layout would not)
    first_sources = {s for _, _, s, _ in rows[:100]}
    assert len(first_sources) >= 5


def test_assemble_training_mixture_end_to_end(spark, sf_dir):
    """The composed pipeline (verdict → canonical keep → mix → order)
    is reproducible from (corpus, weights, seed) alone, contains only
    keep-verdict docs, honors the mixture weights' epoch structure, and
    numbers samples contiguously."""
    from collections import Counter

    from gmall_flink_parent_spark.functions.curation import (
        assemble_training_mixture,
    )
    from gmall_flink_parent_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    srcs = sorted(r["source"] for r in docs.select("source").distinct().collect())
    weights = {s: (2.0 if i % 2 else 0.5) for i, s in enumerate(srcs)}

    stream = assemble_training_mixture(spark, sf_dir, weights)
    rows = [
        (r["sample_idx"], r["doc_id"], r["source"], r["epoch"])
        for r in stream.orderBy("sample_idx").collect()
    ]
    again = [
        (r["sample_idx"], r["doc_id"], r["source"], r["epoch"])
        for r in assemble_training_mixture(spark, sf_dir, weights)
        .orderBy("sample_idx")
        .collect()
    ]
    assert rows == again and len(rows) > 0
    assert [i for i, *_ in rows] == list(range(len(rows)))

    # only keep-verdict docs appear, and every keeper with w=2.0 source
    # appears exactly twice
    kept = {
        r["doc_id"]
        for r in plans.query_map()["corpus_filter_pipeline"](spark, sf_dir)
        .filter("keep")
        .collect()
    }
    assert {d for _, d, _, _ in rows} <= kept
    per_doc = Counter(d for _, d, s, _ in rows if weights[s] == 2.0)
    assert per_doc and set(per_doc.values()) == {2}
    w2_keepers = {
        r["doc_id"]
        for r in docs.filter(
            F.col("source").isin(*[s for s in srcs if weights[s] == 2.0])
        ).collect()
    } & kept
    assert set(per_doc) == w2_keepers

    # the composed stream must interleave END TO END: with decorrelated
    # stage seeds, downsampled (w=0.5) sources appear in the TAIL of the
    # stream too — a same-seed composition sorts every fractionally-kept
    # row into the front, emptying the tail of those sources entirely
    tail = rows[-min(100, len(rows) // 3):]
    assert any(weights[s] == 0.5 for _, _, s, _ in tail), "tail lost w<1 sources"
    assert len({s for _, _, s, _ in tail}) >= 5


def test_pack_sequences_matches_driver_reference(spark, sf_dir):
    """Global training-stream packing: (seq_id, seq_offset) must equal
    the single-threaded reference (running token sum over sample_idx
    order, chunked at cap) exactly, with the one-range-exchange /
    Arrow-cumsum plan (no row-at-a-time Python, no full-data hash
    exchange)."""
    from gmall_flink_parent_spark.functions.curation import (
        assemble_training_mixture,
        pack_sequences,
    )
    from gmall_flink_parent_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    srcs = sorted(r["source"] for r in docs.select("source").distinct().collect())
    stream = assemble_training_mixture(spark, sf_dir, {s: 1.2 for s in srcs})
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    cap = 512
    packed = pack_sequences(stream.join(toks, "doc_id"), cap=cap)
    got = sorted(
        (r["sample_idx"], r["doc_id"], r["n_tokens"], r["seq_id"], r["seq_offset"])
        for r in packed.collect()
    )
    assert len(got) > 0
    # single-threaded reference over the same ordered stream
    cum = 0
    want = []
    ordered = sorted(
        (r["sample_idx"], r["doc_id"], r["n_tokens"])
        for r in stream.join(toks, "doc_id").collect()
    )
    assert [i for i, *_ in ordered] == list(range(len(ordered)))
    for idx, d, n in ordered:
        want.append((idx, d, n, cum // cap, cum % cap))
        cum += n
    assert got == want

    physical = packed._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in physical and "MapInPandas" in physical
    range_lines = {
        line.strip().split(", [plan_id")[0]
        for line in physical.splitlines()
        if "Exchange rangepartitioning(sample_idx" in line
    }
    assert len(range_lines) == 1, range_lines


def test_training_shards_slice_correct_and_partition_pruned(spark, sf_dir, tmp_path):
    """Resumable-loader layout: the ordered mixture written as
    sample_block shards must (a) return exactly the requested
    [lo, hi) slice, (b) prune excluded shard directories at PLAN time
    (PartitionFilters on sample_block — resume cost ∝ remaining
    stream), and (c) push the sample_idx bounds into the parquet scan
    for in-shard row-group skipping."""
    from gmall_flink_parent_spark.functions.curation import (
        _MIX_HEAD_WEIGHTS,
        assemble_training_mixture,
        read_training_slice,
        write_training_shards,
    )

    stream = assemble_training_mixture(spark, sf_dir, _MIX_HEAD_WEIGHTS)
    block = 40  # small blocks so sf0.001 spans several shards
    path = str(tmp_path / "shards")
    write_training_shards(stream, path, block=block)

    n = stream.count()
    assert n > 2 * block  # several shards actually exist
    lo, hi = block + 7, 2 * block + 3  # straddles a shard boundary
    sliced = read_training_slice(spark, path, lo, hi, block=block)

    got = [
        (r["sample_idx"], r["doc_id"], r["epoch"])
        for r in sliced.orderBy("sample_idx").collect()
    ]
    want = [
        (r["sample_idx"], r["doc_id"], r["epoch"])
        for r in stream.filter(
            (F.col("sample_idx") >= lo) & (F.col("sample_idx") < hi)
        )
        .orderBy("sample_idx")
        .collect()
    ]
    assert got == want and len(got) == hi - lo

    # plan pins: directory pruning + parquet pushdown
    plan = sliced._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "sample_block" in m.group(1), plan
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "sample_idx" in m.group(1), plan
    # files actually scanned = only the shards overlapping the slice
    touched = {
        r["f"]
        for r in sliced.select(
            F.input_file_name().alias("f")
        ).distinct().collect()
    }
    assert touched
    blocks_touched = {
        part.split("=")[1].split("/")[0]
        for f in touched
        for part in f.split("/")
        if part.startswith("sample_block=")
    }
    assert blocks_touched <= {str(lo // block), str((hi - 1) // block)}


def test_unigram_topv_matches_exact_on_head_docs_and_bounds_tail(spark, sf_dir):
    """The broadcast-head variant must score documents made entirely of
    head tokens BYTE-identically to the exact full-vocab query (head
    probabilities are the same count/total), and deviate boundedly on
    docs holding tail tokens (the OOV mass is a probability, so scores
    stay finite and positive)."""
    exact = {
        r["doc_id"]: (r["n_tokens"], r["bits_per_token"])
        for r in plans.query_map()["doc_unigram_logprob"](spark, sf_dir).collect()
    }
    approx = {
        r["doc_id"]: (r["n_tokens"], r["bits_per_token"])
        for r in plans.query_map()["doc_unigram_logprob_topv"](
            spark, sf_dir
        ).collect()
    }
    assert set(exact) == set(approx) and len(exact) > 0
    # same token counts everywhere
    assert all(exact[d][0] == approx[d][0] for d in exact)

    from gmall_flink_parent_spark.functions.curation import _TOPV
    from gmall_flink_parent_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    e = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    vocab = e.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    head = {
        r["tok"]
        for r in vocab.orderBy(F.desc("cnt"), F.asc("tok")).limit(_TOPV).collect()
    }
    head_docs = {
        r["doc_id"]
        for r in e.groupBy("doc_id")
        .agg(F.max(~F.col("tok").isin(head)).alias("has_tail"))
        .filter(~F.col("has_tail"))
        .collect()
    }
    assert head_docs, "fixture should contain at least one all-head document"
    for d in head_docs:
        assert exact[d] == approx[d]
    for d in exact:
        assert 0.0 < approx[d][1] < 64.0  # finite, sane bits/token


def test_mixture_budget_weights_hit_the_token_budget(spark, sf_dir):
    """The planner's contract: expected mixture size under the emitted
    weights equals the token budget — sum(mix_weight_i × tokens_i) ≈
    budget (exact up to the 6-decimal weight rounding)."""
    from gmall_flink_parent_spark.functions.curation import _MIX_TOKEN_BUDGET

    rows = plans.query_map()["mixture_budget_weights"](spark, sf_dir).collect()
    assert len(rows) > 1
    expected = sum(r["mix_weight"] * r["n_tokens_total"] for r in rows)
    assert abs(expected - _MIX_TOKEN_BUDGET) / _MIX_TOKEN_BUDGET < 1e-3
    # shares are a distribution; smoothing keeps every source positive
    assert abs(sum(r["token_share"] for r in rows) - 1.0) < 1e-4
    assert all(r["mix_weight"] > 0 for r in rows)


def test_training_slice_block_size_is_recorded_and_validated(spark, sf_dir, tmp_path):
    """The shard layout records its block size; a sliced read defaults
    to it and REFUSES a conflicting explicit size (a wrong divisor
    would silently skip shard directories mid-slice)."""
    import pytest as _pytest

    from gmall_flink_parent_spark.functions.curation import (
        _MIX_HEAD_WEIGHTS,
        assemble_training_mixture,
        read_training_slice,
        write_training_shards,
    )

    stream = assemble_training_mixture(spark, sf_dir, _MIX_HEAD_WEIGHTS)
    path = str(tmp_path / "shards")
    write_training_shards(stream, path, block=40)

    # default: sidecar supplies the divisor
    got = read_training_slice(spark, path, 10, 20).count()
    assert got == 10
    # explicit-but-matching is fine; conflicting refuses
    assert read_training_slice(spark, path, 10, 20, block=40).count() == 10
    with _pytest.raises(ValueError, match="block"):
        read_training_slice(spark, path, 10, 20, block=50)


def test_boilerplate_size_gate_branches_are_value_identical(spark, duck, sf_dir):
    """`boilerplate_fraction_frame` picks between a forced-broadcast
    probe (set provably small) and an engine-decided join (set size is
    a corpus-shape unknown — AQE sizes the real aggregated set at
    runtime). Both branches must hash-match BOILERPLATE_ORACLE, and the
    threshold must actually steer the plan (hint present/absent)."""
    from gmall_flink_parent_spark.functions.curation import (
        BOILERPLATE_ORACLE,
        boilerplate_fraction_frame,
        contamination_shingles,
    )
    from gmall_flink_parent_spark.registry import (
        release_caches,
        scoped_persist,
    )
    from gmall_flink_parent_spark.sources.tables import fan_out
    from tests.oracle_harness import assert_matches_oracle

    release_caches()
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    sh = scoped_persist(contamination_shingles(docs))

    forced = boilerplate_fraction_frame(sh)  # default: provably small set
    gated = boilerplate_fraction_frame(sh, max_broadcast_grams=0)

    # the gate steers the plan: forced branch carries the broadcast hint,
    # the gated branch leaves the strategy to the engine
    assert "ResolvedHint" in forced._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in gated._jdf.queryExecution().analyzed().toString()

    assert_matches_oracle(forced, duck, BOILERPLATE_ORACLE, name="boiler-forced")
    assert_matches_oracle(gated, duck, BOILERPLATE_ORACLE, name="boiler-gated")
    release_caches()


def test_training_slice_sidecar_less_store_validates_block_by_layout(
    spark, sf_dir, tmp_path
):
    """A store missing its _shard_meta sidecar (crash between data and
    sidecar writes, or a pre-sidecar layout) must cross-check the
    caller-supplied divisor against the observed shard boundaries: the
    true block reads fine, a wrong one raises instead of silently
    pruning shard directories mid-slice."""
    import shutil

    import pytest as _pytest

    from gmall_flink_parent_spark.functions.curation import (
        _MIX_HEAD_WEIGHTS,
        assemble_training_mixture,
        read_training_slice,
        write_training_shards,
    )

    stream = assemble_training_mixture(spark, sf_dir, _MIX_HEAD_WEIGHTS)
    path = str(tmp_path / "shards")
    write_training_shards(stream, path, block=40)
    shutil.rmtree(f"{path}/_shard_meta")  # simulate the crash state

    with _pytest.raises(ValueError, match="_shard_meta"):
        read_training_slice(spark, path, 10, 20)  # no divisor at all
    # the written divisor is consistent with the layout — accepted
    assert read_training_slice(spark, path, 10, 20, block=40).count() == 10
    # a wrong divisor contradicts some directory's observed bounds
    with _pytest.raises(ValueError, match="boundaries"):
        read_training_slice(spark, path, 10, 20, block=64)


def test_span_dedup_size_gate_branches_are_value_identical(spark, duck, sf_dir):
    """`span_dedup_frame` picks between a forced-broadcast probe (set
    provably small) and an engine-decided join (repeated-span count is
    a corpus-shape unknown — AQE sizes the real aggregated set at
    runtime). Both branches must hash-match SPAN_DEDUP_ORACLE, and the
    threshold must actually steer the plan (hint present/absent) —
    the same contract as `boilerplate_fraction_frame`'s gate."""
    from gmall_flink_parent_spark.functions.spans import (
        SPAN_DEDUP_ORACLE,
        span_dedup_frame,
        span_frame,
    )
    from gmall_flink_parent_spark.registry import (
        release_caches,
        scoped_persist,
    )
    from gmall_flink_parent_spark.sources.tables import fan_out
    from tests.oracle_harness import assert_matches_oracle

    release_caches()
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    sh = scoped_persist(span_frame(docs))

    forced = span_dedup_frame(sh)  # default: provably small set
    gated = span_dedup_frame(sh, max_broadcast_spans=0)

    assert "ResolvedHint" in forced._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in gated._jdf.queryExecution().analyzed().toString()

    assert_matches_oracle(forced, duck, SPAN_DEDUP_ORACLE, name="span-forced")
    assert_matches_oracle(gated, duck, SPAN_DEDUP_ORACLE, name="span-gated")
    release_caches()


def test_span_dedup_rewrite_removes_only_repeated_spans(spark, sf_dir):
    """Cross-checks the rewrite against the span grain itself: token
    counts of kept_text equal the original minus 8·(full removed spans)
    minus the tail-span tokens when the tail was removed; documents
    with n_removed = 0 come back byte-identical."""
    from gmall_flink_parent_spark.functions.spans import span_dedup_rewrite

    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    out = span_dedup_rewrite(spark, sf_dir).collect()
    assert len(out) == len(docs)
    touched = 0
    for r in out:
        original = docs[r["doc_id"]]
        if r["n_removed"] == 0:
            assert r["kept_text"] == original
        else:
            touched += 1
            assert len(r["kept_text"]) < len(original)
            # every kept span is a substring of the original
            for piece in r["kept_text"].split(" "):
                assert piece in original
    assert touched > 0, "fixture corpus should contain repeated spans"


def test_span_rewrite_token_counts_match_full_rewrite(spark, sf_dir):
    """The counts-only form (what the one-call build prices packing
    with) must agree with the full text rewrite doc for doc: n_tokens
    equals the kept_text token count and n_removed_spans equals the
    rewrite's n_removed — through BOTH broadcast-gate branches."""
    from gmall_flink_parent_spark.functions.spans import (
        span_dedup_frame,
        span_frame,
        span_rewrite_token_counts,
    )
    from gmall_flink_parent_spark.registry import (
        release_caches,
        scoped_persist,
    )
    from gmall_flink_parent_spark.sources.tables import fan_out

    release_caches()
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    sh = scoped_persist(span_frame(docs))
    want = {
        r["doc_id"]: (
            len(r["kept_text"].split(" ")) if r["kept_text"] else 0,
            r["n_removed"],
        )
        for r in span_dedup_frame(sh).collect()
    }
    for kw in ({}, {"max_broadcast_spans": 0}):
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_removed_spans"])
            for r in span_rewrite_token_counts(sh, **kw).collect()
        }
        assert got == want and len(got) > 0
    release_caches()


# ----------------------------------------------------- quality (Gopher + clf)


def test_repetition_rules_flag_constructed_pathologies(spark):
    """Each Gopher rule must fire on the artifact it exists to catch,
    and a clean diverse document must pass all four."""
    from gmall_flink_parent_spark.functions.quality import doc_repetition_profile_frame

    rows = [
        (1, "a b a b a b a b a b a b"),  # one bigram dominates
        (2, "x x x x y z q r s t u v"),  # literal token run
        (3, "p q r p q r p q r s t u"),  # duplicated trigrams
        # clean: 30 distinct tokens → every fraction under its cap
        (4, " ".join(f"tok{i}" for i in range(30))),
        (5, "w w w w w w w w w w w w"),  # degenerate: everything fires
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in doc_repetition_profile_frame(df).collect()}
    assert out[1]["top_bigram_frac"] > 0.4 and not out[1]["gopher_keep"]
    assert out[2]["max_token_run"] == 4 and not out[2]["gopher_keep"]
    assert out[3]["dup_trigram_frac"] > 0.3 and not out[3]["gopher_keep"]
    assert out[4]["gopher_keep"]
    assert out[4]["dup_token_frac"] == 0.0 and out[4]["max_token_run"] == 1
    assert out[5]["dup_token_frac"] == pytest.approx(1 - 1 / 12)
    assert out[5]["max_token_run"] == 12 and not out[5]["gopher_keep"]


def test_repetition_profile_single_token_doc(spark):
    """Shorter-than-gram documents produce empty gram sets, zero
    fractions, and a run of 1 — not nulls or errors."""
    from gmall_flink_parent_spark.functions.quality import doc_repetition_profile_frame

    df = spark.createDataFrame([(1, "solo"), (2, "two tokens")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in doc_repetition_profile_frame(df).collect()}
    assert out[1]["n_tokens"] == 1 and out[1]["top_bigram_frac"] == 0.0
    assert out[1]["dup_trigram_frac"] == 0.0 and out[1]["max_token_run"] == 1
    assert out[1]["gopher_keep"]
    assert out[2]["top_bigram_frac"] == 1.0  # the only bigram is the mode
    assert not out[2]["gopher_keep"]


def test_classifier_margin_is_exact_integer_ratio(spark, sf_dir):
    """The keep decision thresholds the exact integer weight sum; the
    margin equals that sum over 128·n_tokens for every document."""
    from gmall_flink_parent_spark.functions.quality import (
        classifier_weights,
        doc_hash_classifier_score,
    )

    w = {r["bucket"]: r["w"] for r in classifier_weights(spark).collect()}
    assert len(w) == 256 and all(-128 <= v <= 127 for v in w.values())
    docs = {
        r["doc_id"]: r["text"] for r in load_table(spark, sf_dir, "documents").collect()
    }
    out = doc_hash_classifier_score(spark, sf_dir).collect()
    assert len(out) == len(docs)
    import hashlib

    checked = 0
    for r in out:
        if r["doc_id"] % 97:  # spot-check a deterministic subset
            continue
        toks = docs[r["doc_id"]].split(" ")
        s = sum(
            w[int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 256] for t in toks
        )
        assert r["clf_keep"] == (s > 0)
        assert r["clf_margin"] == pytest.approx(s / (128 * len(toks)), abs=1e-6)
        checked += 1
    assert checked > 0


# ------------------------------------------------------------- chunking


def test_chunk_windows_cover_without_containment(spark, sf_dir):
    """Every token index lands in ≥1 chunk; chunk count matches
    1 + ceil((n−C)/S); no window is fully contained in its predecessors."""
    import math

    from gmall_flink_parent_spark.functions.chunks import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        doc_chunk_windows,
    )

    docs = {
        r["doc_id"]: len(r["text"].split(" "))
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    rows = doc_chunk_windows(spark, sf_dir).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, n in docs.items():
        ch = sorted(by_doc[doc_id], key=lambda r: r["chunk_idx"])
        expect = 1 + math.ceil(max(0, n - CHUNK_TOKENS) / CHUNK_STRIDE)
        assert len(ch) == expect, (doc_id, n)
        last = ch[-1]
        start = last["chunk_idx"] * CHUNK_STRIDE
        assert start + last["n_chunk_tokens"] == n  # coverage reaches the end
        for r in ch[1:]:  # every later window owns ≥1 new token
            assert r["chunk_idx"] * CHUNK_STRIDE + CHUNK_TOKENS > (
                (r["chunk_idx"] - 1) * CHUNK_STRIDE + CHUNK_TOKENS
            )
        # reassembling the non-overlapping tails reproduces the document
        toks0 = ch[0]["chunk_text"].split(" ")
        for r in ch[1:]:
            t = r["chunk_text"].split(" ")
            toks0.extend(t[-(r["n_chunk_tokens"] - (CHUNK_TOKENS - CHUNK_STRIDE)):])
        assert len(toks0) == n


def test_chunk_ids_stable_under_document_growth(spark):
    """Appending text to a document must not shift existing chunk ids —
    the property a vector store keys on for incremental re-embedding."""
    from gmall_flink_parent_spark.functions.chunks import chunk_windows_frame

    base = " ".join(f"t{i}" for i in range(40))
    grown = base + " " + " ".join(f"x{i}" for i in range(30))
    df1 = spark.createDataFrame([(7, base)], "doc_id long, text string")
    df2 = spark.createDataFrame([(7, grown)], "doc_id long, text string")
    ids1 = [r["chunk_id"] for r in sorted(chunk_windows_frame(df1).collect(), key=lambda r: r["chunk_idx"])]
    ids2 = [r["chunk_id"] for r in sorted(chunk_windows_frame(df2).collect(), key=lambda r: r["chunk_idx"])]
    assert len(ids2) > len(ids1)
    assert ids2[: len(ids1)] == ids1


def test_chunk_dup_overlap_catches_shared_passage(spark):
    """Two documents sharing an aligned 32-token window (a quoted
    passage at a stride boundary) produce one duplicated fingerprint."""
    from gmall_flink_parent_spark.functions.chunks import chunk_windows_frame

    passage = " ".join(f"p{i}" for i in range(32))
    a = passage + " " + " ".join(f"a{i}" for i in range(16))
    b = passage + " " + " ".join(f"b{i}" for i in range(16))
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    chunks = chunk_windows_frame(df)
    dup = (
        chunks.groupBy(F.md5("chunk_text").alias("fp"))
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .collect()
    )
    assert len(dup) == 1


# ----------------------------------------------------------- curriculum


def test_curriculum_phases_partition_the_stream(spark, sf_dir):
    """Phase 0 owns a contiguous position prefix, phase 1 the suffix;
    positions are 0..N−1 with no gaps; the anneal phase contains only
    the two high-quality source classes."""
    from gmall_flink_parent_spark import plans

    rows = plans.all_queries()["curriculum_mixture"].fn(spark, sf_dir).collect()
    n = len(rows)
    assert sorted(r["sample_idx"] for r in rows) == list(range(n))
    p0 = [r["sample_idx"] for r in rows if r["phase"] == 0]
    p1 = [r["sample_idx"] for r in rows if r["phase"] == 1]
    assert p0 and p1
    assert max(p0) < min(p1)  # continuous boundary, bulk first
    anneal_classes = {int(r["source"][3:]) % 4 for r in rows if r["phase"] == 1}
    assert anneal_classes <= {0, 1}  # downsampled/excluded classes dropped
    bulk_classes = {int(r["source"][3:]) % 4 for r in rows if r["phase"] == 0}
    assert bulk_classes == {0, 1, 2, 3}  # bulk keeps every class


def test_curriculum_single_scan_plan(spark, sf_dir):
    """The two-phase mixture must read the corpus ONCE: the phase axis
    rides the broadcast weight table, not a second scan/union. (The
    ordered head's plan shows the lineage once per cached-branch read,
    so the one-scan claim is pinned on the mix stage itself.)"""
    from gmall_flink_parent_spark.functions.mixture import (
        _CURRICULUM_WEIGHTS,
        corpus_mix_curriculum,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    mix = corpus_mix_curriculum(docs, _CURRICULUM_WEIGHTS, "t:mix")
    plan = mix._jdf.queryExecution().executedPlan().toString()
    assert plan.count("documents.parquet") == 1, plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


# ---------------------------------------------------- product quantization


def test_pq_codes_shape_and_determinism(spark, sf_dir):
    """Every vector encodes to m codes in [0, k); re-deriving the
    codebooks and codes reproduces them exactly (hash-ordered sample +
    fixed-iteration Lloyd — no RNG anywhere)."""
    from gmall_flink_parent_spark.functions.similarity import (
        _PQ_K,
        _PQ_M,
        pq_encode,
        pq_train_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    b1, b2 = pq_train_codebooks(emb), pq_train_codebooks(emb)
    assert (b1 == b2).all()
    rows = pq_encode(emb, b1).collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        assert len(r["codes"]) == _PQ_M
        assert all(0 <= c < _PQ_K for c in r["codes"])


def test_pq_adc_recall_floor_vs_bruteforce(spark, sf_dir):
    """The ADC shortlist + exact re-rank must recover most of the true
    cosine top-5 (deterministic pipeline → a hard floor, not a flaky
    statistical bound), and recalled neighbors carry the EXACT cosine."""
    from collections import defaultdict

    from gmall_flink_parent_spark import plans

    qs = plans.all_queries()
    pq = qs["ann_pq_adc"].fn(spark, sf_dir).collect()
    bf = qs["cosine_topk_bruteforce"].fn(spark, sf_dir).collect()
    pq_n, bf_n = defaultdict(dict), defaultdict(dict)
    for r in pq:
        pq_n[r["query_id"]][r["neighbor_id"]] = r["cos_sim"]
    for r in bf:
        bf_n[r["query_id"]][r["neighbor_id"]] = r["cos_sim"]
    recalls = []
    for q, true in bf_n.items():
        hit = set(pq_n[q]) & set(true)
        recalls.append(len(hit) / len(true))
        for n in hit:  # exact re-rank: same cosine as brute force
            assert pq_n[q][n] == true[n]
    assert sum(recalls) / len(recalls) >= 0.8
    assert min(recalls) >= 0.6


# ------------------------------------------------------------------- BPE


def test_bpe_classic_fixture(spark):
    """The Sennrich paper's fixture: lower-family words merge common
    stems; training is deterministic with lexicographic tie-break."""
    from gmall_flink_parent_spark.functions.bpe import (
        bpe_encode,
        bpe_train_merges,
        _encode_word,
    )

    wf = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    m1 = bpe_train_merges(wf, n_merges=10)
    m2 = bpe_train_merges(wf, n_merges=10)
    assert m1 == m2 and len(m1) == 10
    ranks = {p: i for i, p in enumerate(m1)}
    # 'newest' (freq 6) fully merges into one piece within 10 rounds
    assert _encode_word("newest", ranks) == ["newest</w>"]
    # unseen word with no matching pairs stays character-split
    assert len(_encode_word("zq", {})) == 3  # z, q, </w>


def test_bpe_encode_matches_reference_implementation(spark, sf_dir):
    """The Arrow encoder must agree with an independent single-threaded
    reference (fold-based, no cache) on every document."""
    from gmall_flink_parent_spark.functions.bpe import (
        _EOW,
        bpe_encode,
        bpe_train,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = bpe_train(docs.select("text"), n_merges=32)
    assert merges == bpe_train(docs.select("text"), n_merges=32)  # deterministic

    def ref_pieces(word: str) -> int:
        # independent formulation: apply merges in TABLE order, each
        # exhaustively, instead of repeatedly taking the lowest rank —
        # equivalent for BPE because earlier merges never recreate the
        # preconditions of later scans within one pass ordering.
        sym = list(word) + [_EOW]
        for a, b in merges:
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            sym = out
        return len(sym)

    got = {r["doc_id"]: (r["n_tokens"], r["n_bpe_pieces"]) for r in bpe_encode(docs, merges).collect()}
    raw = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert set(got) == set(raw)
    for doc_id, text in raw.items():
        words = [w for w in text.split(" ") if w]
        want = sum(ref_pieces(w) for w in words)
        assert got[doc_id] == (len(words), want), doc_id


def test_bpe_piece_counts_bounded(spark, sf_dir):
    """Pieces per doc sit between token count (full merges) and
    char+word count (no merges), and merging strictly beats the
    character baseline on a natural corpus."""
    from gmall_flink_parent_spark import plans

    rows = plans.all_queries()["doc_bpe_tokens"].fn(spark, sf_dir).collect()
    docs = {r["doc_id"]: r["text"] for r in load_table(spark, sf_dir, "documents").collect()}
    assert len(rows) == len(docs)
    total_pieces = total_chars = 0
    for r in rows:
        words = [w for w in docs[r["doc_id"]].split(" ") if w]
        n_char_syms = sum(len(w) + 1 for w in words)  # chars + </w>
        assert r["n_tokens"] <= r["n_bpe_pieces"] <= n_char_syms
        total_pieces += r["n_bpe_pieces"]
        total_chars += n_char_syms
    assert total_pieces < total_chars * 0.6  # merges actually compress


def test_dsir_weights_separate_target_from_raw(spark, sf_dir):
    """DSIR's point: documents drawn from the target distribution must
    score systematically higher than the rest of the raw corpus. On the
    synthetic corpus the `lang='en'` slice IS the target sample, so its
    mean log-importance-weight and keep rate must clearly dominate the
    non-target slice (observed at sf0.001: keep 43% vs 3.9%)."""
    w = plans.query_map()["dsir_importance_weights"](spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    stats = {
        r["t"]: (r["mean_logw"], r["keep_rate"])
        for r in w.join(docs, "doc_id")
        .groupBy((F.col("lang") == "en").alias("t"))
        .agg(
            F.avg("dsir_logw").alias("mean_logw"),
            F.avg(F.col("dsir_keep").cast("int")).alias("keep_rate"),
        )
        .collect()
    }
    assert stats[True][0] > stats[False][0]
    assert stats[True][1] > 2 * stats[False][1]


def test_dsir_gumbel_resample_is_subset_with_valid_scores(spark, sf_dir):
    """The Gumbel-top-k sample is k rows drawn from the weight frame:
    every selected doc exists in the weights output with the same
    dsir_logw, and the selection size is exactly k (the corpus is
    larger than k at every SF)."""
    from gmall_flink_parent_spark.functions.selection import _DSIR_K

    sel = plans.query_map()["dsir_gumbel_resample"](spark, sf_dir).collect()
    assert len(sel) == _DSIR_K
    weights = {
        r["doc_id"]: r["dsir_logw"]
        for r in plans.query_map()["dsir_importance_weights"](spark, sf_dir).collect()
    }
    for r in sel:
        assert weights[r["doc_id"]] == r["dsir_logw"]


def test_cms_estimate_error_contract(spark, sf_dir):
    """The count-min error contract, both sides: for EVERY probe gram
    the estimate is ≥ the exact document frequency (collisions only
    ever inflate a counter — the one-sided guarantee), and every
    overestimate is within the εN bound (ε = e/w; Cormode &
    Muthukrishnan's Markov argument per hash row, here deterministic
    for the fixed corpus and md5 hashes — observed max error ≈ N/w
    against the e·N/w bound at both sf0.001 and sf0.01)."""
    import math

    from gmall_flink_parent_spark.functions.curation import contamination_shingles
    from gmall_flink_parent_spark.functions.sketches import _CMS_W

    est = {
        r["g"]: r["cms_df"]
        for r in plans.query_map()["gram_df_cms_estimate"](spark, sf_dir).collect()
    }
    assert est
    sh = contamination_shingles(load_table(spark, sf_dir, "documents"))
    n_instances = sh.count()
    true_df = {
        r["g"]: r["df"]
        for r in sh.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .join(
            sh.filter(F.col("doc_id") % 97 == 0).select("g").distinct(), "g", "left_semi"
        )
        .collect()
    }
    assert set(est) == set(true_df)
    assert all(est[g] >= true_df[g] for g in est)
    eps_n = math.e * n_instances / _CMS_W
    assert all(est[g] - true_df[g] <= eps_n for g in est)


def test_bloom_contamination_no_false_negatives(spark, sf_dir):
    """The Bloom error contract, safe side: every exactly-contaminated
    document is Bloom-flagged with a gram count >= the exact count (a
    real contaminated gram can never miss its own set bits), and the
    over-flagging stays under a 2% false-positive gram rate (theory:
    (1-e^{-kn/m})^k, ~0.5% at sf0.01's benchmark size)."""
    from gmall_flink_parent_spark.functions.curation import contamination_shingles

    exact = {
        r["doc_id"]: r["n_contaminated_ngrams"]
        for r in plans.query_map()["contamination_4gram"](spark, sf_dir).collect()
    }
    bloom = {
        r["doc_id"]: r["n_bloom_ngrams"]
        for r in plans.query_map()["contamination_bloom"](spark, sf_dir).collect()
    }
    assert set(exact) <= set(bloom)
    assert all(bloom[d] >= c for d, c in exact.items())
    sh = contamination_shingles(load_table(spark, sf_dir, "documents"))
    n_probe = sh.filter(F.col("doc_id") % 97 != 0).count()
    fp_rate = (sum(bloom.values()) - sum(exact.values())) / n_probe
    assert fp_rate <= 0.02, f"bloom FP gram rate {fp_rate:.4f} exceeds ceiling"


@pytest.mark.parametrize("mod", [2, 3, 5])
def test_bloom_bits_union_mergeable(spark, sf_dir, mod):
    """bits(A ∪ B ∪ ...) == bits(A) ∪ bits(B) ∪ ... for any key split —
    the property that lets per-split benchmark sketches (one per ingest
    batch, one per benchmark file) combine by distinct union instead of
    a rebuild."""
    from gmall_flink_parent_spark.functions.curation import contamination_shingles
    from gmall_flink_parent_spark.functions.selection import _h32
    from gmall_flink_parent_spark.functions.sketches import bloom_bits

    sh = contamination_shingles(load_table(spark, sf_dir, "documents"))
    bench = sh.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    whole = {r["bit"] for r in bloom_bits(bench).collect()}
    merged: set[int] = set()
    for part in range(mod):
        split = bench.filter(_h32(F.col("g")) % mod == part)
        merged |= {r["bit"] for r in bloom_bits(split).collect()}
    assert merged == whole


def test_expectation_report_empty_input_fails_closed(spark):
    """Zero rows must never vacuously pass a gate: aggregates over an
    empty frame are NULL, and a NULL metric fails its band — every
    check reports 'fail' so a curation run halts on an empty corpus
    instead of admitting it."""
    from gmall_flink_parent_spark.functions.expectations import (
        DOCUMENT_CHECKS,
        expectation_report,
    )

    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    rows = expectation_report(empty, DOCUMENT_CHECKS).collect()
    assert len(rows) == len(DOCUMENT_CHECKS)
    assert all(r["status"] == "fail" for r in rows)


def test_expectation_report_custom_suite_both_verdicts(spark, sf_dir):
    """A caller-declared suite runs through the same core: one check
    engineered to fail (impossible band) and one to pass, statuses per
    row, metric values exact."""
    from gmall_flink_parent_spark.functions.expectations import (
        expectation_report,
        in_band,
        uniqueness,
    )

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    checks = [
        uniqueness("doc_id"),
        in_band("count(*)", lambda: F.count(F.lit(1)), "count(*)", -2.0, -1.0),
    ]
    rows = {r["check_name"]: r for r in expectation_report(docs, checks).collect()}
    assert rows["uniqueness(doc_id)"]["status"] == "pass"
    assert rows["uniqueness(doc_id)"]["metric"] == 1.0
    assert rows["count(*)"]["status"] == "fail"
    assert rows["count(*)"]["metric"] == float(n)


def test_trigram_backoff_fires_on_held_out_docs(spark, sf_dir):
    """The point of scoring against a reference-slice model: held-out
    docs contain trigrams the model never saw, so the backoff chain
    must actually fire (backoff_frac > 0 somewhere), fractions are
    proper, cross-entropy is positive (every S(.) <= 1), and model-
    slice docs never appear in the scored output."""
    rows = plans.query_map()["doc_trigram_backoff_logprob"](spark, sf_dir).collect()
    assert rows
    assert all(r["doc_id"] % 7 != 0 for r in rows)
    assert all(0.0 <= r["backoff_frac"] <= 1.0 for r in rows)
    assert max(r["backoff_frac"] for r in rows) > 0.0
    assert all(r["bits_per_trigram"] > 0.0 for r in rows)
    assert all(r["n_trigrams"] > 0 for r in rows)


def test_token_budget_select_is_maximal_greedy_prefix(spark, sf_dir):
    """Strict-budget semantics: the selected set is a PREFIX of the
    margin-ranked order (once one doc overshoots, every later doc's
    cum_before is past the budget too), it fits the budget, and it is
    maximal — the next-ranked unselected doc would overshoot."""
    import math

    sel = plans.query_map()["token_budget_select"](spark, sf_dir).collect()
    assert sel
    scored = {
        r["doc_id"]: (r["clf_margin"], r["n_tokens"])
        for r in plans.query_map()["doc_hash_classifier_score"](spark, sf_dir).collect()
    }
    budget = math.floor(0.5 * sum(n for _, n in scored.values()))
    used = sum(r["n_tokens"] for r in sel)
    assert used <= budget
    order = sorted(scored, key=lambda d: (-scored[d][0], d))
    k = len(sel)
    assert {r["doc_id"] for r in sel} == set(order[:k]), "not a rank prefix"
    if k < len(order):
        assert used + scored[order[k]][1] > budget, "greedy fill not maximal"


def test_leakage_safe_split_invariants(spark, sf_dir, leakage_split_df):
    """The two contracts of the cluster-keyed split: (1) no MinHash
    near-dup pair straddles splits — A in train with its near-dup B in
    test is impossible by construction; (2) a document in no pair
    (cluster root = itself) receives EXACTLY doc_sample_split's
    per-doc assignment, so adopting the leakage-safe form reassigns
    only clustered documents. Plus loose marginal-fraction sanity."""
    from gmall_flink_parent_spark.functions.dedup import _minhash_pairs

    split = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in leakage_split_df.collect()}
    pairs = _minhash_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b").collect()
    assert pairs, "fixture corpus should have near-dup pairs"
    for p in pairs:
        assert split[p["doc_id_a"]][1] == split[p["doc_id_b"]][1], p
        assert split[p["doc_id_a"]][0] == split[p["doc_id_b"]][0], p
    plain = {
        r["doc_id"]: r["split"]
        for r in plans.query_map()["doc_sample_split"](spark, sf_dir).collect()
    }
    singletons = [d for d, (root, _) in split.items() if root == d]
    assert singletons
    clustered_nonroot = [d for d, (root, _) in split.items() if root != d]
    assert clustered_nonroot, "corpus should have non-root cluster members"
    for d in singletons:
        if all(d not in (p["doc_id_a"], p["doc_id_b"]) for p in pairs):
            assert split[d][1] == plain[d]
    # fractions hold in CLUSTER-count terms (the unit the split hashes);
    # doc-count fractions legitimately skew when clusters are giant —
    # this fixture corpus is near-dup-heavy by design
    roots = {v[0]: v[1] for v in split.values()}
    frac_train = sum(1 for s in roots.values() if s == "train") / len(roots)
    assert 0.6 <= frac_train <= 0.95


def test_fk_check_detects_orphans(spark, sf_dir):
    """The negative path of referential integrity: removing a parent
    key makes its children orphans — the check must count them exactly
    and flip to 'fail'; the clean warehouse head passes all five FKs."""
    from gmall_flink_parent_spark.functions.expectations import fk_check_row

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    victim = cust.select("c_custkey").limit(1).collect()[0][0]
    n_orphans = orders.filter(F.col("o_custkey") == victim).count()
    assert n_orphans > 0
    row = fk_check_row(
        "orders -> truncated customer",
        orders,
        "o_custkey",
        cust.filter(F.col("c_custkey") != victim),
        "c_custkey",
    ).collect()[0]
    assert row["status"] == "fail"
    assert row["n_orphans"] == n_orphans

    clean = plans.query_map()["referential_integrity"](spark, sf_dir).collect()
    assert len(clean) == 5
    assert all(r["status"] == "pass" and r["n_orphans"] == 0 for r in clean)


def test_cluster_best_keeper_invariants(spark, sf_dir, best_keeper_df):
    """Quality-aware election: exactly one keeper per cluster, the
    keeper's margin is the cluster max (ties -> lowest doc_id), cluster
    membership is identical to the min-id form (same CC core), and a
    singleton keeps itself."""
    rows = best_keeper_df.collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert any(len(v) > 1 for v in by_cluster.values())
    for cid, members in by_cluster.items():
        keepers = [m for m in members if m["is_keeper"]]
        assert len(keepers) == 1, cid
        k = keepers[0]
        best = max(members, key=lambda m: (m["clf_margin"], -m["doc_id"]))
        assert (k["clf_margin"], k["doc_id"]) == (best["clf_margin"], best["doc_id"])
        if len(members) == 1:
            assert members[0]["doc_id"] == cid
    minid = {
        (r["doc_id"], r["cluster_id"])
        for r in plans.query_map()["dedup_cluster_keep"](spark, sf_dir).collect()
    }
    assert {(r["doc_id"], r["cluster_id"]) for r in rows} == minid


# ---------------------------------------------------- phrase heavy hitters


def test_phrase_topk_sketch_path_matches_exact_under_skew(spark):
    """A Zipf-skewed gram stream: the Misra-Gries candidate path must
    prove containment (kth recount > Δ) and serve the exact answer."""
    from gmall_flink_parent_spark.functions.sketches import phrase_topk

    rows = []
    for i in range(40):  # heavy head: gram_i repeated (2000 // (i+1)) times
        rows += [(f"hot_{i:02d}",)] * (2000 // (i + 1))
    rows += [(f"tail_{j}",) for j in range(500)]  # singleton tail
    grams = spark.createDataFrame(rows, "gram string").repartition(8)
    got, used_sketch = phrase_topk(spark, grams, k=10, m=64)
    assert used_sketch, "skewed stream must be servable from the sketch path"
    exact = sorted(
        ((g, sum(1 for r in rows if r[0] == g)) for g in {r[0] for r in rows}),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    want = [(g, c, i + 1) for i, (g, c) in enumerate(exact)]
    assert [tuple(r) for r in got.orderBy("rnk").collect()] == want


def test_phrase_topk_falls_back_when_no_proof(spark):
    """An all-distinct gram stream (no heavy hitters): containment is
    unprovable, the exact wordcount fallback must produce the answer."""
    from gmall_flink_parent_spark.functions.sketches import phrase_topk

    grams = spark.createDataFrame(
        [(f"uniq_{j:04d}",) for j in range(800)], "gram string"
    ).repartition(8)
    got, used_sketch = phrase_topk(spark, grams, k=10, m=16)
    assert not used_sketch, "uniform stream must not claim a containment proof"
    want = [(f"uniq_{j:04d}", 1, j + 1) for j in range(10)]
    assert [tuple(r) for r in got.orderBy("rnk").collect()] == want


def test_mg_summary_bounded_and_error_contract(spark):
    """Per-partition summaries stay ≤ m+1 rows, and every dropped gram's
    true count is ≤ the partition's recorded subtracted mass."""
    from gmall_flink_parent_spark.functions.sketches import mg_partition_summaries

    rows = [("hot",)] * 300 + [(f"t{j}",) for j in range(200)]
    grams = spark.createDataFrame(rows, "gram string").coalesce(1)
    out = mg_partition_summaries(grams, 8).collect()
    assert len(out) <= 9 + 1  # ≤ m survivors + 1 meta row (single partition)
    delta = sum(r.cut for r in out if r.gram is None)
    survivors = {r.gram for r in out if r.gram is not None}
    assert "hot" in survivors  # count 300 > any possible Δ here
    for j in range(200):  # every dropped singleton: count 1 ≤ Δ
        if f"t{j}" not in survivors:
            assert 1 <= delta


def test_scd2_intervals_tile_each_key(spark, sf_dir):
    """SCD2 invariants: per key, versions are 1..n dense, intervals
    chain exactly (row v's effective_to == row v+1's effective_from),
    and exactly one open/current row exists."""
    from gmall_flink_parent_spark import plans

    rows = plans.all_queries()["scd2_dim_history"].fn(spark, sf_dir).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.user_id, []).append(r)
    assert by_key
    for uid, hist in by_key.items():
        hist.sort(key=lambda r: r.version)
        assert [r.version for r in hist] == list(range(1, len(hist) + 1))
        assert sum(1 for r in hist if r.is_current) == 1
        assert hist[-1].is_current and hist[-1].effective_to is None
        for prev, nxt in zip(hist, hist[1:]):
            assert prev.effective_to == nxt.effective_from


def test_ann_recall_multiprobe_never_below_single_probe(spark, sf_dir):
    """Multiprobe's candidate set is a superset of the exact-bucket
    set (it probes the bucket PLUS every 1-bit flip), so its recall can
    never be lower — the structural guarantee behind 'multi-probe
    raises recall with the same plan shape'."""
    from gmall_flink_parent_spark import plans

    rows = {
        r.method: r.recall
        for r in plans.all_queries()["ann_recall_report"].fn(spark, sf_dir).collect()
    }
    assert rows["ann_srp_multiprobe"] >= rows["ann_srp_lsh"]
    assert set(rows) == {"ann_ivf_bucketed", "ann_srp_lsh", "ann_srp_multiprobe"}


def test_edit_join_equals_bruteforce_ground_truth(spark, duck, sf_dir):
    """The PassJoin head must equal the INDEPENDENT all-pairs ground
    truth (not just its own blocking-mirror oracle) — the completeness
    guarantee, exhaustively at test scale."""
    from gmall_flink_parent_spark import plans

    got = sorted(
        (r.name_a, r.name_b, r.dist)
        for r in plans.all_queries()["part_name_edit_join"].fn(spark, sf_dir).collect()
    )
    truth = sorted(
        tuple(r)
        for r in duck.execute(
            """
            WITH names AS (SELECT DISTINCT p_name FROM part WHERE strlen(p_name) >= 3)
            SELECT a.p_name, b.p_name, CAST(levenshtein(a.p_name, b.p_name) AS INTEGER)
            FROM names a JOIN names b ON a.p_name < b.p_name
            WHERE levenshtein(a.p_name, b.p_name) <= 2
            """
        ).fetchall()
    )
    assert got == truth and len(got) > 0


def test_kcenter_greedy_invariants(spark, sf_dir):
    """Greedy k-center facts: ranks dense from 0, centers distinct, and
    the farthest-point distance is non-increasing in rank (each pick
    can only shrink the uncovered radius)."""
    from gmall_flink_parent_spark import plans

    rows = sorted(
        plans.all_queries()["kcenter_coreset"].fn(spark, sf_dir).collect(),
        key=lambda r: r.center_rank,
    )
    assert [r.center_rank for r in rows] == list(range(len(rows)))
    assert len({r.vec_id for r in rows}) == len(rows)
    dists = [r.min_dist for r in rows[1:]]
    assert all(a >= b for a, b in zip(dists, dists[1:]))
    assert all(d > 0 for d in dists)


def test_stickiness_hll_within_sketch_tolerance(spark, sf_dir):
    """The sketch-path stickiness must track the exact head within the
    HLL error band on every day (union is register-wise max, so the
    windowed MAU estimate carries no window-decomposition error)."""
    from gmall_flink_parent_spark import plans

    approx = {
        r.ymd: (r.approx_dau, r.approx_mau)
        for r in plans.all_queries()["stickiness_hll"].fn(spark, sf_dir).collect()
    }
    exact = {
        r.ymd: (r.dau, r.mau)
        for r in plans.all_queries()["stickiness_ratio"].fn(spark, sf_dir).collect()
    }
    assert set(approx) == set(exact) and len(exact) > 0
    for ymd, (dau, mau) in exact.items():
        a_dau, a_mau = approx[ymd]
        assert abs(a_dau - dau) <= max(2, 0.05 * dau), (ymd, a_dau, dau)
        assert abs(a_mau - mau) <= max(2, 0.05 * mau), (ymd, a_mau, mau)


def test_mmr_rerank_diversifies(spark, sf_dir):
    """MMR facts: rank 1 is the pure-relevance argmax, results are
    distinct, and the chosen set's worst pairwise redundancy is no
    higher than the pure top-k's — the diversity the (1−λ) penalty
    exists to buy."""
    import math

    from gmall_flink_parent_spark import plans
    from gmall_flink_parent_spark.functions.similarity import (
        _MMR_K,
        _MMR_QUERY,
    )
    from gmall_flink_parent_spark.sources.tables import load_table

    rows = sorted(
        plans.all_queries()["mmr_rerank"].fn(spark, sf_dir).collect(),
        key=lambda r: r.mmr_rank,
    )
    assert [r.mmr_rank for r in rows] == list(range(1, _MMR_K + 1))
    assert len({r.vec_id for r in rows}) == _MMR_K
    assert rows[0].relevance == max(r.relevance for r in rows)

    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(emb[a], emb[b]))
        na = math.sqrt(sum(x * x for x in emb[a]))
        nb = math.sqrt(sum(x * x for x in emb[b]))
        return d / (na * nb)

    def worst_pair(ids):
        return max(cos(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :])

    q = emb[_MMR_QUERY]
    by_rel = sorted(
        (v for v in emb if v != _MMR_QUERY),
        key=lambda v: (-cos(_MMR_QUERY, v), v),
    )[:_MMR_K]
    assert worst_pair([r.vec_id for r in rows]) <= worst_pair(by_rel) + 1e-12


def test_retention_and_rfm_invariants(spark, sf_dir):
    """Structural facts independent of the oracle: every cohort retains
    100% of itself at offset 0 and never exceeds it later; RFM
    quartiles are balanced (ntile semantics: sizes differ by at most 1
    per metric)."""
    from gmall_flink_parent_spark import plans

    rows = plans.all_queries()["retention_cohorts"].fn(spark, sf_dir).collect()
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_ymd, {})[r.day_offset] = r
    for cohort, offs in by_cohort.items():
        assert offs[0].retained_pct == 1.0, cohort
        size = offs[0].n_active
        assert all(r.n_active <= size for r in offs.values())

    seg = plans.all_queries()["rfm_segments"].fn(spark, sf_dir).collect()
    n = len(seg)
    for col in ("r_quartile", "f_quartile", "m_quartile"):
        counts = {}
        for r in seg:
            counts[r[col]] = counts.get(r[col], 0) + 1
        assert set(counts) == {1, 2, 3, 4}
        assert max(counts.values()) - min(counts.values()) <= 1, (col, counts)
        assert sum(counts.values()) == n


def test_copurchase_pair_contract(spark, sf_dir):
    """Every emitted pair is ordered, self-free, and meets min support."""
    from gmall_flink_parent_spark import plans

    rows = plans.all_queries()["part_copurchase_pairs"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.part_a < r.part_b
        assert r.support >= 3


def test_kcenter_assign_is_consistent_with_selection(spark, sf_dir):
    """Assignment facts: the chosen centers assign to themselves at
    distance 0, every vector lands on one of the k ranks, and each
    vector's assigned distance is genuinely the minimum over centers
    (spot-proof: it never exceeds the distance to center 0)."""
    from gmall_flink_parent_spark import plans

    centers = {
        r.center_rank: r.vec_id
        for r in plans.all_queries()["kcenter_coreset"].fn(spark, sf_dir).collect()
    }
    assign = plans.all_queries()["kcenter_assign"].fn(spark, sf_dir).collect()
    by_vec = {r.vec_id: r for r in assign}
    assert set(r.center_rank for r in assign) <= set(centers)
    for rank, vid in centers.items():
        assert by_vec[vid].center_rank == rank and by_vec[vid].dist == 0.0


def test_observe_expectations_rides_the_write_scan(spark, sf_dir, tmp_path):
    """The observe() form must yield the SAME metric values as the
    oracle-checked report head — from the write's own scan, no second
    pass — and its verdicts must agree check-for-check."""
    from gmall_flink_parent_spark.functions.expectations import (
        DOCUMENT_CHECKS,
        expectation_report,
        observe_expectations,
        observed_verdicts,
    )
    from gmall_flink_parent_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    observed, obs = observe_expectations(docs, DOCUMENT_CHECKS)
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))  # the only action
    from gmall_flink_parent_spark.functions.expectations import observable

    obs_checks = observable(DOCUMENT_CHECKS)
    assert 3 < len(obs_checks) < len(DOCUMENT_CHECKS)  # distinct checks stay behind
    got = {n: (m, ok) for n, m, ok in observed_verdicts(obs, obs_checks)}
    report = {
        r.check_name: (r.metric, r.status == "pass")
        for r in expectation_report(docs, DOCUMENT_CHECKS).collect()
        if r.check_name in {c.name for c in obs_checks}
    }
    assert got == report and len(got) > 3


def test_native_session_window_matches_lag_sum(spark, sf_dir):
    """Spark's native session_window operator and the hand-rolled
    lag + running-sum construction (``sessionize``) must produce the
    SAME sessions — same (user, start, n_events, value) set, and the
    native head's close is last-event + gap. (The two constructions
    differ only for an event landing exactly at last_ts + gap; the
    corpus has no such boundary pair at any SF, verified up front.)"""
    from gmall_flink_parent_spark import plans

    qmap = plans.query_map()
    native = qmap["session_window_stats"](spark, sf_dir).collect()
    lag = qmap["sessionize"](spark, sf_dir).collect()
    key = lambda r: (r["user_id"], r["session_start"], r["n_events"], r["session_value"])
    assert sorted(map(key, native)) == sorted(map(key, lag))
    # native close = last event ts + 30 min (the streaming eviction instant)
    by_start = {(r["user_id"], r["session_start"]): r["session_end"] for r in lag}
    import datetime as _dt

    gap = _dt.timedelta(minutes=30)
    assert all(
        r["session_close"] == by_start[(r["user_id"], r["session_start"])] + gap
        for r in native
    )


def test_session_stats_frame_gap_parameter(spark):
    """The gap parameter changes the merge: a 10-minute chain is one
    session at gap=30min and three sessions at gap=5min."""
    import datetime as _dt

    from gmall_flink_parent_spark.operators.windows import session_stats_frame

    t0 = _dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(1, t0 + _dt.timedelta(minutes=10 * i), 1.0) for i in range(3)]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    wide = session_stats_frame(ev, "30 minutes").collect()
    assert len(wide) == 1 and wide[0]["n_events"] == 3
    narrow = sorted(
        session_stats_frame(ev, "5 minutes").collect(),
        key=lambda r: r["session_start"],
    )
    assert [r["n_events"] for r in narrow] == [1, 1, 1]
    assert all(
        r["session_close"] - r["session_start"] == _dt.timedelta(minutes=5)
        for r in narrow
    )


def test_weighted_sample_prefers_heavy_rows(spark):
    """A-Res semantics pin: a row with overwhelming weight is all but
    guaranteed into the sample (its key u^(1/w) → 1), and across many
    seeds heavier rows appear more often — weight actually matters,
    it's not a uniform sample wearing a costume."""
    from gmall_flink_parent_spark.functions.selection import weighted_sample_frame

    rows = [(i, 1_000_000 if i == 0 else 10) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    picks_of_zero = 0
    heavy_half, light_half = 0, 0
    for s in range(12):
        got = {r["doc_id"] for r in weighted_sample_frame(df, "w", 5, f"s{s}").collect()}
        assert len(got) == 5
        picks_of_zero += 0 in got
        heavy_half += len(got & set(range(1, 20)))
        light_half += len(got & set(range(20, 40)))
    assert picks_of_zero == 12  # the mega-weight row never misses
    # equal-weight halves: both get picked over the seeds (sanity)
    assert heavy_half > 0 and light_half > 0


def test_cross_multiplied_thresholds_match_exact_rational_arithmetic(spark):
    """The Q17/Q11 heads replace threshold DIVISIONS with decimal
    cross-multiplications (5·qty·n < Σqty; 2·v·n > 3·Σv) precisely so
    no engine's quotient rounding can flip a boundary row. Prove the
    Spark expressions agree with exact rational arithmetic on
    adversarial values — exact ties included, which strict comparisons
    must EXCLUDE (a divided-double formulation gets ties wrong in
    either direction depending on rounding)."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    # (qty, n, sum_qty): the middle rows are exact ties 5*qty*n == sum
    rows = [
        (10.00, 3, 150.00),   # tie: 5*10*3 == 150 → NOT less
        (9.99, 3, 150.00),    # just under → less
        (10.01, 3, 150.00),   # just over → not less
        (0.01, 1, 0.05),      # tie at the smallest scale step
        (0.01, 1, 0.06),      # under by one cent
        (33.33, 7, 1166.55),  # tie: 5*33.33*7 == 1166.55
        (33.33, 7, 1166.56),
        (47.50, 11, 2612.50), # tie
        (47.50, 11, 2612.49),
    ]
    df = spark.createDataFrame(rows, "qty double, n long, sum_qty double").select(
        F.col("qty").cast("decimal(9,2)").alias("qty"),
        F.col("n").cast("decimal(12,0)").alias("n"),
        F.col("sum_qty").cast("decimal(19,2)").alias("sum_qty"),
    )
    got = [
        bool(r["lt"])
        for r in df.select(
            (F.lit(5) * F.col("qty") * F.col("n") < F.col("sum_qty")).alias("lt")
        ).collect()
    ]
    want = [
        5 * Fraction(str(q)) * nn < Fraction(str(s)) for q, nn, s in rows
    ]
    assert got == want, list(zip(rows, got, want))

    # Q11 form: 2·v·n > 3·total, ties again excluded by strict >
    rows11 = [
        (150.00, 4, 400.00),   # tie: 2*150*4 == 3*400
        (150.01, 4, 400.00),   # just over → greater
        (149.99, 4, 400.00),
        (0.03, 1, 0.02),       # tie at cents: 0.06 == 0.06
        (0.04, 1, 0.02),
    ]
    df11 = spark.createDataFrame(rows11, "v double, n long, total double").select(
        F.col("v").cast("decimal(20,4)").alias("v"),
        F.col("n").cast("decimal(12,0)").alias("n"),
        F.col("total").cast("decimal(30,4)").alias("total"),
    )
    got11 = [
        bool(r["gt"])
        for r in df11.select(
            (
                F.col("v") * F.col("n") * F.lit(2).cast("decimal(2,0)")
                > F.lit(3).cast("decimal(2,0)") * F.col("total")
            ).alias("gt")
        ).collect()
    ]
    want11 = [
        2 * Fraction(str(v)) * nn > 3 * Fraction(str(t)) for v, nn, t in rows11
    ]
    assert got11 == want11, list(zip(rows11, got11, want11))


def test_partsupp_construction_invariants(spark, sf_dir):
    """Design contracts of the derived partsupp (``operators/partsupp.py``)
    that the DuckDB hash parity alone doesn't state:

    - (ps_partkey, ps_suppkey) is a KEY — no duplicate pairs survive
      the spread ∪ observed union;
    - every part carries at least 4 suppliers (the spread guarantees
      distinctness for any supplier count ≥ 4);
    - every (l_partkey, l_suppkey) pair observed in lineitem is priced
      — the Q9/Q20 topology guarantee (inner joins lose nothing);
    - pricing is deterministic and bounded: availqty ∈ [1, 9999],
      supplycost ∈ [1.00, 1000.00], and a rebuild is row-identical.
    """
    from gmall_flink_parent_spark.operators.partsupp import partsupp_frame

    ps = partsupp_frame(spark, sf_dir).cache()
    try:
        n = ps.count()
        assert ps.select("ps_partkey", "ps_suppkey").distinct().count() == n
        per_part = ps.groupBy("ps_partkey").count()
        assert per_part.filter(F.col("count") < 4).count() == 0
        li = load_table(spark, sf_dir, "lineitem").select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        ).distinct()
        missing = li.join(ps, ["ps_partkey", "ps_suppkey"], "left_anti").count()
        assert missing == 0, f"{missing} observed pairs unpriced"
        bounds = ps.agg(
            F.min("ps_availqty").alias("aq_min"), F.max("ps_availqty").alias("aq_max"),
            F.min("ps_supplycost").alias("sc_min"), F.max("ps_supplycost").alias("sc_max"),
        ).collect()[0]
        assert 1 <= bounds["aq_min"] and bounds["aq_max"] <= 9999
        from decimal import Decimal

        assert Decimal("1.00") <= bounds["sc_min"] and bounds["sc_max"] <= Decimal("1000.00")
        rebuilt = partsupp_frame(spark, sf_dir)
        assert rebuilt.exceptAll(ps).count() == 0 and ps.exceptAll(rebuilt).count() == 0
    finally:
        ps.unpersist()


def test_partsupp_q9_head_plan_shape(spark, sf_dir):
    """Plan pins for ``nation_profit_rollup_partsupp``: the p_type
    filter reaches the part scan (PushedFilters), dims ride broadcast
    hash joins under the default gate, and no cartesian/BNLJ appears —
    the composite-key partsupp join plans as a plain equi-join."""
    import contextlib
    import io

    df = plans.all_queries()["nation_profit_rollup_partsupp"].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    import re

    pushed = re.findall(r"PushedFilters: \[[^\]]*p_type[^\]]*\]", plan)
    assert any("EqualTo(p_type,PROMO)" in p for p in pushed), plan[:4000]


# --------------------------------------- session interval algebra heads


def test_concurrency_peak_counts_boundary_touch_as_concurrent(spark):
    """CLOSED-interval sweep semantics: a session ending at instant T is
    still concurrent with one starting at T, and the peak is
    deterministic under delta-tie reordering (all opens of an instant
    apply before its closes)."""
    from gmall_flink_parent_spark.operators import windows as W
    from pyspark.sql import functions as F

    # user 1: [00:00, 01:00]; user 2: [01:00, 02:00] (touch at 01:00);
    # user 3: [00:30, 00:40] (inside user 1's session) — peak must be 3
    # counted at the touch instant only if all three overlap there (they
    # don't: at 01:00 user 3 is closed) → peak 2 at 00:30 AND 2 at 01:00;
    # adding user 4 [00:59, 01:01] makes the 01:00 instant {1,2,4} = 3.
    rows = [
        (1, 1, "2024-01-01 00:00:00", "2024-01-01 01:00:00"),
        (2, 1, "2024-01-01 01:00:00", "2024-01-01 02:00:00"),
        (3, 1, "2024-01-01 00:30:00", "2024-01-01 00:40:00"),
        (4, 1, "2024-01-01 00:59:00", "2024-01-01 01:01:00"),
    ]
    s = spark.createDataFrame(
        rows, "user_id long, session_seq long, session_start string, session_end string"
    ).select(
        "user_id",
        "session_seq",
        F.to_timestamp("session_start").alias("session_start"),
        F.to_timestamp("session_end").alias("session_end"),
    )
    ymd = F.date_format("session_start", "yyyyMMdd").alias("ymd")
    deltas = s.select(ymd, F.col("session_start").alias("t"), F.lit(1).alias("d")).unionAll(
        s.select(ymd, F.col("session_end").alias("t"), F.lit(-1).alias("d"))
    )
    grain = deltas.groupBy("ymd", "t").agg(
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).alias("n_open"),
        F.sum("d").alias("net"),
    )
    from pyspark.sql import Window

    wd = Window.partitionBy("ymd").orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    run = grain.withColumn("cum", F.sum("net").over(wd))
    peak = run.groupBy("ymd").agg(
        F.max(F.col("cum") - F.col("net") + F.col("n_open")).alias("peak")
    ).collect()
    assert len(peak) == 1 and peak[0]["peak"] == 3


def test_overlap_pairs_first_shared_bucket_dedup_and_touch(spark, sf_dir):
    """The bucketed overlap join must (a) emit a pair that shares MANY
    hour buckets exactly once, (b) count a boundary touch (end == start)
    as an overlap with zero duration, and (c) match the naive
    inequality join row-for-row on the real sf0.001 sessions."""
    from gmall_flink_parent_spark.operators.windows import (
        session_bounds_frame,
        session_overlap_pairs,
    )
    from gmall_flink_parent_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    head = {
        (r["user_a"], r["user_b"]): (r["n_copresent_sessions"], r["overlap_us_total"])
        for r in session_overlap_pairs(spark, sf_dir).collect()
    }
    s = session_bounds_frame(load_table(spark, sf_dir, "events"))
    a = s.select(
        F.col("user_id").alias("ua"),
        F.col("session_start").alias("sa"),
        F.col("session_end").alias("ea"),
    )
    b = s.select(
        F.col("user_id").alias("ub"),
        F.col("session_start").alias("sb"),
        F.col("session_end").alias("eb"),
    )
    naive = (
        a.join(
            b,
            (F.col("ua") < F.col("ub"))
            & (F.col("sa") <= F.col("eb"))
            & (F.col("sb") <= F.col("ea")),
        )
        .groupBy("ua", "ub")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.unix_micros(F.least("ea", "eb"))
                - F.unix_micros(F.greatest("sa", "sb"))
            ).alias("ov"),
        )
        .collect()
    )
    naive_map = {(r["ua"], r["ub"]): (r["n"], r["ov"]) for r in naive}
    assert head == naive_map and len(head) > 0


def test_overlap_pairs_multibucket_pair_emitted_once(spark):
    """A synthetic pair overlapping across 5 shared hour buckets comes
    out exactly once with the exact closed-interval duration, and a
    zero-length touch is kept."""
    from gmall_flink_parent_spark.operators import windows as W
    from pyspark.sql import functions as F

    rows = [
        # users 1/2 overlap for 5 hours (5+ shared buckets)
        (1, "2024-01-01 00:10:00", "2024-01-01 06:00:00"),
        (2, "2024-01-01 01:00:00", "2024-01-01 06:30:00"),
        # users 3/4 touch at one instant
        (3, "2024-01-02 00:00:00", "2024-01-02 01:00:00"),
        (4, "2024-01-02 01:00:00", "2024-01-02 02:00:00"),
    ]
    events = spark.createDataFrame(rows, "user_id long, st string, en string")
    s = events.select(
        "user_id",
        F.lit(1).alias("session_seq"),
        F.to_timestamp("st").alias("session_start"),
        F.to_timestamp("en").alias("session_end"),
    )
    bucketed = s.select(
        "user_id",
        "session_start",
        "session_end",
        F.floor(F.unix_micros("session_start") / W._OVERLAP_BUCKET_US).alias("b_start"),
        F.floor(F.unix_micros("session_end") / W._OVERLAP_BUCKET_US).alias("b_end"),
    )
    exploded = bucketed.select(
        "user_id",
        "session_start",
        "session_end",
        "b_start",
        F.explode(F.sequence("b_start", "b_end")).alias("bucket"),
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.user_id") < F.col("b.user_id"))
        & (F.col("a.session_start") <= F.col("b.session_end"))
        & (F.col("b.session_start") <= F.col("a.session_end"))
        & (F.col("a.bucket") == F.greatest(F.col("a.b_start"), F.col("b.b_start"))),
    ).select(
        F.col("a.user_id").alias("user_a"),
        F.col("b.user_id").alias("user_b"),
        (
            F.unix_micros(F.least("a.session_end", "b.session_end"))
            - F.unix_micros(F.greatest("a.session_start", "b.session_start"))
        ).alias("ov_us"),
    )
    got = {(r["user_a"], r["user_b"]): r["ov_us"] for r in pairs.collect()}
    assert got == {(1, 2): 5 * 3_600_000_000, (3, 4): 0}
    assert pairs.count() == 2  # multi-bucket pair not duplicated


def test_sequence_support_rewrite_matches_naive_quadratic(spark, sf_dir):
    """The per-(user, type) min/max rewrite must equal the textbook
    event-level quadratic self-join for BOTH semantics (exists: some A
    strictly before some B; leads: first A strictly before first B) on
    real data."""
    from gmall_flink_parent_spark.plans import all_queries
    from gmall_flink_parent_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    head = {
        (r["type_a"], r["type_b"]): (r["n_users_exists"], r["n_users_leads"])
        for r in all_queries()["event_sequence_support"].fn(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    a = ev.select(
        F.col("user_id").alias("u"), F.col("event_type").alias("ta"), F.col("ts").alias("tsa")
    )
    b = ev.select(
        F.col("user_id").alias("ub"), F.col("event_type").alias("tb"), F.col("ts").alias("tsb")
    )
    exists = (
        a.join(b, (F.col("u") == F.col("ub")) & (F.col("tsa") < F.col("tsb")))
        .select("u", "ta", "tb")
        .distinct()
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    firsts = ev.groupBy("user_id", "event_type").agg(F.min("ts").alias("fts"))
    fa = firsts.select(
        F.col("user_id").alias("u"), F.col("event_type").alias("ta"), F.col("fts").alias("fa")
    )
    fb = firsts.select(
        F.col("user_id").alias("ub"), F.col("event_type").alias("tb"), F.col("fts").alias("fb")
    )
    leads = (
        fa.join(fb, (F.col("u") == F.col("ub")) & (F.col("fa") < F.col("fb")))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    exists_map = {(r["ta"], r["tb"]): r["n"] for r in exists.collect()}
    leads_map = {(r["ta"], r["tb"]): r["n"] for r in leads.collect()}
    for (ta, tb), (n_exists, n_leads) in head.items():
        assert exists_map.get((ta, tb), 0) == n_exists, (ta, tb)
        assert leads_map.get((ta, tb), 0) == n_leads, (ta, tb)


def test_sequence3_rewrite_matches_per_user_scan(spark, sf_dir):
    """Independent exactness pin for the length-3 support head: an
    Arrow per-user sorted scan (O(history · |types|²) per user, no
    join at all) must agree triple-for-triple with the extrema-join
    rewrite. This is the sf0.1-scale check — the DuckDB oracle is the
    naive cubic join and cannot run there."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from gmall_flink_parent_spark.plans import all_queries
    from gmall_flink_parent_spark.sources.tables import load_table

    head = {
        (r["type_a"], r["type_b"], r["type_c"]): r["n_users"]
        for r in all_queries()["event_sequence3_support"].fn(spark, sf_dir).collect()
    }

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    types = sorted(r["event_type"] for r in ev.select("event_type").distinct().collect())

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts", kind="mergesort")
        ts = pdf["ts"].to_numpy()
        by_type = {t: ts[(pdf["event_type"] == t).to_numpy()] for t in types}
        out = []
        for ta in types:
            tsa = by_type[ta]
            if len(tsa) == 0:
                continue
            fa = tsa[0]
            for tb in types:
                tsb = by_type[tb]
                i = np.searchsorted(tsb, fa, side="right")
                if i >= len(tsb):
                    continue
                t_ab = tsb[i]
                for tc in types:
                    tsc = by_type[tc]
                    j = np.searchsorted(tsc, t_ab, side="right")
                    if j < len(tsc):
                        out.append((ta, tb, tc))
        return pd.DataFrame(out, columns=["type_a", "type_b", "type_c"])

    per_user = ev.groupBy("user_id").applyInPandas(
        scan, "type_a string, type_b string, type_c string"
    )
    independent = {
        (r["type_a"], r["type_b"], r["type_c"]): r["n"]
        for r in per_user.groupBy("type_a", "type_b", "type_c")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert head == independent and len(head) > 0


def test_sequence_gap_support_banded_matches_naive(spark, sf_dir):
    """The two-bucket banded self-join must equal the naive per-user
    inequality join (strict lower, inclusive upper gap bound) pair-
    for-pair on real data — including that no (A, B) event pair is
    double-counted across the two probe buckets."""
    from pyspark.sql import functions as F

    from gmall_flink_parent_spark.operators.analytics import _GAP_SUPPORT_US
    from gmall_flink_parent_spark.plans import all_queries
    from gmall_flink_parent_spark.sources.tables import load_table

    head = {
        (r["type_a"], r["type_b"]): r["n_users"]
        for r in all_queries()["event_sequence_gap_support"].fn(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    a = ev.select(
        F.col("user_id").alias("u"), F.col("event_type").alias("ta"), F.col("ts").alias("tsa")
    )
    b = ev.select(
        F.col("user_id").alias("ub"), F.col("event_type").alias("tb"), F.col("ts").alias("tsb")
    )
    naive = (
        a.join(
            b,
            (F.col("u") == F.col("ub"))
            & (F.col("tsb") > F.col("tsa"))
            & (F.unix_micros("tsb") <= F.unix_micros("tsa") + F.lit(_GAP_SUPPORT_US)),
        )
        .select("u", "ta", "tb")
        .distinct()
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    naive_map = {(r["ta"], r["tb"]): r["n"] for r in naive}
    assert head == naive_map and len(head) > 0


@pytest.mark.parametrize("seed", [7, 101, 2024])
def test_interval_algebra_on_random_fixtures_matches_bruteforce(spark, seed):
    """Hardening beyond the corpus: on seeded random interval sets, the
    sweep peak must equal brute-force max concurrency at every
    endpoint, and the bucketed overlap join must equal the O(n²)
    Python double loop — closed intervals, zero-length touches, and
    multi-bucket spans all drawn at random."""
    import numpy as np
    from pyspark.sql import functions as F

    from gmall_flink_parent_spark.operators import windows as W

    rng = np.random.default_rng(seed)
    n = 120
    day0 = np.datetime64("2024-03-01T00:00:00", "us")
    starts = day0 + rng.integers(0, 20 * 3600 * 10**6, n).astype("timedelta64[us]")
    durs = rng.integers(0, 5 * 3600 * 10**6, n).astype("timedelta64[us]")
    # sprinkle exact boundary touches: session i+1 starts where i ends
    ends = starts + durs
    for i in range(0, n - 1, 17):
        starts[i + 1] = ends[i]
        ends[i + 1] = starts[i + 1] + durs[i + 1]
    users = rng.permutation(n) + 1  # distinct users → no same-user dedup
    rows = [
        (int(users[i]), 1, str(starts[i]).replace("T", " "), str(ends[i]).replace("T", " "))
        for i in range(n)
    ]
    s = spark.createDataFrame(
        rows, "user_id long, session_seq long, st string, en string"
    ).select(
        "user_id",
        "session_seq",
        F.to_timestamp("st").alias("session_start"),
        F.to_timestamp("en").alias("session_end"),
    )

    # --- brute force in Python
    st_us = starts.astype("int64")
    en_us = ends.astype("int64")
    # peak concurrency (single day by construction): at every start
    # endpoint count open sessions, closed-interval semantics
    peak = max(
        int(((st_us <= t) & (en_us >= t)).sum()) for t in st_us
    )
    # overlap pairs keyed (min_user, max_user)
    want_pairs = {}
    for i in range(n):
        for j in range(i + 1, n):
            if st_us[i] <= en_us[j] and st_us[j] <= en_us[i]:
                ua, ub = sorted((int(users[i]), int(users[j])))
                ov = min(en_us[i], en_us[j]) - max(st_us[i], st_us[j])
                k = (ua, ub)
                cnt, tot = want_pairs.get(k, (0, 0))
                want_pairs[k] = (cnt + 1, tot + int(ov))

    # --- sweep head core on the fixture
    ymd = F.date_format("session_start", "yyyyMMdd").alias("ymd")
    deltas = s.select(ymd, F.col("session_start").alias("t"), F.lit(1).alias("d")).unionAll(
        s.select(ymd, F.col("session_end").alias("t"), F.lit(-1).alias("d"))
    )
    grain = deltas.groupBy("ymd", "t").agg(
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).alias("n_open"),
        F.sum("d").alias("net"),
    )
    from pyspark.sql import Window

    wd = Window.partitionBy("ymd").orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    got_peak = (
        grain.withColumn("cum", F.sum("net").over(wd))
        .groupBy("ymd")
        .agg(F.max(F.col("cum") - F.col("net") + F.col("n_open")).alias("peak"))
        .agg(F.max("peak").alias("p"))
        .collect()[0]["p"]
    )
    assert got_peak == peak

    # --- bucketed overlap join core on the fixture
    bucketed = s.select(
        "user_id",
        "session_start",
        "session_end",
        F.floor(F.unix_micros("session_start") / W._OVERLAP_BUCKET_US).alias("b_start"),
        F.floor(F.unix_micros("session_end") / W._OVERLAP_BUCKET_US).alias("b_end"),
    )
    exploded = bucketed.select(
        "user_id",
        "session_start",
        "session_end",
        "b_start",
        F.explode(F.sequence("b_start", "b_end")).alias("bucket"),
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    got_pairs = {
        (r["user_a"], r["user_b"]): (r["n"], r["ov"])
        for r in a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.user_id") < F.col("b.user_id"))
            & (F.col("a.session_start") <= F.col("b.session_end"))
            & (F.col("b.session_start") <= F.col("a.session_end"))
            & (F.col("a.bucket") == F.greatest(F.col("a.b_start"), F.col("b.b_start"))),
        )
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
            (
                F.unix_micros(F.least("a.session_end", "b.session_end"))
                - F.unix_micros(F.greatest("a.session_start", "b.session_start"))
            ).alias("ov_us"),
        )
        .groupBy("user_a", "user_b")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("ov_us").alias("ov"))
        .collect()
    }
    assert got_pairs == want_pairs


def test_overlap_bucket_width_invariant(spark, sf_dir):
    """The overlap join's bucket width is a PHYSICAL knob: 10-minute
    and 4-hour widths must produce exactly the default's result set
    (the first-shared-bucket dedup proof is width-independent), and a
    non-positive width must refuse loudly."""
    import pytest as _pytest

    from gmall_flink_parent_spark.operators.windows import (
        OVERLAP_BUCKET_CONF,
        session_overlap_pairs,
    )

    def run():
        return sorted(
            tuple(r) for r in session_overlap_pairs(spark, sf_dir).collect()
        )

    base = run()
    try:
        for width in ("600000000", "14400000000"):
            spark.conf.set(OVERLAP_BUCKET_CONF, width)
            assert run() == base, f"width {width} changed the result"
        spark.conf.set(OVERLAP_BUCKET_CONF, "0")
        with _pytest.raises(ValueError):
            session_overlap_pairs(spark, sf_dir)
    finally:
        spark.conf.unset(OVERLAP_BUCKET_CONF)
    assert len(base) > 0


def test_cusum_localizes_a_planted_level_shift(spark):
    """On a planted step signal (10/day for 10 days, then 50/day), the
    CUSUM argmax must land exactly on the last pre-shift day — and a
    constant signal must score (near) zero with the earliest-day tie
    break."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = []
    for d in range(1, 21):
        v = 10.0 if d <= 10 else 50.0
        rows.append(("shift", f"202402{d:02d}", v))
        rows.append(("flat", f"202402{d:02d}", 7.0))
    daily = spark.createDataFrame(rows, "event_type string, ymd string, raw double").select(
        "event_type", "ymd", F.col("raw").cast("decimal(18,2)").alias("v")
    )
    wt = Window.partitionBy("event_type")
    wo = wt.orderBy("ymd")
    stats = daily.select(
        "event_type",
        "ymd",
        F.sum("v").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("prefix"),
        F.row_number().over(wo).alias("k"),
        F.sum("v").over(wt).alias("total"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    s_abs = F.abs(F.col("n") * F.col("prefix") - F.col("k") * F.col("total"))
    top = (
        stats.select(
            "event_type", "ymd",
            F.row_number().over(wt.orderBy(s_abs.desc(), "ymd")).alias("rnk"),
            (s_abs.cast("double") / F.col("n").cast("double")).alias("stat"),
        )
        .filter(F.col("rnk") == 1)
        .collect()
    )
    got = {r["event_type"]: (r["ymd"], r["stat"]) for r in top}
    assert got["shift"][0] == "20240210" and got["shift"][1] > 0
    assert got["flat"][0] == "20240201" and got["flat"][1] == 0.0


def test_twa_on_random_fixture_matches_numpy_integration(spark):
    """Seeded random irregular step signals: the registered TWA core
    must equal a direct numpy integration of the step function per
    (type, day) — including duplicate timestamps (zero-duration holds)
    and the LOCF-to-midnight boundary extension."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(42)
    rows = []
    for day in (1, 2):
        for typ in ("a", "b"):
            n = int(rng.integers(3, 30))
            offs = np.sort(rng.integers(0, 86_400_000_000, n))
            offs[rng.integers(0, n)] = offs[0]  # force a duplicate ts
            offs = np.sort(offs)
            for i, off in enumerate(offs):
                rows.append(
                    (
                        len(rows) + 1,
                        typ,
                        f"2024-05-0{day} 00:00:00",
                        int(off),
                        round(float(rng.uniform(0, 100)), 2),
                    )
                )
    ev = (
        spark.createDataFrame(
            rows, "event_id long, event_type string, base string, off_us long, value double"
        )
        .select(
            "event_id",
            "event_type",
            "value",
            F.timestamp_micros(
                F.unix_micros(F.to_timestamp("base")) + F.col("off_us")
            ).alias("ts"),
        )
    )
    # registered core inline (same expressions as event_value_twa_daily)
    from pyspark.sql import Window

    ymd = F.date_format("ts", "yyyyMMdd")
    w = Window.partitionBy("event_type", ymd.alias("ymd")).orderBy("ts", "event_id")
    day_end = F.date_add(F.to_date("ts"), 1).cast("timestamp")
    dt_us = F.unix_micros(F.coalesce(F.lead("ts").over(w), day_end)) - F.unix_micros("ts")
    got = {
        (r["event_type"], r["ymd"]): (r["active_us"], r["twa"])
        for r in ev.select(
            "event_type",
            ymd.alias("ymd"),
            F.col("value").cast("decimal(18,2)").alias("v"),
            dt_us.alias("dt_us"),
        )
        .groupBy("event_type", "ymd")
        .agg(
            F.sum("dt_us").cast("bigint").alias("active_us"),
            (
                F.sum(F.col("v") * F.col("dt_us")).cast("double")
                / F.sum("dt_us").cast("double")
            ).alias("twa"),
        )
        .collect()
    }
    # numpy integration per (type, day): sort by (off, event_id), value
    # holds to the next off (or day end)
    import collections

    by_key = collections.defaultdict(list)
    for eid, typ, base, off, val in rows:
        day = base[8:10]
        by_key[(typ, f"202405{day}")].append((off, eid, val))
    for key, pts in by_key.items():
        pts.sort()
        offs = np.array([p[0] for p in pts], dtype=np.int64)
        vals = np.array([round(p[2], 2) for p in pts])
        holds = np.append(offs[1:], 86_400_000_000) - offs
        active = int(holds.sum())
        twa = float((vals * holds).sum() / holds.sum())
        g_active, g_twa = got[key]
        assert g_active == active, key
        assert abs(g_twa - twa) < 1e-9 * max(1.0, abs(twa)), key


def test_containment_catches_quote_that_jaccard_misses(spark):
    """The asymmetric case the Jaccard join structurally cannot
    express: a 10-token 'quote' fully inside a 200-token document has
    containment 1.0 but J < 0.06 — the containment join must emit it
    (both only the contained->container direction) while the Jaccard
    frame at tau=0.6 stays silent."""
    from gmall_flink_parent_spark.functions.dedup import (
        containment_prefix_join_frame,
        jaccard_prefix_join_frame,
    )

    quote = " ".join(f"tok{i}" for i in range(10))
    big = " ".join(f"tok{i}" for i in range(200))  # superset vocabulary
    other = " ".join(f"zzz{i}" for i in range(50))
    docs = spark.createDataFrame(
        [(1, quote), (2, big), (3, other)], "doc_id long, text string"
    )
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["containment"]
        for r in containment_prefix_join_frame(docs, 0.9).collect()
    }
    assert got == {(1, 2): 1.0}  # one direction only; doc 3 untouched
    assert jaccard_prefix_join_frame(docs, 0.6).count() == 0


def _write_events_fixture(spark, tmp_path, rows, user_id_expr=None):
    """rows: (event_type, ts_string, value). Writes an events.parquet
    with the full events schema so load_table works unchanged.
    ``user_id_expr`` overrides the default synthetic user assignment
    (event_id mod 7) — e.g. minute-of-ts for per-user planted spends."""
    from pyspark.sql import functions as F

    if user_id_expr is None:
        user_id_expr = (F.col("event_id") % 7).cast("long")
    df = spark.createDataFrame(
        [(i, t, ts, float(v)) for i, (t, ts, v) in enumerate(rows)],
        "event_id long, event_type string, ts_s string, value double",
    ).select(
        "event_id",
        F.to_timestamp("ts_s").alias("ts"),
        user_id_expr.alias("user_id"),
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_acf_on_planted_periodic_ramp_and_constant_signals(spark, tmp_path):
    """Exact planted shapes: an alternating series is perfectly
    anti-correlated at odd lags and perfectly correlated at even lags;
    a linear ramp is y = x + lag at every lag (r = 1 exactly); a
    constant series has zero variance (NULL acf, row still present)."""
    from gmall_flink_parent_spark.operators.windows import event_value_acf

    rows = []
    for d in range(1, 10):  # 9 days
        rows.append(("alt", f"2024-02-{d:02d} 12:00:00", 10.0 if d % 2 else 20.0))
        rows.append(("ramp", f"2024-02-{d:02d} 12:00:00", float(d)))
        rows.append(("flat", f"2024-02-{d:02d} 12:00:00", 7.0))
    sf = _write_events_fixture(spark, tmp_path, rows)
    got = {
        (r["event_type"], r["lag"]): (r["n_pairs"], r["acf"])
        for r in event_value_acf(spark, sf).collect()
    }
    # |r| = 1 up to the two sqrt roundings (the integer core is exact;
    # the cross-engine hash is bit-exact because both engines round
    # identically — this tolerance is only about ±1 not being exactly
    # representable through sqrt(a)*sqrt(b))
    assert got[("alt", 1)][0] == 8 and abs(got[("alt", 1)][1] + 1.0) < 1e-12
    assert got[("alt", 2)][0] == 7 and abs(got[("alt", 2)][1] - 1.0) < 1e-12
    assert got[("alt", 3)][0] == 6 and abs(got[("alt", 3)][1] + 1.0) < 1e-12
    for lag in (1, 2, 3):
        n, acf = got[("ramp", lag)]
        assert n == 9 - lag and abs(acf - 1.0) < 1e-12
        n, acf = got[("flat", lag)]
        assert n == 9 - lag and acf is None


def test_acf_on_seeded_noise_matches_numpy(spark, tmp_path):
    """Seeded random daily totals: the registered head must match a
    direct numpy Pearson correlation of the lag-paired series to float
    precision (the head's arithmetic is exact-integer until one
    division, so the tolerance is pure numpy-side rounding)."""
    import numpy as np

    from gmall_flink_parent_spark.operators.windows import event_value_acf

    rng = np.random.default_rng(1107)
    vals = np.round(rng.uniform(1, 500, size=40), 2)
    rows = [
        ("noise", f"2024-{1 + d // 28:02d}-{1 + d % 28:02d} 09:00:00", float(v))
        for d, v in enumerate(vals)
    ]
    sf = _write_events_fixture(spark, tmp_path, rows)
    got = {
        r["lag"]: r["acf"] for r in event_value_acf(spark, sf).collect()
    }
    for lag in (1, 2, 3):
        expect = float(np.corrcoef(vals[:-lag], vals[lag:])[0, 1])
        assert abs(got[lag] - expect) < 1e-9, lag


def test_dow_seasonality_on_planted_weekend_signal(spark, tmp_path):
    """14 days anchored on a known Sunday (2024-02-04): Sundays run
    70, everything else 7 — the Sunday index must be exactly
    70/16 = 4.375 (overall mean = (2*70 + 12*7)/14 = 16) and the
    weighted-by-days mean of the indexes must be exactly 1."""
    import datetime as _dt

    from gmall_flink_parent_spark.operators.windows import event_dow_seasonality

    start = _dt.date(2024, 2, 4)  # a Sunday
    rows = []
    for d in range(14):
        day = start + _dt.timedelta(days=d)
        v = 70.0 if day.weekday() == 6 else 7.0  # python weekday: Sunday=6
        rows.append(("w", f"{day.isoformat()} 03:00:00", v))
    sf = _write_events_fixture(spark, tmp_path, rows)
    out = event_dow_seasonality(spark, sf).collect()
    by_dow = {r["dow"]: r for r in out}
    assert set(by_dow) == set(range(7))
    sun = by_dow[0]
    assert sun["n_days"] == 2
    assert sun["mean_daily_value"] == 70.0
    assert sun["seasonal_index"] == 70.0 / 16.0
    for dow in range(1, 7):
        assert by_dow[dow]["seasonal_index"] == 7.0 / 16.0
    n_all = sum(r["n_days"] for r in out)
    weighted = sum(r["n_days"] * r["seasonal_index"] for r in out)
    assert n_all == 14 and abs(weighted - 14.0) < 1e-12


def _write_documents_fixture(spark, tmp_path, rows):
    """rows: (source, n_chars). Writes a documents.parquet with the
    full documents schema so load_table works unchanged."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, s, int(n)) for i, (s, n) in enumerate(rows)],
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
    return str(tmp_path)


def test_ks_on_planted_shifted_and_identical_distributions(spark, tmp_path):
    """Two shifted uniform samples A={1,2,3,4}, B={3,4,5,6}: the exact
    two-sample KS is 1/2, first attained at length 2 (the tie-break
    localizer). A third case: two sources with IDENTICAL length
    multisets must score exactly 0 against each other."""
    from gmall_flink_parent_spark.functions.expectations import source_length_ks

    rows = [("A", v) for v in (1, 2, 3, 4)] + [("B", v) for v in (3, 4, 5, 6)]
    sf = _write_documents_fixture(spark, tmp_path, rows)
    got = {r["source"]: r for r in source_length_ks(spark, sf).collect()}
    assert got["A"]["ks_stat"] == 0.5 and got["A"]["ks_at_chars"] == 2
    assert got["B"]["ks_stat"] == 0.5 and got["B"]["ks_at_chars"] == 2
    assert got["A"]["n_docs"] == 4 and got["A"]["n_rest"] == 4

    rows2 = [("A", v) for v in (5, 5, 9)] + [("B", v) for v in (5, 5, 9)]
    sf2 = _write_documents_fixture(spark, tmp_path / "same", rows2)
    got2 = {r["source"]: r for r in source_length_ks(spark, sf2).collect()}
    assert got2["A"]["ks_stat"] == 0.0 and got2["A"]["ks_at_chars"] == 5
    assert got2["B"]["ks_stat"] == 0.0


def test_ks_on_seeded_samples_matches_pure_python(spark, tmp_path):
    """Seeded random lengths over 3 sources: the head must equal a
    direct pure-python sup|ECDF_s − ECDF_rest| evaluated at every
    pooled value — exactly (both sides divide the same two integers)."""
    import numpy as np

    from gmall_flink_parent_spark.functions.expectations import source_length_ks

    rng = np.random.default_rng(42)
    rows = []
    for s, (lo, hi, n) in {
        "s0": (10, 200, 57),
        "s1": (50, 260, 43),
        "s2": (10, 120, 29),
    }.items():
        for v in rng.integers(lo, hi, size=n):
            rows.append((s, int(v)))
    sf = _write_documents_fixture(spark, tmp_path, rows)
    got = {r["source"]: r for r in source_length_ks(spark, sf).collect()}

    pooled = sorted({v for _, v in rows})
    for s in ("s0", "s1", "s2"):
        mine = sorted(v for src, v in rows if src == s)
        rest = sorted(v for src, v in rows if src != s)
        n_s, n_o = len(mine), len(rest)
        best = (-1, None)
        import bisect

        for v in pooled:
            d = abs(
                bisect.bisect_right(mine, v) * n_o
                - bisect.bisect_right(rest, v) * n_s
            )
            if d > best[0]:
                best = (d, v)
        assert got[s]["ks_stat"] == best[0] / (n_s * n_o), s
        assert got[s]["ks_at_chars"] == best[1], s
        assert got[s]["n_docs"] == n_s and got[s]["n_rest"] == n_o


def test_sq8_codes_on_planted_vectors_hit_exact_grid_points(spark):
    """Known per-dim grid: with corpus min 0 and max 1 in every
    dimension, an all-0 vector codes to 0, all-1 to 255 (the 256 edge
    clamps), all-0.5 to exactly 128; a CONSTANT dimension (zero range)
    codes to 0 instead of dividing by zero."""
    from gmall_flink_parent_spark.functions.similarity import DIM, sq8_codes_frame

    def vec(v, const_dim_val=0.25):
        # dim 0 is constant across the corpus; the rest carry v
        return [const_dim_val] + [v] * (DIM - 1)

    emb = spark.createDataFrame(
        [(0, vec(0.0), 0), (1, vec(1.0), 0), (2, vec(0.5), 0)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {r["vec_id"]: r["code"] for r in sq8_codes_frame(emb).collect()}
    for vid, expect in [(0, 0), (1, 255), (2, 128)]:
        assert got[vid][0] == 0, "constant dim must code to 0"
        assert got[vid][1:] == [expect] * (DIM - 1), vid


def test_sq8_topk_recall_floor_against_exact_l2(spark, sf_dir):
    """The quantized ADC ranking must stay close to the EXACT float-L2
    ranking it approximates (same metric — the cosine baseline head is
    a different metric and not the right referee). The corpus is
    near-tie-heavy, so rank flips among near-equal neighbors are
    expected; the floor pins that quantization never degrades beyond
    them."""
    import numpy as np

    from gmall_flink_parent_spark.functions.similarity import embedding_sq8_topk

    rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows])
    order = np.argsort(ids)
    X, ids = X[order], ids[order]
    sq = {}
    for r in embedding_sq8_topk(spark, sf_dir).collect():
        sq.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = []
    for q in range(8):
        d = ((X - X[ids == q]) ** 2).sum(axis=1)
        d[ids == q] = np.inf
        exact = set(ids[np.lexsort((ids, d))[:5]].tolist())
        recalls.append(len(exact & sq[q]) / 5)
    assert sum(recalls) / len(recalls) >= 0.7
    assert min(recalls) >= 0.4


def test_link_prediction_on_planted_path_graph(spark, tmp_path):
    """Planted co-purchase path 1—2—3—4 (each edge backed by two
    shared baskets): the open wedges are exactly (1,3) via 2 and
    (2,4) via 3, each with one common neighbor and Jaccard
    1/(deg_u + deg_v − 1) = 0.5; the non-wedge pair (1,4) and the
    adjacent pairs must not be scored."""
    from gmall_flink_parent_spark.operators.analytics import part_link_prediction

    orders = [
        (1, [1, 2]), (2, [1, 2]),
        (3, [2, 3]), (4, [2, 3]),
        (5, [3, 4]), (6, [3, 4]),
    ]
    rows = [(o, p, "2024-02-01 00:00:00") for o, parts in orders for p in parts]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_shipdate string"
    ).selectExpr(
        "l_orderkey", "l_partkey", "CAST(l_shipdate AS TIMESTAMP) AS l_shipdate"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    got = {
        (r["part_u"], r["part_v"]): (r["common_neighbors"], r["jaccard"])
        for r in part_link_prediction(spark, str(tmp_path)).collect()
    }
    assert got == {(1, 3): (1, 0.5), (2, 4): (1, 0.5)}


def test_robust_outliers_on_planted_spike_and_degenerate_mad(spark, tmp_path):
    """Type 'var': days 10,12,..,22 plus a 100-value spike — lower
    median 16, MAD 4, so only the spike crosses 3·1.4826·MAD, with
    robust z = 84e6/5.9304e6 exactly. Type 'deg': constant 7s plus one
    spike — MAD collapses to 0, the spike is still flagged, and the z
    is NULL (the documented degenerate-MAD contract)."""
    from gmall_flink_parent_spark.operators.windows import (
        event_daily_robust_outliers,
    )

    rows = []
    for d, v in enumerate([10.0, 12.0, 14.0, 16.0, 18.0, 20.0, 22.0, 100.0]):
        rows.append(("var", f"2024-03-{d + 1:02d} 10:00:00", v))
    for d in range(8):
        rows.append(("deg", f"2024-03-{d + 1:02d} 10:00:00",
                     100.0 if d == 7 else 7.0))
    sf = _write_events_fixture(spark, tmp_path, rows)
    out = event_daily_robust_outliers(spark, sf).collect()
    flagged = {(r["event_type"], r["ymd"]) for r in out if r["is_outlier"]}
    assert flagged == {("var", "20240308"), ("deg", "20240308")}
    by_key = {(r["event_type"], r["ymd"]): r for r in out}
    spike = by_key[("var", "20240308")]
    assert spike["daily_value"] == 100.0 and spike["median_value"] == 16.0
    assert spike["robust_z"] == 84_000_000 / 5_930_400
    deg = by_key[("deg", "20240308")]
    assert deg["robust_z"] is None and deg["median_value"] == 7.0
    # non-spike days are present, unflagged
    assert by_key[("var", "20240301")]["is_outlier"] is False
    assert len(out) == 16


def test_token_entropy_on_planted_distributions(spark, tmp_path):
    """Exact planted entropies: a doc of one repeated token is 0 bits;
    a doc of 8 distinct tokens is exactly 3 bits; a 2-token doc with
    counts (3,1) is exactly 2 − (3·log2 3)/4 bits (checked to the
    round-6 grid the head reports on)."""
    from pyspark.sql import functions as F

    from gmall_flink_parent_spark.functions.curation import doc_token_entropy

    import math

    docs = [
        (0, "a a a a a a"),
        (1, "t0 t1 t2 t3 t4 t5 t6 t7"),
        (2, "x x x y"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").select(
        "doc_id", "text",
        F.lit("en").alias("lang"), F.lit("s").alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {r["doc_id"]: r for r in doc_token_entropy(spark, str(tmp_path)).collect()}
    assert got[0]["token_entropy"] == 0.0
    assert got[0]["n_tokens"] == 6 and got[0]["n_distinct"] == 1
    assert got[1]["token_entropy"] == 3.0
    expect = 2.0 - (3 * math.log2(3)) / 4
    assert abs(got[2]["token_entropy"] - expect) <= 5e-7
    assert got[2]["n_tokens"] == 4 and got[2]["n_distinct"] == 2


def test_mann_kendall_on_planted_trends(spark, tmp_path):
    """Exact planted shapes: a strictly increasing 10-day series has
    S = C(10,2) = 45 and z = 44/sqrt(125); its mirror has S = -45;
    a constant series has S = 0, z = 0, slope 0 (the tie correction
    zeroes the variance and the S=0 branch guards the 0/0); and
    Theil-Sen holds the exact unit slope through a corrupted day that
    would drag an OLS fit."""
    import math

    from gmall_flink_parent_spark.operators.windows import (
        event_trend_mann_kendall,
    )

    rows = []
    for d in range(10):
        rows.append(("up", f"2024-03-{d + 1:02d} 10:00:00", float(d + 1)))
        rows.append(("down", f"2024-03-{d + 1:02d} 10:00:00", float(10 - d)))
        rows.append(("flat", f"2024-03-{d + 1:02d} 10:00:00", 5.0))
    for d in range(13):
        v = 1000.0 if d == 6 else float(d + 1)
        rows.append(("spiked", f"2024-03-{d + 1:02d} 10:00:00", v))
    sf = _write_events_fixture(spark, tmp_path, rows)
    got = {r["event_type"]: r for r in event_trend_mann_kendall(spark, sf).collect()}

    z45 = 44.0 / math.sqrt((10 * 9 * 25) / 18.0)
    assert got["up"]["s_statistic"] == 45 and got["up"]["mk_z"] == z45
    assert got["up"]["theil_sen_slope"] == 1.0
    assert got["down"]["s_statistic"] == -45 and got["down"]["mk_z"] == -z45
    assert got["down"]["theil_sen_slope"] == -1.0
    assert got["flat"]["s_statistic"] == 0 and got["flat"]["mk_z"] == 0.0
    assert got["flat"]["theil_sen_slope"] == 0.0
    # one 1000-value day in a 13-day unit ramp: the median slope holds
    assert got["spiked"]["theil_sen_slope"] == 1.0
    assert got["spiked"]["s_statistic"] > 0


def test_spend_concentration_on_planted_distributions(spark, tmp_path):
    """Exact planted Gini values: 10 equal spenders score 0; one user
    holding everything among 10 scores (n-1)/n = 0.9; and the
    top-decile (k=1) share is exactly that user's fraction. A 5-user
    type (n < 10) reports NULL top-decile share."""
    from gmall_flink_parent_spark.operators.analytics import (
        user_spend_concentration,
    )

    rows = []
    for u in range(10):
        rows.append(("equal", f"2024-03-01 10:{u:02d}:00", 5.0))
        rows.append(("whale", f"2024-03-01 11:{u:02d}:00",
                     90.0 if u == 0 else 0.0))
    for u in range(5):
        rows.append(("small", f"2024-03-01 12:{u:02d}:00", float(u + 1)))
    sf = _write_events_fixture_users(spark, tmp_path, rows)
    got = {r["event_type"]: r for r in user_spend_concentration(spark, sf).collect()}
    eq = got["equal"]
    assert eq["n_users"] == 10 and eq["gini"] == 0.0
    assert eq["top_decile_share"] == 0.1 and eq["total_spend"] == 50.0
    wh = got["whale"]
    assert wh["n_users"] == 10 and wh["gini"] == 0.9
    assert wh["top_decile_share"] == 1.0
    sm = got["small"]
    assert sm["n_users"] == 5 and sm["top_decile_share"] is None
    # hand Gini for spends 1..5: G = (2*(1+4+9+16+25) - 6*15)/(5*15)
    assert sm["gini"] == (2 * 55 - 90) / 75


def _write_events_fixture_users(spark, tmp_path, rows):
    """_write_events_fixture with one distinct user per planted minute
    (user_id = minute of ts) so per-user spend is planted directly."""
    from pyspark.sql import functions as F

    return _write_events_fixture(
        spark, tmp_path, rows,
        user_id_expr=F.minute(F.to_timestamp("ts_s")).cast("long"),
    )


def test_lead_time_profile_on_planted_distribution(spark, tmp_path):
    """Planted lead times 0..10 days for one supplier: exact
    interpolated percentiles p50 = 5, p90 = 9, p99 = 9.9 and max 10;
    a second supplier with a constant 3-day lead collapses all
    percentiles to 3."""
    from pyspark.sql import functions as F

    from gmall_flink_parent_spark.operators.analytics import (
        supplier_lead_time_profile,
    )

    line_rows, order_rows = [], []
    for d in range(11):
        line_rows.append((d, 1, f"2024-03-{d + 1:02d} 00:00:00"))
        order_rows.append((d, "2024-03-01 00:00:00"))
    for i in range(4):
        line_rows.append((100 + i, 2, "2024-03-04 00:00:00"))
        order_rows.append((100 + i, "2024-03-01 00:00:00"))
    spark.createDataFrame(
        line_rows, "l_orderkey long, l_suppkey long, ship string"
    ).selectExpr(
        "l_orderkey", "l_suppkey", "CAST(ship AS TIMESTAMP) AS l_shipdate"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        order_rows, "o_orderkey long, od string"
    ).selectExpr(
        "o_orderkey", "CAST(od AS TIMESTAMP) AS o_orderdate"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(1, "Alpha"), (2, "Beta")], "s_suppkey long, s_name string"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "supplier.parquet"))

    got = {
        r["s_suppkey"]: r
        for r in supplier_lead_time_profile(spark, str(tmp_path)).collect()
    }
    a = got[1]
    assert a["n_items"] == 11 and a["max_days"] == 10
    assert a["p50_days"] == 5.0 and a["p90_days"] == 9.0 and a["p99_days"] == 9.9
    b = got[2]
    assert b["n_items"] == 4 and b["p50_days"] == 3.0 and b["p99_days"] == 3.0
    assert b["s_name"] == "Beta"


def test_conversion_latency_on_planted_funnel(spark, tmp_path):
    """Planted funnel: three clickers on one day — user converting in
    60 s, user converting in 180 s, user never converting — give
    conversion 2/3 and interpolated p50 = 120 s exactly; a purchase
    BEFORE a user's first click must not count (the ts >= anchor
    boundary), and a same-instant purchase must."""
    from gmall_flink_parent_spark.operators.cohorts import (
        conversion_latency_profile,
    )

    rows = [
        # user 0 (ts minute 0): click then purchase 60s later
        ("click", "2024-03-01 10:00:00", 1.0),
        ("purchase", "2024-03-01 10:01:00", 1.0),
        # user 1: click then purchase 180s later
        ("click", "2024-03-01 11:00:00", 1.0),
        ("purchase", "2024-03-01 11:03:00", 1.0),
        # user 2: click, never purchases
        ("click", "2024-03-01 12:00:00", 1.0),
        # user 3: purchase BEFORE first click — not a conversion
        ("purchase", "2024-03-01 08:30:00", 1.0),
        ("click", "2024-03-01 13:00:00", 1.0),
        # user 4: same-instant purchase — zero-latency conversion
        ("click", "2024-03-01 14:00:00", 1.0),
        ("purchase", "2024-03-01 14:00:00", 1.0),
    ]
    user_of = [0, 0, 1, 1, 2, 3, 3, 4, 4]
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (i, user_of[i], t, ts, v)
            for i, (t, ts, v) in enumerate(rows)
        ],
        "event_id long, user_id long, event_type string, ts_s string, value double",
    ).select(
        "event_id",
        F.to_timestamp("ts_s").alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = conversion_latency_profile(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["cohort_ymd"] == "20240301"
    assert r["n_clickers"] == 5 and r["n_converted"] == 3
    assert r["conversion_rate"] == 3 / 5
    # latencies: 0, 60, 180 s → p50 = 60, p90 interpolates 60..180
    assert r["p50_latency_sec"] == 60.0
    assert r["p90_latency_sec"] == 60.0 + 0.8 * 120.0


def test_acf_integer_envelope_at_huge_magnitudes(spark, tmp_path):
    """The ACF docstring claims exactness to ~1e14-cent daily totals;
    pin it at 1e12 cents (1e10-value days, far beyond any float64
    accumulator's exact range): the head must equal a pure-python
    EXACT integer-moment computation followed by the same three float
    ops — bit-for-bit, no tolerance."""
    import math
    import random

    from gmall_flink_parent_spark.operators.windows import event_value_acf

    rng = random.Random(7)
    # one event per day so the daily total IS the value (2dp exact)
    vals = [round(rng.uniform(9.9e9, 1.0e10), 2) for _ in range(25)]
    rows = [
        ("huge", f"2024-05-{d + 1:02d} 12:00:00", v) for d, v in enumerate(vals)
    ]
    sf = _write_events_fixture(spark, tmp_path, rows)
    got = {r["lag"]: r["acf"] for r in event_value_acf(spark, sf).collect()}

    cents = [round(v * 100) for v in vals]
    for lag in (1, 2, 3):
        xs, ys = cents[:-lag], cents[lag:]
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(a * b for a, b in zip(xs, ys))
        sxx = sum(a * a for a in xs)
        syy = sum(b * b for b in ys)
        num = n * sxy - sx * sy            # exact python ints
        denx, deny = n * sxx - sx * sx, n * syy - sy * sy
        expect = float(num) / (math.sqrt(float(denx)) * math.sqrt(float(deny)))
        assert got[lag] == expect, lag


def test_daily_mix_kl_on_planted_mix_shift(spark, tmp_path):
    """Three days with a 50/50 click/view corpus: two conforming days
    score exactly 0 bits; a day that is all-click scores exactly
    log2(1/q_click) weighted by 1 = 1 bit against the pooled mix —
    computed here with the pooled marginal the head actually uses.
    Absent types contribute nothing (no smoothing constant)."""
    import math

    from gmall_flink_parent_spark.operators.windows import daily_mix_kl

    rows = []
    # day 1 and 2: 2 clicks + 2 views each; day 3: 4 clicks
    for d, mix in [(1, ["click"] * 2 + ["view"] * 2),
                   (2, ["click"] * 2 + ["view"] * 2),
                   (3, ["click"] * 4)]:
        for i, t in enumerate(mix):
            rows.append((t, f"2024-06-{d:02d} 10:0{i}:00", 1.0))
    sf = _write_events_fixture(spark, tmp_path, rows)
    got = {r["ymd"]: r for r in daily_mix_kl(spark, sf).collect()}
    # pooled: click 8/12, view 4/12
    q_click = 8 / 12
    assert got["20240601"]["kl_bits"] != 0.0  # 50/50 vs 2/3-1/3 pooled
    expect_balanced = round(
        0.5 * math.log2(0.5 / q_click) + 0.5 * math.log2(0.5 / (4 / 12)), 6
    )
    assert got["20240601"]["kl_bits"] == expect_balanced
    assert got["20240602"]["kl_bits"] == expect_balanced
    assert got["20240603"]["kl_bits"] == round(math.log2(1 / q_click), 6)
    assert got["20240603"]["n_types"] == 1 and got["20240603"]["n_events"] == 4


def test_audience_overlap_on_planted_sets(spark, tmp_path):
    """Planted audiences: A = {1,2,3}, B = {2,3,4} share 2 of 4 users
    (Jaccard 0.5); C = {9} is disjoint from both so no (·, C) row
    exists; the pair is emitted once in (type_a < type_b) order."""
    from gmall_flink_parent_spark.operators.cohorts import audience_overlap_matrix

    rows = []
    for u in (1, 2, 3):
        rows.append(("A", f"2024-03-01 10:0{u}:00", 1.0, u))
    for u in (2, 3, 4):
        rows.append(("B", f"2024-03-01 11:0{u}:00", 1.0, u))
    rows.append(("C", "2024-03-01 12:00:00", 1.0, 9))
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, u, t, ts, v) for i, (t, ts, v, u) in enumerate(rows)],
        "event_id long, user_id long, event_type string, ts_s string, value double",
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id",
        "event_type", "value", F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        (r["type_a"], r["type_b"]): (r["n_a"], r["n_b"], r["n_both"], r["jaccard"])
        for r in audience_overlap_matrix(spark, str(tmp_path)).collect()
    }
    assert got == {("A", "B"): (3, 3, 2, 0.5)}


def test_interarrival_profile_on_planted_arrivals(spark, tmp_path):
    """Planted arrivals: a metronome (gap exactly 60 s) has p50 = p90 =
    60 and CV² = 0; a two-gap alternation (10 s, 110 s) has mean 60
    and CV² = Var/mean² = 2500/3600 exactly."""
    from gmall_flink_parent_spark.operators.windows import (
        event_interarrival_profile,
    )

    rows = []
    for i in range(11):  # metronome: 10 gaps of 60s
        rows.append(("tick", f"2024-03-01 10:{i:02d}:00", 1.0))
    # bursty: gaps alternate 10s, 110s (5 of each)
    t = 0
    for i in range(11):
        rows.append(
            ("burst", f"2024-03-01 12:{t // 60:02d}:{t % 60:02d}", 1.0)
        )
        t += 10 if i % 2 == 0 else 110
    sf = _write_events_fixture(spark, tmp_path, rows)
    got = {r["event_type"]: r for r in event_interarrival_profile(spark, sf).collect()}
    tick = got["tick"]
    assert tick["n_gaps"] == 10 and tick["cv2"] == 0.0
    assert tick["p50_gap_sec"] == 60.0 and tick["p90_gap_sec"] == 60.0
    burst = got["burst"]
    assert burst["n_gaps"] == 10
    # gaps: 5x10s + 5x110s -> mean 60, pop var = 2500 (s^2), cv2 = 2500/3600
    assert abs(burst["cv2"] - 2500 / 3600) < 1e-12


def test_hhi_on_planted_market_structures(spark, tmp_path):
    """Planted markets: four equal suppliers score exactly 1/4; a
    monopoly scores exactly 1.0; shares are revenue-weighted (one
    supplier with 3x the revenue of its peer gives 10/16)."""
    from pyspark.sql import functions as F

    from gmall_flink_parent_spark.operators.analytics import supplier_revenue_hhi

    # nation 0 "EQ": suppliers 1-4 each 100 revenue; nation 1 "MONO":
    # supplier 5 alone; nation 2 "SKEW": suppliers 6 (300) and 7 (100)
    line_rows = []
    for s in (1, 2, 3, 4):
        line_rows.append((s, 100.0))
    line_rows.append((5, 42.0))
    line_rows.append((6, 300.0))
    line_rows.append((7, 100.0))
    spark.createDataFrame(
        [(i, s, p, 0.0, "2024-03-01 00:00:00") for i, (s, p) in enumerate(line_rows)],
        "l_orderkey long, l_suppkey long, l_extendedprice double, "
        "l_discount double, ship string",
    ).selectExpr(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
        "CAST(ship AS TIMESTAMP) AS l_shipdate",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        [(s, f"S{s}", 0 if s <= 4 else (1 if s == 5 else 2), 0.0)
         for s in range(1, 8)],
        "s_suppkey long, s_name string, s_nationkey long, s_acctbal double",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "supplier.parquet"))
    spark.createDataFrame(
        [(0, "EQ"), (1, "MONO"), (2, "SKEW")],
        "n_nationkey long, n_name string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "nation.parquet"))

    got = {r["n_name"]: r for r in supplier_revenue_hhi(spark, str(tmp_path)).collect()}
    assert got["EQ"]["hhi"] == 0.25 and got["EQ"]["n_suppliers"] == 4
    assert got["MONO"]["hhi"] == 1.0
    assert got["SKEW"]["hhi"] == (300**2 + 100**2) / 400**2  # 10/16
    assert got["SKEW"]["total_revenue"] == 400.0


def test_sql_table_macros_match_dataframe_twins(spark, sf_dir):
    """The W1/W2/W3 SQL TABLE functions must return row-identical
    results to their registered DataFrame heads — the pure-SQL user
    gets the stateful trio's batch semantics verbatim."""
    from gmall_flink_parent_spark.functions.sql_macros import (
        register_sql_table_functions,
    )
    from gmall_flink_parent_spark.sources.tables import load_table

    # the view must exist BEFORE registration: CREATE FUNCTION analyzes
    # the body eagerly against the catalog
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_v")
    register_sql_table_functions(spark)
    pairs = [
        ("visitor_repair_sql", "visitor_repair"),
        ("uv_dedup_sql", "uv_dedup"),
        ("bounce_detect_sql", "bounce_detect"),
    ]
    for macro, head in pairs:
        got_df = spark.sql(f"SELECT * FROM {macro}()")
        want_df = plans.query_map()[head](spark, sf_dir)
        cols = sorted(want_df.columns)
        assert sorted(got_df.columns) == cols, macro
        got = sorted(
            (tuple(repr(r[c]) for c in cols) for r in got_df.collect()), key=repr
        )
        want = sorted(
            (tuple(repr(r[c]) for c in cols) for r in want_df.collect()), key=repr
        )
        assert got == want and len(want) > 0, f"{macro} != {head}"


def test_clustering_coeff_on_planted_triangle_with_pendant(spark, tmp_path):
    """Planted support-2 graph: triangle 1-2-3 plus pendant edge 3-4
    (every edge backed by two shared baskets). cc(1)=cc(2)=1 (their
    whole neighborhood is closed), cc(3)=2·1/(3·2)=1/3 (one closed
    wedge of three), cc(4)=0 by the degree-1 convention."""
    from gmall_flink_parent_spark.operators.analytics import part_clustering_coeff

    orders = [
        (1, [1, 2]), (2, [1, 2]),
        (3, [1, 3]), (4, [1, 3]),
        (5, [2, 3]), (6, [2, 3]),
        (7, [3, 4]), (8, [3, 4]),
    ]
    rows = [(o, p, "2024-02-01 00:00:00") for o, parts in orders for p in parts]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_shipdate string"
    ).selectExpr(
        "l_orderkey", "l_partkey", "CAST(l_shipdate AS TIMESTAMP) AS l_shipdate"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    got = {
        r["part"]: (r["degree"], r["n_triangles"], r["clustering"])
        for r in part_clustering_coeff(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (2, 1, 1.0),
        2: (2, 1, 1.0),
        3: (3, 1, 0.333333),
        4: (1, 0, 0.0),
    }


def test_label_propagation_on_planted_disjoint_cliques(spark, tmp_path):
    """Two disjoint planted triangles {1,2,3} and {10,11,12}: synchronous
    LPA with the min-label tie-break converges inside two rounds to one
    community per clique, labeled by the clique's smallest node (the
    deterministic trajectory: identity → min-of-others → all-min)."""
    from gmall_flink_parent_spark.operators.analytics import part_label_propagation

    cliques = [(1, 2, 3), (10, 11, 12)]
    orders, oid = [], 0
    for c in cliques:
        for i in range(3):
            for j in range(i + 1, 3):
                for _ in range(2):  # support 2 per edge
                    oid += 1
                    orders.append((oid, [c[i], c[j]]))
    rows = [(o, p, "2024-02-01 00:00:00") for o, parts in orders for p in parts]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_shipdate string"
    ).selectExpr(
        "l_orderkey", "l_partkey", "CAST(l_shipdate AS TIMESTAMP) AS l_shipdate"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    got = {
        r["part"]: (r["community"], r["community_size"])
        for r in part_label_propagation(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (1, 3), 2: (1, 3), 3: (1, 3),
        10: (10, 3), 11: (10, 3), 12: (10, 3),
    }


def test_phrase_search_on_planted_texts(spark, tmp_path):
    """Planted documents pin the positional semantics the LIKE-style
    scan can't express: self-overlapping repeats ('table hash table
    hash table' = TWO starts, 0 and 2), a phrase whose words appear
    but never adjacently ('order order fast fast' matches 'order fast'
    only at position 1), and the trigram path."""
    from gmall_flink_parent_spark.functions.retrieval import (
        phrase_search_positional,
    )

    docs = [
        (1, "table hash table hash table"),
        (2, "order order fast fast window fast query"),
    ]
    spark.createDataFrame(
        [(d, t, "en", "src", len(t)) for d, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        (r["phrase"], r["doc_id"]): (r["n_matches"], r["first_pos"])
        for r in phrase_search_positional(spark, str(tmp_path)).collect()
    }
    assert got == {
        ("table hash", 1): (2, 0),
        ("order fast", 2): (1, 1),
        ("window fast query", 2): (1, 4),
    }


def test_collocation_pmi_on_planted_counts(spark, tmp_path):
    """Planted corpus where exact PMI is computable by hand: one doc of
    five 'x y' repeats (pair (x,y) seen 5 ≥ floor, (y,x) only 4 —
    filtered), so PMI(x,y) = ln(5·10·10 / (9·5·5)) over total1=10
    unigrams and total2=9 bigrams."""
    import math

    from gmall_flink_parent_spark.functions.text import collocation_pmi

    spark.createDataFrame(
        [(1, "x y x y x y x y x y", "en", "src", 19)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    rows = collocation_pmi(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["w1"], r["w2"], r["n_pair"]) == ("x", "y", 5)
    assert r["pmi"] == round(math.log((5 * 10 * 10) / (9 * 5 * 5)), 6)


def test_proximity_search_on_planted_texts(spark, tmp_path):
    """Planted NEAR semantics: 'spark a a join' co-occurs at distance 3
    (= slop, included); 'spark a a a join' at distance 4 (excluded);
    'join spark' counts unordered at distance 1; two spark×two join
    occurrences in one doc yield every within-slop position pair."""
    from gmall_flink_parent_spark.functions.retrieval import (
        term_proximity_search,
    )

    docs = [
        (1, "spark a a join"),
        (2, "spark a a a join"),
        (3, "join spark"),
        (4, "spark join spark join"),
    ]
    spark.createDataFrame(
        [(d, t, "en", "src", len(t)) for d, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        (r["term_a"], r["term_b"], r["doc_id"]): (r["n_windows"], r["min_dist"])
        for r in term_proximity_search(spark, str(tmp_path)).collect()
    }
    assert got == {
        ("spark", "join", 1): (1, 3),
        ("spark", "join", 3): (1, 1),
        # doc 4 positions: spark@0, join@1, spark@2, join@3 — pairs
        # within slop 3: (0,1) (0,3) (2,1) (2,3) = 4 windows, min 1
        ("spark", "join", 4): (4, 1),
    }


def test_holt_forecast_on_planted_series(spark, tmp_path):
    """Three planted regimes pin the forecast algebra: a CONSTANT
    series forecasts itself exactly once the 13-lag window is full
    (Σc_k = 7W² = the denominator), a rising linear ramp extrapolates
    ABOVE its last observation (the trend term Brown's adds over the
    EWMA), and a type quiet for a full window forecasts exactly 0 via
    the zero-fill contract."""
    from gmall_flink_parent_spark.operators.windows import (
        _HOLT_LAGS,
        event_value_holt_forecast,
    )

    rows = []
    for d in range(30):
        rows.append(("flat", f"2024-03-{d + 1:02d} 10:00:00", 2.5))
        rows.append(("ramp", f"2024-03-{d + 1:02d} 10:00:00", 10.0 + d))
    rows.append(("gap", "2024-03-01 10:00:00", 50.0))
    rows.append(("gap", "2024-03-30 10:00:00", 60.0))
    sf = _write_events_fixture(spark, tmp_path, rows)
    out = {
        (r["event_type"], r["ymd"]): r["holt_forecast"]
        for r in event_value_holt_forecast(spark, sf).collect()
    }
    # constant series: exact self-forecast on every full-window day
    for d in range(_HOLT_LAGS - 1, 30):
        assert out[("flat", f"202403{d + 1:02d}")] == 2.5
    # rising ramp: steady-state forecast extrapolates past the level
    assert out[("ramp", "20240330")] > 10.0 + 29
    # quiet-for-a-window days forecast exactly zero
    for d in range(_HOLT_LAGS, 29):
        assert out[("gap", f"202403{d + 1:02d}")] == 0.0
    # the gap type's calendar is zero-filled end to end (30 rows)
    assert sum(1 for k in out if k[0] == "gap") == 30


def test_holt_backtest_on_planted_series(spark, tmp_path):
    """Backtest algebra on planted regimes: a constant series makes the
    naive persistence forecast PERFECT (mae_naive = 0, mase NULL by the
    guarded division), and a +1.0/day ramp makes the naive error
    exactly 1.0 — both exact because the error sums are integer."""
    from gmall_flink_parent_spark.operators.windows import holt_forecast_backtest

    rows = []
    for d in range(30):
        rows.append(("flat", f"2024-03-{d + 1:02d} 10:00:00", 2.5))
        rows.append(("ramp", f"2024-03-{d + 1:02d} 10:00:00", 10.0 + d))
    sf = _write_events_fixture(spark, tmp_path, rows)
    out = {r["event_type"]: r for r in holt_forecast_backtest(spark, sf).collect()}
    assert out["flat"]["n_days"] == 29
    assert out["flat"]["mae_naive"] == 0.0
    assert out["flat"]["mase"] is None
    assert out["ramp"]["mae_naive"] == 1.0
    assert out["ramp"]["mae_holt"] > 0.0


def test_js_divergence_on_planted_vocabularies(spark, tmp_path):
    """JS algebra on planted sources: identical vocabularies → 0 bits;
    a hand-computed partial overlap matches the shared-terms identity
    to the rounding grid; a fully DISJOINT pair emits an explicit
    maximum-drift row (n_shared_terms = 0, js_bits = 1.0) via the
    source-pair spine — a consumer scanning for worst drift sees it."""
    import math

    from gmall_flink_parent_spark.functions.text import source_js_divergence

    docs = [
        (1, "x x y", "A"), (2, "x z", "B"),
        (3, "q q r", "C"), (4, "q q r", "D"),  # identical to each other
        (5, "only tokens here", "E"),  # disjoint from everything
    ]
    spark.createDataFrame(
        [(d, t, "en", s, len(t)) for d, t, s in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        (r["source_a"], r["source_b"]): (r["n_shared_terms"], r["js_bits"])
        for r in source_js_divergence(spark, str(tmp_path)).collect()
    }
    # identical sources: every term shared, zero divergence
    assert got[("C", "D")] == (2, 0.0)
    # hand case A={x:2,y:1} B={x:1,z:1}: shared {x}, the identity value
    t = (2 / 3) * math.log2(8 / 7) + (1 / 2) * math.log2(6 / 7)
    want = round(0.5 * t + 0.5 * (1 - 2 / 3) + 0.5 * (1 - 1 / 2), 6)
    n, js = got[("A", "B")]
    assert n == 1 and abs(js - want) <= 1e-6
    # E shares nothing with anyone: every pair involving it is an
    # explicit maximum-drift row, and the matrix is the full 5-choose-2
    assert len(got) == 10
    for k, v in got.items():
        if "E" in k:
            assert v == (0, 1.0), k


def test_pmi_decimal_bound_guard_trips_before_silent_null(spark):
    """Round-13 brief #4: DECIMAL(38,0) caps the PMI products at 1e38;
    past it Spark (non-ANSI) silently NULLs the score while the DuckDB
    HUGEINT oracle errors — a silent cross-engine divergence.
    pmi_from_counts now carries a per-row assert_true guard on the
    log10 magnitude of both products: a planted overflow (counts near
    bigint max, so n_pair*total1^2 ~ 1e56 >> 1e38) must FAIL with the
    explicit bound message, never emit a NULL pmi. In-range corpora
    are untouched (every collocation_pmi oracle row still hash-equal —
    pinned by the parity suite)."""
    from gmall_flink_parent_spark.functions.text import pmi_from_counts

    cnt1 = spark.createDataFrame(
        [("a", 3_000_000_000_000_000_000), ("b", 3_000_000_000_000_000_000)],
        "tok string, c1 long",
    )
    cnt2 = spark.createDataFrame(
        [("a", "b", 2_000_000_000_000_000_000)],
        "w1 string, w2 string, n_pair long",
    )
    with pytest.raises(Exception, match="validity bound"):
        pmi_from_counts(cnt1, cnt2).collect()
    # well in range: tiny counts score non-null
    ok1 = spark.createDataFrame([("a", 10), ("b", 20)], "tok string, c1 long")
    ok2 = spark.createDataFrame([("a", "b", 5)], "w1 string, w2 string, n_pair long")
    rows = pmi_from_counts(ok1, ok2).collect()
    assert len(rows) == 1 and rows[0]["pmi"] is not None


def test_fixpoint_loops_truncate_lineage(spark, sf_dir):
    """The fixed-point loop heads (pagerank 5 rounds, LPA 4 rounds) must
    checkpoint each round so the final plan stays constant-size instead
    of growing a join+aggregate subtree per iteration (guide §3.3/§5 —
    planning is driver-serial and was ~3k plan lines / 320 Exchange
    entries for pagerank without truncation). With the eager
    localCheckpoint cadence the final plan reads from a LogicalRDD scan
    (``Scan ExistingRDD``) and carries at most a handful of exchanges."""
    import contextlib
    import io

    for name, max_lines in [("part_pagerank", 40), ("part_label_propagation", 120)]:
        df = plans.query_map()[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "Scan ExistingRDD" in plan, f"{name}: loop not checkpointed\n{plan}"
        n_lines = len(plan.splitlines())
        assert n_lines <= max_lines, f"{name}: plan grew to {n_lines} lines\n{plan}"
