"""Engine-wide physical-plan hygiene, pinned for every registered query.

The scale rules the repo is built on (SCALE.md) as executable
invariants: candidate generation is never an unbounded cross product,
and no Python ever runs row-at-a-time — the only Python paths are
Arrow-batched (ArrowEvalPython / mapInPandas). Runs against the full
registry so any future query or refactor that regresses the plan shape
fails here before the driver sees it.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from gmall_flink_parent_spark import plans

# Deliberate constant-size broadcast cross joins — the one legitimate
# BroadcastNestedLoopJoin shape: the broadcast side is bounded by a
# CONSTANT (not by data), so the "nested loop" is k comparisons per row.
BNLJ_ALLOWED = {
    "cosine_topk_bruteforce",  # 8-vector query set × candidates (the baseline)
    "embedding_sq8_topk",  # 1-row min/max grid + 8-query code set × candidates
    "cosine_topk_multiquery",  # 2 fixed external vectors × candidates
    "chunk_bm25_multiquery",  # fixed query-term table + 1-row stats × chunks
    "ivf_kmeans_assign",  # k=10 centroids × vectors (Lloyd assignment)
    "vocab_top_tokens",  # ≤50-row rank-offset frame × top tokens
    "doc_unigram_logprob",  # 1-row corpus-total scalar × vocab
    "doc_unigram_logprob_topv",  # 1-row (total, head_mass, n_tail) scalar × tokens
    "chunk_bm25_topk",  # 1-row (N, avgdl, df…) corpus stats × chunks
    "doc_bigram_logprob",  # 1-row vocabulary-size scalar × bigram model
    "doc_trigram_backoff_logprob",  # 1-row model-token-total N scalar × unigrams/scored
    "quality_annealed_mixture",  # 1-row p75-threshold scalar × scored docs
    "term_postings_stats",  # 1-row chunk-count scalar × vocabulary
    "dsir_importance_weights",  # 1-row (t_t, t_r) gram-total scalar × buckets
    "dsir_gumbel_resample",  # same 1-row totals scalar (shared weight core)
    "dedup_method_audit",  # 1-row (n_pred, n_truth, n_hit) count scalars per method
    "token_budget_select",  # 1-row corpus-token-total budget scalar × ranked docs
    "source_length_psi",  # constant 7-row bucket list × sources; 1-row N scalar
    "source_length_ks",  # |sources|-row vocabulary frame × pooled distinct lengths
    "daily_mix_kl",  # 1-row corpus-total scalar × (day, type) counts
    "referential_integrity",  # 1-row (n_child × n_orphans) count scalars per FK
    "funnel_conversion",  # 1-row per-step user-count scalars × report rows
    "hybrid_rrf_topk",  # inherits chunk_bm25_topk's 1-row corpus-stats broadcast
    "rfm_segments",  # 1-row anchor-date scalar × per-user purchase metrics
    "knn_label_vote",  # inherits cosine_topk_bruteforce's 8-vector query broadcast
    "doc_tfidf_topterms",  # 1-row corpus-doc-count scalar × (doc, term) counts
    "revenue_trend_fit",  # 1-row anchor-day scalar × events scan
    "cold_customer_balance",  # 1-row (n_pos, sum_pos) balance-stats scalar × customers
    "top_revenue_supplier",  # 1-row MAX-revenue scalar × per-supplier revenue frame
    "important_part_stock",  # 1-row (total, n) threshold scalars × per-part values
    "important_part_stock_partsupp",  # same 1-row threshold scalars, partsupp measure
    "event_sequence_support",  # 1-row distinct-user-count scalar × |types|² matrix
    "collocation_pmi",  # two 1-row gram-total scalars × vocab-grain pair counts
    "source_js_divergence",  # |sources|-row totals self-join pair spine (≤ |sources|²)
}


# Deliberate UNPARTITIONED windows (WindowExec with an empty partition
# spec — "No Partition Defined" at runtime, an Exchange SinglePartition
# in the plan). A global window serializes its whole input through ONE
# task, so each entry documents why that input is bounded — never the
# corpus. Any new head whose plan compiles a global window fails the
# registry-wide pin below until it is either re-partitioned or added
# here with its bound.
GLOBAL_WINDOW_ALLOWED = {
    # Distributed-prefix-sum summary pass: the window orders the
    # PER-PARTITION offset frame (one row per shuffle partition, ≤
    # defaultParallelism rows) — the corpus-sized running sum itself is
    # local offset + broadcast partition offset, never windowed.
    "training_mixture": "pid-grain offset summary (≤ #partitions rows)",
    "curriculum_mixture": "pid-grain offset summary (≤ #partitions rows)",
    "packed_training_stream": "pid-grain offset summaries (≤ #partitions rows each)",
    "quality_annealed_mixture": "pid-grain offset summary (≤ #partitions rows)",
    "token_budget_select": "pid-grain offset summary (≤ #partitions rows)",
    # Global sums over the per-source mixture summary (one row per
    # source label — config-bounded, ≤ tens of rows at any corpus size).
    "mixture_budget_weights": "per-source summary frame (≤ |sources| rows)",
    # Rank over the lexical retriever's TOP-K output (≤ 50 rows by the
    # BM25 head's constant-k contract) — constant-size sort.
    "hybrid_rrf_topk": "lexical top-k frame (≤ 50 rows)",
    # Pooled-ECDF cumulative sum over DISTINCT length values — the
    # length domain is value-bounded (doc lengths), not corpus-sized.
    "source_length_ks": "distinct-length vocabulary frame (value-domain bounded)",
    # Documented single-partition SQL-surface demo head (QUERIES.md):
    # proves the chain is expressible from spark.sql alone; the
    # scale-path twin is `training_mixture`/`packed_training_stream`.
    "sql_mixture_surface": "single-partition demo head by contract",
}


def _physical_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _bracket_groups(s: str) -> list[str]:
    """Top-level ``[...]`` substrings of a formatted-plan detail line."""
    out: list[str] = []
    depth, start = 0, 0
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                out.append(s[start + 1 : i])
    return out


def _unpartitioned_windows(plan: str) -> list[str]:
    """Arguments lines of Window nodes with an EMPTY partition spec.

    A formatted Window detail prints ``Arguments: [exprs], [partition],
    [order]``; the partition group is dropped when empty, so the
    unpartitioned signature is <3 top-level groups where the second
    group (when present) is an ORDER spec (carries ASC/DESC) rather
    than a bare partition column list.
    """
    import re

    hits: list[str] = []
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if not re.match(r"\(\d+\) Window$", ln.strip()):
            continue
        for j in range(i + 1, min(i + 6, len(lines))):
            if lines[j].startswith("Arguments:"):
                g = _bracket_groups(lines[j])
                if len(g) >= 3:
                    break  # [exprs], [partition], [order]
                if len(g) == 2 and not re.search(r"\b(ASC|DESC)\b", g[1]):
                    break  # [exprs], [partition] (no order spec)
                hits.append(lines[j][:160])
                break
    return hits


def _assert_hygienic(plan: str, name: str) -> None:
    assert "CartesianProduct" not in plan, f"{name}: unbounded cross product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: nested-loop join outside the constant-broadcast allowlist"
        )
    if name not in GLOBAL_WINDOW_ALLOWED:
        unpart = _unpartitioned_windows(plan)
        assert not unpart, (
            f"{name}: unpartitioned Window outside the bounded-frame "
            f"allowlist (serializes its input through one task): {unpart}"
        )


# dedup_cluster_keep runs its iterative construction when the frame is
# built, so it rides the shared session fixture (test below) instead of
# re-running here.
@pytest.mark.parametrize(
    "name",
    sorted(
        set(plans.all_queries())
        - {
            "dedup_cluster_keep",
            "embedding_dedup_keep",
            "leakage_safe_split",
            "cluster_keep_best_quality",
        }
    ),
)
def test_plan_hygiene(spark, sf_dir, name):
    _assert_hygienic(
        _physical_plan(plans.all_queries()[name].fn(spark, sf_dir)), name
    )


def test_global_window_allowlist_entries_are_live_and_registered(spark, sf_dir):
    """Anti-staleness guard for GLOBAL_WINDOW_ALLOWED: every entry must
    name a registered query whose CURRENT plan still compiles an
    unpartitioned Window — an entry whose head was re-partitioned (or
    renamed) must be deleted, so the allowlist never over-grants."""
    registry = plans.all_queries()
    for name in sorted(GLOBAL_WINDOW_ALLOWED):
        assert name in registry, f"{name}: allowlisted but not registered"
        plan = _physical_plan(registry[name].fn(spark, sf_dir))
        assert _unpartitioned_windows(plan), (
            f"{name}: allowlisted but its plan no longer has an "
            "unpartitioned Window — remove the stale entry"
        )


def test_plan_hygiene_cluster_keep(cluster_keep_df):
    _assert_hygienic(_physical_plan(cluster_keep_df), "dedup_cluster_keep")


def test_plan_hygiene_leakage_safe_split(leakage_split_df):
    _assert_hygienic(_physical_plan(leakage_split_df), "leakage_safe_split")


def test_plan_hygiene_cluster_keep_best_quality(best_keeper_df):
    _assert_hygienic(_physical_plan(best_keeper_df), "cluster_keep_best_quality")


def test_plan_hygiene_embedding_keep(embedding_keep_df):
    _assert_hygienic(_physical_plan(embedding_keep_df), "embedding_dedup_keep")


def test_training_mix_weighted_plan_is_shuffle_free(spark, sf_dir):
    """SCALE.md claims the weighted mixture is one corpus scan with no
    shuffle: broadcast weight join + epoch explode + codegen hash
    filter. Pin it — the only Exchange allowed is the broadcast of the
    (≤20-row) weight table."""
    import re

    plan = _physical_plan(
        plans.all_queries()["training_mix_weighted"].fn(spark, sf_dir)
    )
    exchanges = re.findall(r"\w*Exchange\b", plan)
    assert exchanges, "expected the broadcast weight-table exchange"
    assert all(e == "BroadcastExchange" for e in exchanges), exchanges
    assert "BroadcastHashJoin" in plan


def test_grouped_topn_plans_have_no_single_partition_exchange(spark, sf_dir):
    """The two-phase grouped top-N heads exist precisely so no window
    serializes a hot stratum through one task — pin that neither plan
    contains an `Exchange SinglePartition` (the signature of a global
    window), and that both actually carry their two ranking passes."""
    for name in ("per_source_cap", "stratified_exact_sample"):
        plan = _physical_plan(plans.all_queries()[name].fn(spark, sf_dir))
        assert "SinglePartition" not in plan, f"{name}: global window exchange"
        assert plan.count("Window") >= 2, f"{name}: expected both ranking phases"


def test_cms_counter_aggregate_is_partial(spark, sf_dir):
    """SCALE.md claims the CMS shuffle is bounded by #partitions·d·w,
    which requires MAP-SIDE partial aggregation of the (i, cell)
    counters — pin that the counter aggregate runs as partial+final
    HashAggregate pairs, and that the counter lookup is a broadcast
    hash join (never a nested loop over the counter table)."""
    plan = _physical_plan(
        plans.all_queries()["gram_df_cms_estimate"].fn(spark, sf_dir)
    )
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_weight_plan_shape(spark, sf_dir):
    """The DSIR scoring plan's docstring claims: the likelihood-ratio
    model rides a broadcast hash join (feature-hash-bounded table), the
    only FULL-DATA hash exchanges are the (doc, bucket) combine and the
    doc-grain aggregate (bucket-grain exchanges are ≤ _DSIR_BUCKETS
    keys by construction), and the only single-partition exchange is
    the 1-row totals aggregate. Pin that inventory."""
    import re

    plan = _physical_plan(
        plans.all_queries()["dsir_importance_weights"].fn(spark, sf_dir)
    )
    # model join: a broadcast HASH join (formatted plans put the
    # HashedRelationBroadcastMode on the node's Arguments line)
    assert "BroadcastHashJoin" in plan and "HashedRelationBroadcastMode" in plan
    # full-data exchanges partition on doc_id; anything else hash-
    # partitioned is bucket-grain (bounded at _DSIR_BUCKETS keys).
    doc_exchanges = [
        m
        for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        if "doc_id" in m
    ]
    assert len(doc_exchanges) <= 2, doc_exchanges
    assert plan.count("SinglePartition") == 1  # the 1-row totals agg


def test_existence_join_heads_use_semi_anti_not_nested_loop(spark, sf_dir):
    """The Q21/Q22 shapes exist to pin correlated-existential
    DEcorrelation: the EXISTS / NOT EXISTS sides must land as hash or
    sort-merge LeftSemi / LeftAnti joins on the correlation key — with
    the non-equi suppkey<> residual carried as a join condition, never
    a nested-loop or cartesian fallback."""
    plan = _physical_plan(plans.all_queries()["supplier_wait_chain"].fn(spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    # the top-100 must be the two-phase TakeOrdered, not a global sort
    assert "TakeOrderedAndProject" in plan
    plan22 = _physical_plan(
        plans.all_queries()["cold_customer_balance"].fn(spark, sf_dir)
    )
    assert "LeftAnti" in plan22
    # the recency predicate reaches the orders parquet scan
    assert any(
        "PushedFilters" in ln and "o_orderdate" in ln for ln in plan22.splitlines()
    ), "recency filter not pushed to the orders scan"


def test_trade_heads_broadcast_dims_and_push_filters(spark, sf_dir):
    """Q7/Q8 shapes: every dim side must broadcast (the only
    sort-merge/shuffle join allowed is the lineitem⋈orders fact join)
    and the part-type filter must reach the part scan."""
    import re

    plan7 = _physical_plan(plans.all_queries()["nation_trade_volume"].fn(spark, sf_dir))
    assert plan7.count("BroadcastHashJoin") >= 2  # supplier-side and customer-side
    plan8 = _physical_plan(plans.all_queries()["nation_market_share"].fn(spark, sf_dir))
    assert plan8.count("BroadcastHashJoin") >= 3  # part, supplier, customer sides
    assert any(
        "PushedFilters" in ln and "p_type" in ln for ln in plan8.splitlines()
    ), "part-type filter not pushed to the part scan"
    # exactly one non-broadcast join family may appear: the fact-fact join
    smj = len(re.findall(r"SortMergeJoin|ShuffledHashJoin", plan8))
    assert smj <= 2, f"unexpected extra shuffle joins in Q8 plan: {smj}"


def test_prefix_join_candidate_generation_is_equi_join(spark, sf_dir):
    """The AllPairs prefix join must generate candidates through a
    token EQUI-join (shuffle or broadcast hash) — never a theta join —
    and the dominance/size filters ride as residual conditions."""
    plan = _physical_plan(plans.all_queries()["jaccard_prefix_join"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_new_window_heads_have_no_single_partition_exchange(spark, sf_dir):
    """The round-9 window/sequence heads all claim their windows
    partition on a real key (region / user / session grouping) — pin
    that none compiles an `Exchange SinglePartition` ahead of a window
    or aggregate (the global-sort serialization signature). The only
    allowed single-partition stage is a final TakeOrdered-style head,
    which these queries don't use."""
    for name in (
        "regional_revenue_gapfill",
        "event_transition_matrix",
        "purchase_attribution",
        "session_window_stats",
        "event_value_correlation",
    ):
        plan = _physical_plan(plans.all_queries()[name].fn(spark, sf_dir))
        assert "Exchange SinglePartition" not in plan, f"{name} serializes"


def test_decorrelation_set_plan_pins(spark, sf_dir):
    """The round-10 TPC-H decorrelation heads (Q17/Q2/Q13/Q9 shapes)
    carry the same plan discipline as orders_above_customer_avg: the
    correlated subquery lands as a grouped aggregate + equi-join (never
    a nested loop), existence pruning is a LeftSemi, the outer-count
    keeps its filter in the join condition, and selective dim filters
    reach their scans."""
    # Q17: brand semi-prune + per-part aggregate join, no nested loop
    plan17 = _physical_plan(plans.all_queries()["small_qty_part_revenue"].fn(spark, sf_dir))
    assert "LeftSemi" in plan17
    assert "BroadcastNestedLoopJoin" not in plan17 and "CartesianProduct" not in plan17
    assert any(
        "PushedFilters" in ln and "p_brand" in ln for ln in plan17.splitlines()
    ), "brand filter not pushed to the part scan"
    # Q2: region semi-prune, min-join-back, top-100 as TakeOrdered
    plan2 = _physical_plan(
        plans.all_queries()["regional_cheapest_supplier"].fn(spark, sf_dir)
    )
    assert "LeftSemi" in plan2
    assert "TakeOrderedAndProject" in plan2
    assert "CartesianProduct" not in plan2
    assert any(
        "PushedFilters" in ln and "p_type" in ln for ln in plan2.splitlines()
    ), "part-type filter not pushed to the part scan"
    # Q13: LEFT OUTER with the priority filter as a join-side predicate —
    # zero-order customers must survive to the c_count=0 bucket
    plan13 = _physical_plan(
        plans.all_queries()["customer_order_distribution"].fn(spark, sf_dir)
    )
    assert "LeftOuter" in plan13
    assert plan13.count("HashAggregate") >= 2  # customer grain + distribution
    # Q9: star join — part/supplier/nation broadcast, orders on the key
    plan9 = _physical_plan(plans.all_queries()["nation_profit_rollup"].fn(spark, sf_dir))
    assert plan9.count("BroadcastHashJoin") >= 3
    assert any(
        "PushedFilters" in ln and "p_type" in ln for ln in plan9.splitlines()
    ), "part-type filter not pushed to the part scan"


def test_scan_shape_heads_push_their_predicates(spark, sf_dir):
    """The Q4/Q6/Q19 shapes exist to pin predicate delivery: Q6 is a
    join-free single aggregate whose three predicates all reach the
    lineitem scan; Q4's correlated EXISTS lands as a LeftSemi with the
    cross-side date comparison as a residual; Q19's cross-table
    DISJUNCTION pushes each side's implied Or into its own scan."""
    plan6 = _physical_plan(plans.all_queries()["discount_band_revenue"].fn(spark, sf_dir))
    assert "Join" not in plan6, "Q6 must not join anything"
    pushed6 = [ln for ln in plan6.splitlines() if "PushedFilters" in ln]
    assert any(
        "l_shipdate" in ln and "l_discount" in ln and "l_quant" in ln for ln in pushed6
    ), "Q6 predicates not all pushed to the lineitem scan"

    plan4 = _physical_plan(
        plans.all_queries()["late_order_priority_count"].fn(spark, sf_dir)
    )
    assert "LeftSemi" in plan4
    assert "BroadcastNestedLoopJoin" not in plan4 and "CartesianProduct" not in plan4
    assert any(
        "PushedFilters" in ln and "o_orderdate" in ln for ln in plan4.splitlines()
    ), "Q4 quarter filter not pushed to the orders scan"

    plan19 = _physical_plan(
        plans.all_queries()["bracket_discount_revenue"].fn(spark, sf_dir)
    )
    pushed19 = [ln for ln in plan19.splitlines() if "PushedFilters" in ln]
    assert any("Or(" in ln and "p_brand" in ln for ln in pushed19), (
        "Q19 brand/size disjunction not pushed to the part scan"
    )
    assert any("Or(" in ln and "l_quantity" in ln for ln in pushed19), (
        "Q19 quantity disjunction not pushed to the lineitem scan"
    )
    assert "CartesianProduct" not in plan19


@contextlib.contextmanager
def _no_auto_broadcast(spark):
    """Disable the planner's size-based auto-broadcast so the test can
    tell a HINT-driven broadcast apart from a statistics-driven one."""
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_gated_broadcast_hint_follows_the_size_gate(spark, sf_dir):
    """The scale contract of ``gated_broadcast``: an
    sf-proportional dim carries a broadcast hint only while its parquet
    footprint fits the gate. With auto-broadcast disabled (so the only
    possible broadcast is the hint itself): under the default gate the
    customer join must plan as BroadcastHashJoin (the hint fired); with
    the gate forced below the table's size the hint must vanish and the
    SAME join flip to a shuffle join — proving an inflated dim degrades
    to the AQE-decidable plan instead of overriding it."""
    from gmall_flink_parent_spark.sources.tables import gated_broadcast, load_table

    with _no_auto_broadcast(spark):
        o = load_table(spark, sf_dir, "orders")
        c = gated_broadcast(spark, sf_dir, "customer")
        hinted = _physical_plan(o.join(c, o["o_custkey"] == c["c_custkey"]))
        assert "BroadcastHashJoin" in hinted, "default gate should broadcast"

        c_big = gated_broadcast(spark, sf_dir, "customer", max_bytes=0)
        flipped = _physical_plan(o.join(c_big, o["o_custkey"] == c_big["c_custkey"]))
        assert "BroadcastHashJoin" not in flipped, "tripped gate must drop the hint"
        assert ("SortMergeJoin" in flipped) or ("ShuffledHashJoin" in flipped)


def test_gated_broadcast_fails_safe_when_size_is_unmeasurable(spark, sf_dir):
    """If the backing table's parquet footprint can't be read (path
    missing — e.g. a catalog-managed table a future caller points at),
    the gate must FAIL SAFE: no hint, so the planner/AQE decides from
    its own statistics. The dangerous failure would be defaulting to
    broadcast on unknown size."""
    from gmall_flink_parent_spark.sources.tables import gated_broadcast, load_table

    with _no_auto_broadcast(spark):
        o = load_table(spark, sf_dir, "orders")
        c = load_table(spark, sf_dir, "customer")
        # customer frame is real, but the size is resolved against a
        # nonexistent directory → None → no hint
        g = gated_broadcast(spark, "/nonexistent-sf-dir", "customer", c)
        plan = _physical_plan(o.join(g, o["o_custkey"] == g["c_custkey"]))
        assert "BroadcastHashJoin" not in plan, "unmeasurable size must not hint"


def test_order_wide_sf_dims_flip_to_shuffle_when_gate_trips(spark, sf_dir, monkeypatch):
    """End-to-end form of the gate test on the flagship head: patch the
    module gate to 0 bytes (simulating dims grown past the broadcast
    budget) and re-plan ``order_wide_enriched`` with auto-broadcast off.
    customer/part/supplier must join WITHOUT broadcast (shuffle joins),
    while bounded nation/region keep their unconditional hints."""
    from gmall_flink_parent_spark.sources import tables

    monkeypatch.setattr(tables, "DIM_BROADCAST_MAX_BYTES", 0)
    with _no_auto_broadcast(spark):
        plan = _physical_plan(
            plans.all_queries()["order_wide_enriched"].fn(spark, sf_dir)
        )
    import re

    # nation + region stay broadcast; the three sf-scaled dims must not
    # (formatted explain prints each node in the tree AND the detail
    # section, so count the numbered detail nodes)
    bhj_nodes = re.findall(r"\(\d+\) BroadcastHashJoin", plan)
    assert len(bhj_nodes) == 2, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)


@pytest.mark.parametrize(
    "head",
    ["order_wide_enriched", "nation_profit_rollup", "regional_revenue_gapfill"],
)
def test_tripped_gate_shuffle_fallback_is_hash_identical(
    spark, sf_dir, head, monkeypatch
):
    """EXECUTION pin for the tripped broadcast gate:
    the flip tests above prove the PLAN changes when the gate trips;
    this proves the shuffle-fallback plan computes the SAME ROWS. Run
    each gated head twice — default gate (dims broadcast) and gate
    forced to 0 bytes (every sf-proportional dim degrades to an
    AQE-decided shuffle join) — and assert the full result multisets
    are identical, so no future plan-shape change can silently diverge
    the two paths. Join-strategy changes must never be visible in
    results; this makes that a permanent, parameterized invariant on
    the flagship plus two more gated heads."""
    from gmall_flink_parent_spark.sources import tables

    fn = plans.all_queries()[head].fn

    def rows(df):
        cols = sorted(df.columns)
        return sorted((tuple(repr(r[c]) for c in cols) for r in df.collect()))

    broadcast_rows = rows(fn(spark, sf_dir))
    monkeypatch.setattr(tables, "DIM_BROADCAST_MAX_BYTES", 0)
    shuffle_rows = rows(fn(spark, sf_dir))
    assert len(broadcast_rows) > 0
    assert broadcast_rows == shuffle_rows, (
        f"{head}: shuffle fallback diverged from the broadcast plan"
    )


def test_band_join_forms_plan_as_semi_and_anti(spark, sf_dir):
    """The semi/anti band joins must plan as true LeftSemi/LeftAnti
    joins (probe short-circuits, no detail column materialized), not
    as an inner/outer join with a post-hoc distinct or filter."""
    semi = plans.query_map()["order_detail_semi_join"](spark, sf_dir)
    anti = plans.query_map()["order_detail_anti_join"](spark, sf_dir)
    p_semi = _physical_plan(semi)
    p_anti = _physical_plan(anti)
    assert "LeftSemi" in p_semi and "Distinct" not in p_semi
    assert "LeftAnti" in p_anti
    for p in (p_semi, p_anti):
        assert "l_extendedprice" not in p.split("== Physical Plan ==")[-1].split(
            "ReadSchema"
        )[0], "detail payload columns leaked into the semi/anti plan"


def test_sql_dws_surface_shares_one_user_exchange(spark, sf_dir):
    """The SQL-only W1/W2/W3 composite's scale claim: all three windows
    ride ONE hashpartitioning(user_id) full-data exchange (the
    user-day ranking reuses it — user_id prefixes its key); the only
    other exchange is the ~days-row final aggregate. Pin both, plus
    the three window passes."""
    import re

    plan = _physical_plan(plans.all_queries()["sql_dws_surface"].fn(spark, sf_dir))
    hashes = re.findall(r"Arguments: hashpartitioning\((\w+)#", plan)
    assert hashes.count("user_id") == 1, hashes
    assert len(hashes) == 2, hashes  # user_id + the day-grain aggregate
    assert len(re.findall(r"\(\d+\) Window$", plan, re.M)) == 3


def test_sql_order_wide_surface_compiles_same_join_strategy_as_dataframe_form(
    spark, sf_dir
):
    """The SQL-only EP3 surface must compile the SAME join strategies as
    the DataFrame forms it mirrors: the band join keeps its o_orderkey
    equi component (no cartesian/BNLJ — the band rides as a post-join
    filter) and the dims broadcast under the shared size gate
    (`_gated_hint_list` re-derives `gated_broadcast`'s decision), so
    the two surfaces cannot diverge at any scale."""
    from gmall_flink_parent_spark import plans

    def strategies(name):
        df = plans.all_queries()[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
        return {
            k: plan.count(k)
            for k in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        }

    assert strategies("sql_order_wide_surface") == strategies("order_wide_enriched")
