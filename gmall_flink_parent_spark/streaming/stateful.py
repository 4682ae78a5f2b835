"""Custom keyed-state streaming operators (W1/W2/W3) via
``applyInPandasWithState`` — the Spark surface for the reference's
``ValueState`` + CEP machinery.

State schemas are deliberately minimal (a date string / a pair of
timestamps per key) following the reference's own discipline
(``BaseLogTask.java:69-75`` stores one date string) — at 100 TB the
state store is the scaling constraint, so bytes-per-key is the design
budget. All operators require the stream keyed (shuffled) on the device/
user key, exactly like the reference's ``keyBy``.

Late-data contract (both directions pinned in ``tests/test_streaming.py``):
under ``NoTimeout``, ``applyInPandasWithState`` does **not** filter
sub-watermark input rows (``test_visitor_repair_stream_late_rows_repaired``)
— parity with Flink keyed ProcessFunctions, which also see late records;
under ``EventTimeTimeout``, Spark **does** drop late input rows before
the operator (``test_uv_dedup_state_ttl_evicts_idle_keys``). Every
operator here is written late-safe for its configuration: visitor
repair (NoTimeout) keys on first-seen date so late rows repair
identically to the batch analog; UV dedup (EventTimeTimeout, 1-day TTL
like the reference) never sees late rows; bounce emission is driven by
event-time timers, not row arrival order within the window.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from gmall_flink_parent_spark.operators.bounce import BOUNCE_WINDOW_US


def _repair_is_new(
    key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Label each row is_new against the key's first-visit date.

    The runtime does NOT guarantee ts-ordered Arrow chunks within one
    call: a later chunk can hold the key's EARLIEST visit, so
    first_date must be fixed over the whole group before any row is
    labeled — concatenate and sort once. Per-(key,batch) memory bound:
    this materializes the key's full micro-batch in ONE pandas frame —
    the bound is the hottest key's rows in one micro-batch, never the
    corpus; if a single key can carry millions of rows per batch, cap
    the trigger size or salt upstream. Module-level so the multi-chunk
    contract is unit-testable without a streaming harness.
    """
    (first_date,) = state.get if state.exists else (None,)
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        ymd = pdf["ts"].dt.strftime("%Y%m%d")
        if first_date is None:
            first_date = ymd.iloc[0]
        is_new = (ymd == first_date).map({True: "1", False: "0"})
        yield pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "ymd": ymd,
                "is_new": is_new,
            }
        )
    state.update((first_date,))


def visitor_repair_stream(events: DataFrame) -> DataFrame:
    """W1: repair is_new against per-key first-visit-date ValueState.

    Reference: ``BaseLogTask.java:65-99`` — state holds the first visit
    date; a claim of is_new='1' on a later date is rewritten to '0'.
    Output schema matches the batch analog (``visitor_repair``).
    """
    return (
        events.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            _repair_is_new,
            outputStructType="event_id long, user_id long, ymd string, is_new string",
            stateStructType="first_date string",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


UV_STATE_TTL_MS = 24 * 3600 * 1000  # mirrors UniqueVisitApp.java:67 (1 day)


def _keep_first_visit_per_day(
    key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Emit the key's first event of each day newer than its last
    visit date; forget that date when the TTL timeout fires.

    Chunks within one call are NOT guaranteed ts-ordered: a later chunk
    holding an earlier day would be admitted after its own day was
    already emitted — concatenate and sort the whole group before
    scanning. Memory bound = the hottest key's rows in ONE micro-batch
    (never the corpus); cap the trigger size or salt upstream if a
    single key can carry millions of rows per batch. Module-level so
    the multi-chunk contract is unit-testable without a streaming
    harness.
    """
    if state.hasTimedOut:
        state.remove()  # TTL expiry — forget the last visit date
        return  # no emission: an empty iterator is legal, and an
        # untyped empty frame (float64 columns) is an Arrow hazard
    (last_date,) = state.get if state.exists else (None,)
    last_event_ms = None
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        ymd = pdf["ts"].dt.strftime("%Y%m%d")
        keep = []
        for i, d in enumerate(ymd):
            if last_date is None or d > last_date:
                keep.append(i)
                last_date = d
        last_event_ms = int(pdf["ts"].iloc[-1].value // 1_000_000)
        out = pdf.iloc[keep]
        yield pd.DataFrame(
            {
                "user_id": out["user_id"],
                "visit_ymd": ymd.iloc[keep],
                "first_event_id": out["event_id"],
                "first_ts": out["ts"],
            }
        )
    state.update((last_date,))
    if last_event_ms is not None:
        # Clamp to the watermark: a micro-batch is NOT time-ordered
        # across files/partitions, so a key whose newest row is old
        # can compute a TTL already behind the advanced watermark —
        # PySpark rejects such a timestamp outright. wm+1 preserves
        # the semantics exactly: the expiry was already due, so it
        # fires at the first possible instant.
        state.setTimeoutTimestamp(
            max(last_event_ms + UV_STATE_TTL_MS, state.getCurrentWatermarkMs() + 1)
        )


def uv_dedup_stream(events: DataFrame) -> DataFrame:
    """W2: first event per (user, day) with last-visit-date ValueState
    and a 1-day event-time TTL.

    Reference: ``UniqueVisitApp.java:54-95`` with
    ``StateTtlConfig.newBuilder(Time.days(1))`` (``:65-68``) — the
    dedup state *expires*: a key idle for a day forgets its last visit
    date, so a record for an already-emitted day can be re-admitted
    after expiry, exactly like Flink's TTL'd ValueState. The timeout
    both reproduces that semantics and bounds the state store to active
    keys — the 100 TB concern. Keeping only the max seen date per key
    matches the reference for in-order streams. Output schema matches
    batch ``uv_dedup``.
    """
    return (
        events.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            _keep_first_visit_per_day,
            outputStructType=(
                "user_id long, visit_ymd string, first_event_id long, first_ts timestamp"
            ),
            stateStructType="last_date string",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _keep_first_fingerprint(
    key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Emit the min doc_id for an unseen fingerprint, else nothing.

    One fingerprint group can arrive split across several Arrow chunks;
    the min doc_id must be taken over ALL of them before emitting, else
    a non-minimal id from the first non-empty chunk would win
    (diverging from the batch keeper). Module-level so the multi-chunk
    contract is unit-testable without a streaming harness.
    """
    (seen,) = state.get if state.exists else (False,)
    best: int | None = None
    for pdf in pdfs:
        if seen or not len(pdf):
            continue
        chunk_min = int(pdf["doc_id"].min())
        best = chunk_min if best is None else min(best, chunk_min)
    if not seen and best is not None:
        seen = True
        yield pd.DataFrame({"fingerprint": [key[0]], "keep_doc_id": [best]})
    else:
        yield pd.DataFrame({"fingerprint": [], "keep_doc_id": []})
    state.update((seen,))


def dedup_exact_stream(docs: DataFrame) -> DataFrame:
    """Streaming twin of ``dedup_exact`` (LLM-pipeline surface): emit
    each content fingerprint's first-seen document, suppress every later
    copy via per-fingerprint ValueState.

    The stream is keyed (shuffled) on the md5 content fingerprint —
    the same partitioning the batch groupBy uses — and state is ONE
    boolean per distinct content, the minimum possible state budget
    (the 100 TB constraint; cf. the reference's one-date-string
    discipline, ``BaseLogTask.java:69-75``). Within a micro-batch the
    lowest doc_id wins (min over every Arrow chunk of the group — one
    group can span chunks), across batches the earlier batch wins
    — for a stream fed in doc_id order this reproduces the batch
    keeper exactly (pinned in ``tests/test_streaming.py``).
    """
    keyed = docs.select(
        "doc_id", F.md5(F.lower(F.trim("text"))).alias("fingerprint")
    )
    return keyed.groupBy("fingerprint").applyInPandasWithState(
        _keep_first_fingerprint,
        outputStructType="fingerprint string, keep_doc_id long",
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def bounce_detect_stream(
    events: DataFrame,
    window_us: int = BOUNCE_WINDOW_US,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """W3: CEP sequence-with-timeout — landing events with no strictly-next
    event inside the window are emitted on event-time timeout.

    Reference: ``UserJumpDetailApp.java:101-159`` — pattern
    first(landing).next(any).within(10 s); matches discarded, timeouts
    are the result (X4's side-output split collapses to "emit only the
    timeout branch"). State: the last seen event time + the pending
    landing candidate; timeout registered at candidate_ts + window via
    ``setTimeoutTimestamp``. Strict contiguity holds because *any* next
    event for the key clears or replaces the candidate.

    ``watermark_delay``: Spark's watermark is GLOBAL — max event time
    across ALL input partitions minus this delay — so "per-partition
    order suffices" is only true for a single input partition. With a
    multi-partition Kafka source, ordinary cross-partition skew puts a
    lagging partition's rows behind the watermark and they are
    silently dropped at the stateful operator. In that deployment set
    the delay to at least the maximum cross-partition event-time skew
    (at the cost of delaying timeout emissions by the same amount);
    the default 0 expresses the single-partition / globally-ordered
    log contract, which ``bounce_stats_store_job``'s replay-order
    guard turns into a loud failure instead of a silent undercount.
    """

    def detect(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            last_us, cand_id, cand_us = state.get
            out = (
                pd.DataFrame(
                    {
                        "event_id": [cand_id],
                        "user_id": [key[0]],
                        "ts": [pd.Timestamp(cand_us, unit="us")],
                    }
                )
                if cand_id is not None
                else pd.DataFrame({"event_id": [], "user_id": [], "ts": []})
            )
            state.update((last_us, None, None))
            yield out
            return

        last_us, cand_id, cand_us = state.get if state.exists else (None, None, None)
        bounces: list[tuple[int, int, int]] = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for r in pdf.itertuples(index=False):
                ev_us = r.ts.value // 1000
                if cand_id is not None:
                    if ev_us - cand_us > window_us:
                        bounces.append((cand_id, r.user_id, cand_us))
                    cand_id, cand_us = None, None
                if last_us is None or ev_us - last_us > window_us:
                    cand_id, cand_us = r.event_id, ev_us
                last_us = ev_us
        state.update((last_us, cand_id, cand_us))
        if cand_id is not None:
            # same watermark clamp as uv_dedup_stream: an already-due
            # timeout fires at the first possible instant instead of
            # failing the batch on an out-of-order arrival
            state.setTimeoutTimestamp(
                max(
                    cand_us // 1000 + window_us // 1000 + 1,
                    state.getCurrentWatermarkMs() + 1,
                )
            )
        yield pd.DataFrame(
            {
                "event_id": [b[0] for b in bounces],
                "user_id": [b[1] for b in bounces],
                "ts": [pd.Timestamp(b[2], unit="us") for b in bounces],
            }
        )

    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            detect,
            outputStructType="event_id long, user_id long, ts timestamp",
            stateStructType="last_us long, cand_id long, cand_us long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


_FUNNEL_HORIZON_US = 72 * 3600 * 1_000_000


def funnel_stream(
    events: DataFrame, horizon_us: int = _FUNNEL_HORIZON_US
) -> DataFrame:
    """Streaming twin of batch ``funnel_conversion``: the k-step
    POSITIVE sequence CEP (the bounce detector is the 2-step negative
    form) as a per-user state machine — state is (steps completed,
    anchor time of the last completed step); a ``view`` opens the
    funnel once, each later step advances it only when its event falls
    inside ``(anchor, anchor + horizon]``, and a step-k completion
    emits one (user_id, step, ts) row the moment it happens, giving
    the LIVE funnel the batch head reports after the fact.

    Batch parity is exact because the batch semantics are themselves
    first-completion semantics: t1 = first view, t2 = first qualifying
    click after t1, t3 likewise — the state machine takes the same
    firsts in event-time order (per-batch sort; cross-batch order
    rides the same monotonic-per-key assumption as the bounce twin,
    W4's monotonous-watermark model). The funnel never resets — a
    click at t1 + horizon + 1 does not re-anchor — matching the batch
    min-over-window exactly. NoTimeout: nothing is emitted on expiry,
    an expired funnel simply never advances.
    """
    steps = ("view", "click", "purchase")

    def advance(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        step, anchor_us = state.get if state.exists else (0, None)
        out: list[tuple[int, int, int]] = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for r in pdf.itertuples(index=False):
                if step >= len(steps):
                    break
                ev_us = r.ts.value // 1000
                if step == 0:
                    if r.event_type == steps[0]:
                        step, anchor_us = 1, ev_us
                        out.append((r.user_id, 1, ev_us))
                elif r.event_type == steps[step] and anchor_us is not None and (
                    anchor_us < ev_us <= anchor_us + horizon_us
                ):
                    step, anchor_us = step + 1, ev_us
                    out.append((r.user_id, step, ev_us))
        state.update((step, anchor_us))
        yield pd.DataFrame(
            {
                "user_id": [o[0] for o in out],
                "step": [o[1] for o in out],
                "ts": [pd.Timestamp(o[2], unit="us") for o in out],
            }
        )

    return (
        events.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            advance,
            outputStructType="user_id long, step integer, ts timestamp",
            stateStructType="step integer, anchor_us long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
