"""Custom stateful streaming operators (SURVEY.md §2.4 streaming row).

The reference never implemented its streaming aspiration
(example/word-count-taskfile.lua:81); this module supplies the pieces a
real event pipeline needs beyond windowed aggs:

* `stream_user_totals_stateful` — arbitrary per-key state via
  `applyInPandasWithState`: running (count, sum) per user, updated per
  micro-batch. The state store is per-key and partitioned by the grouping
  key, so state scales horizontally with executors; Arrow batches keep the
  Python crossing amortized.
* `stream_dedup_events` — streaming exact dedup via
  `dropDuplicatesWithinWatermark`: state holds only keys younger than the
  watermark, so memory is bounded by (event rate x watermark), not by
  stream length — the 100 TB/day answer to exact dedup.
* `stream_sliding_counts` — sliding-window twin of
  operators.events.events_sliding_windows.
"""

from __future__ import annotations

import contextlib
import itertools
from typing import Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from lua_mapreduce_spark.functions.exact import dec

_SINK_IDS = itertools.count()


def stream_sliding_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of operators.events.events_sliding_windows: 2-hour
    windows sliding by 1 hour."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(f"CAST(SUM({dec('value')}) AS DOUBLE)").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("ws_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_user_totals_stateful(events: DataFrame, max_users: int = 100) -> DataFrame:
    """Running per-user (n_events, sum_value) via arbitrary keyed state.

    This is the faithful streaming analogue of the reference's reducefn
    slot (holistic per-key aggregation, lua-mapreduce-client.lua:188-213):
    user code sees the key plus its accumulated values and owns the output.
    Here state lives in Spark's per-key state store instead of coordinator
    RAM (lua-mapreduce-server.lua:31-34) — the scalability fix.
    """

    def update(
        key: Tuple[int],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        # State accumulates integer CENTS, not floats: the input grid is
        # 2-decimal (asserted in tests), so integer accumulation is exact
        # and association-order-free — a float running sum would depend on
        # pandas' pairwise summation order and break value-level parity.
        n, total_cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total_cents += int(pdf["value"].mul(100.0).round().sum())
        state.update((n, total_cents))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "sum_value": [total_cents / 100.0],
            }
        )

    return (
        events.filter(F.col("user_id") < max_users)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, sum_value double",
            stateStructType="n long, total_cents long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_dedup_events(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on (user_id, event_type, ts): keeps the first
    arrival, drops replays within the watermark horizon. State is bounded:
    keys older than the watermark are evicted."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "ts"]
    )


def stream_static_enrich(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with a static (batch)
    per-user dimension. The static side is re-planned per micro-batch (so a
    dim refresh is picked up); a per-user dim grows with the user base, so
    the join strategy is left to the planner rather than a forced broadcast
    — no stream-side state either way, unlike stream-stream joins."""
    return (
        events.join(user_dim, "user_id")
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            "user_tier",
        )
    )


def stream_stream_attribution(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: purchases matched to the same user's
    clicks within the preceding hour. Both sides watermarked; the time-bound
    join condition lets Spark evict state older than (watermark + interval)
    — without the bound, stream-stream join state grows forever."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("p_user", "purchase_id", "purchase_ts", "click_id", "click_ts")


_KMV_SK = 128  # streaming sketch size (matches agg_kmv_theta_sketch's k)
_KMV_SDOM = 1 << 40  # hash domain (texthash md5-60 folded to 40 bits)


def stream_kmv_distinct_stateful(events: DataFrame) -> DataFrame:
    """Per-event-type KMV distinct-user sketch maintained in the state
    store across micro-batches: state = the K smallest DISTINCT user
    hashes seen so far, merged per batch by "union then truncate to K" —
    the standard KMV merge, which is EXACTLY the K smallest over the
    whole stream (anything truncated is larger than every kept value, so
    it can never re-enter). State is bounded at K hashes per key no
    matter how many users stream past — the fixed-size-sketch property
    living in the state store, where an exact distinct-count state would
    grow linearly. The user hash is computed DECLARATIVELY on the stream
    (JVM-side md5, the texthash convention) before the stateful op, so
    the Python worker only merges integers and the oracle replays the
    same arithmetic.

    Emits (event_type, n_batches, n_sk, theta) per key per batch in
    update mode; the final sketch per key is the row with the highest
    n_batches (the user_totals max-struct selection convention)."""
    from lua_mapreduce_spark.functions.texthash import md5_bigint_expr

    # The hash keys (event_type, user) — not user alone: the generator
    # gives every type the same user set, and a user-only hash would make
    # all five sketches identical. Typed hashing gives each key its own
    # sample of the hash space, so the gate checks five independent
    # estimator paths.
    h = md5_bigint_expr(
        "concat('kmv-u-', event_type, '|', CAST(user_id AS STRING))"
    )
    hashed = events.select(
        "event_type", F.expr(f"{h} % {_KMV_SDOM}").alias("h")
    )

    def update(
        key: Tuple[str],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (event_type,) = key
        if state.exists:
            hashes, n_batches = state.get
            seen = set(int(x) for x in hashes)
        else:
            seen, n_batches = set(), 0
        for pdf in pdfs:
            seen.update(int(x) for x in pdf["h"])
        kept = sorted(seen)[:_KMV_SK]
        n_batches += 1
        state.update((kept, n_batches))
        yield pd.DataFrame(
            {
                "event_type": [event_type],
                "n_batches": [n_batches],
                "n_sk": [len(kept)],
                "theta": [kept[-1] if kept else 0],
            }
        )

    return hashed.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType="event_type string, n_batches long, n_sk long,"
        " theta long",
        stateStructType="hashes array<bigint>, n_batches long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_CMS_W = 256  # Count-Min width (cells per hash row)
_CMS_R = 4  # Count-Min depth (hash rows)


def stream_countmin_stateful(events: DataFrame) -> DataFrame:
    """Per-event-type Count-Min sketch maintained in the state store
    across micro-batches: state = the flattened _CMS_R x _CMS_W counter
    array, each batch ADDING its rows' md5-derived cell increments. The
    CM sketch is a pure sum structure, so unlike Misra-Gries/SpaceSaving
    it is ORDER-INSENSITIVE — cell values after any batch slicing equal
    the batch-table sums, which is what lets the DuckDB oracle replay
    the stream bit-for-bit (the KMV convention; an arrival-order-
    dependent summary could never carry a full value oracle). State is
    _CMS_R * _CMS_W * 8 bytes per key REGARDLESS of stream length or
    user cardinality, where an exact per-user count state grows with
    users. Cell indices are computed DECLARATIVELY on the stream
    (JVM-side md5) before the stateful op; the Python worker only adds
    integers (one vectorized np.add.at per hash row per batch).

    Emits (event_type, n_batches, cells) per key per batch in update
    mode; the final sketch per key is the row with the highest n_batches
    (the user_totals max-struct selection convention)."""
    import numpy as np

    from lua_mapreduce_spark.functions.texthash import md5_bigint_expr

    idx_cols = [
        F.expr(
            md5_bigint_expr(
                f"concat('cms-{r}-', event_type, '|',"
                " CAST(user_id AS STRING))"
            )
            + f" % {_CMS_W}"
        ).alias(f"i{r}")
        for r in range(_CMS_R)
    ]
    hashed = events.select("event_type", *idx_cols)

    def update(
        key: Tuple[str],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (event_type,) = key
        if state.exists:
            cells_list, n_batches = state.get
            cells = np.asarray(cells_list, dtype=np.int64)
        else:
            cells = np.zeros(_CMS_R * _CMS_W, dtype=np.int64)
            n_batches = 0
        for pdf in pdfs:
            for r in range(_CMS_R):
                np.add.at(
                    cells,
                    r * _CMS_W + pdf[f"i{r}"].to_numpy(dtype=np.int64),
                    1,
                )
        n_batches += 1
        state.update(([int(x) for x in cells], n_batches))
        yield pd.DataFrame(
            {
                "event_type": [event_type],
                "n_batches": [n_batches],
                "cells": [[int(x) for x in cells]],
            }
        )

    return hashed.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType="event_type string, n_batches long,"
        " cells array<bigint>",
        stateStructType="cells array<bigint>, n_batches long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# Streaming HLL register geometry — MUST equal analytics9's batch-face
# constants (_HLL_M / _HLL_WBITS; pinned by tests/test_round13.py rather
# than imported, to keep this subpackage import-cycle-free with the
# operators package).
_HLL_SM = 64  # registers (2^6)
_HLL_SWBITS = 54  # rank bits below the 6 register-index bits (md5-60)


def stream_hll_distinct_stateful(events: DataFrame) -> DataFrame:
    """Per-event-type HyperLogLog registers maintained in the state
    store across micro-batches — the HLL face of the streaming sketch
    pair (stream_kmv_distinct_stateful counts distincts by K-minimum
    hashes; this one by register maxima): state = the 64-cell register
    array, each batch taking the element-wise MAX with its rows'
    md5-derived (register, rank) pairs. Register max is a pure MAX
    structure — order-insensitive like the CM sketch's sums — so the
    DuckDB oracle replays the whole stream from the batch table
    bit-for-bit, and state is a fixed 64 * 8 bytes per key regardless
    of stream length or user cardinality. (register, rank) are computed
    DECLARATIVELY on the stream (JVM-side md5, the LENGTH(BIN(w))
    bit-length idiom); the Python worker only takes vectorized maxima
    (one np.maximum.at per batch).

    Emits (event_type, n_batches, cells) per key per batch in update
    mode; the final sketch per key is the row with the highest
    n_batches (the user_totals max-struct selection convention)."""
    import numpy as np

    from lua_mapreduce_spark.functions.texthash import md5_bigint_expr

    h = md5_bigint_expr(
        "concat('shll-', event_type, '|', CAST(user_id AS STRING))"
    )
    hashed = events.selectExpr(
        "event_type",
        f"CAST(({h}) DIV {1 << _HLL_SWBITS} AS BIGINT) AS reg",
        f"CAST(CASE WHEN ({h}) % {1 << _HLL_SWBITS} = 0"
        f" THEN {_HLL_SWBITS + 1}"
        f" ELSE {_HLL_SWBITS} - LENGTH(BIN(({h}) % {1 << _HLL_SWBITS})) + 1"
        f" END AS BIGINT) AS rank_bits",
    )

    def update(
        key: Tuple[str],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (event_type,) = key
        if state.exists:
            cells_list, n_batches = state.get
            cells = np.asarray(cells_list, dtype=np.int64)
        else:
            cells = np.zeros(_HLL_SM, dtype=np.int64)
            n_batches = 0
        for pdf in pdfs:
            np.maximum.at(
                cells,
                pdf["reg"].to_numpy(dtype=np.int64),
                pdf["rank_bits"].to_numpy(dtype=np.int64),
            )
        n_batches += 1
        state.update(([int(x) for x in cells], n_batches))
        yield pd.DataFrame(
            {
                "event_type": [event_type],
                "n_batches": [n_batches],
                "cells": [[int(x) for x in cells]],
            }
        )

    return hashed.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType="event_type string, n_batches long,"
        " cells array<bigint>",
        stateStructType="cells array<bigint>, n_batches long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_MOM_DOMAIN = 128  # moments value domain: floor(value) bucketed to 7
#                    bits (the CM fixed-domain discipline) so the 4th
#                    power sum stays int64-safe: 128^4 * n <= 2.7e8 * n
#                    — safe to ~3.4e10 rows per event type.


def stream_moments_stateful(events: DataFrame) -> DataFrame:
    """Per-event-type mergeable moments sketch maintained across
    micro-batches (Gan et al., VLDB 2018 — the streaming face of
    agg_moments_sketch): state = the five exact integer power sums
    (n, Σv..Σv⁴) over v = floor(value) % _MOM_DOMAIN. Power sums are
    pure SUM structures — order-insensitive under any batch slicing —
    so the DuckDB oracle replays the full stream from the batch table
    bit-for-bit (the Count-Min convention). State is 5 int64 per key
    regardless of stream length.

    Emits (event_type, n_batches, n, s1..s4) per key per batch in
    update mode; final sketch per key = the max-n_batches row."""
    import numpy as np

    vals = events.selectExpr(
        "event_type",
        f"CAST(floor(value) AS BIGINT) % {_MOM_DOMAIN} AS v",
    )

    def update(
        key: Tuple[str],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (event_type,) = key
        if state.exists:
            n, s1, s2, s3, s4, n_batches = state.get
        else:
            n, s1, s2, s3, s4, n_batches = 0, 0, 0, 0, 0, 0
        for pdf in pdfs:
            v = pdf["v"].to_numpy(dtype=np.int64)
            n += len(v)
            s1 += int(v.sum())
            s2 += int((v * v).sum())
            s3 += int((v * v * v).sum())
            s4 += int((v * v * v * v).sum())
        n_batches += 1
        state.update((n, s1, s2, s3, s4, n_batches))
        yield pd.DataFrame(
            {
                "event_type": [event_type],
                "n_batches": [n_batches],
                "n": [n],
                "s1": [s1],
                "s2": [s2],
                "s3": [s3],
                "s4": [s4],
            }
        )

    return vals.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType="event_type string, n_batches long, n bigint,"
        " s1 bigint, s2 bigint, s3 bigint, s4 bigint",
        stateStructType="n bigint, s1 bigint, s2 bigint, s3 bigint,"
        " s4 bigint, n_batches long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_RET_WEEK = 604800  # epoch-week bucket — MUST equal analytics10._RC_WEEK
#                     (pinned by tests/test_round13.py, the _HLL_SM rule)
_RET_MAX_OFF = 62  # offsets live in one int64 bitmask; the fixtures span
#                    ~4 weeks — beyond 62 the state moves to a mask array
_RET_FULL_MASK = (1 << (_RET_MAX_OFF + 1)) - 1  # bits 0..62 (sign bit free)


def _ret_update_weeks(
    first: int, mask: int, n_over: int, wk_set
) -> Tuple[int, int, int]:
    """Fold one micro-batch's DISTINCT week set into (first, mask,
    n_over) retention state. Chunk-order-proof: if the batch holds a
    week EARLIER than the current anchor (applyInPandasWithState gives
    no intra-batch Arrow-chunk ordering guarantee, so the first chunk
    seen is not necessarily the earliest), the anchor is RE-SET and the
    existing offset bits shift left by the delta instead of the early
    week being dropped. Offsets pushed (or landing) beyond
    _RET_MAX_OFF are counted into ``n_over`` — surfaced on the emitted
    row so a >62-week stream under-reports LOUDLY, never silently.

    ``n_over`` is a per-batch-OCCURRENCE diagnostic, NOT a distinct
    overflowed-week count: a beyond-mask week recurring in k
    micro-batches contributes k (``wk_set`` dedups only within one
    batch), and a re-anchor shift recounts the weeks it pushes out.
    The invariant that holds regardless of batch slicing is
    ``n_over == 0  <=>  no week ever fell beyond the mask`` — the
    supported <=63-week regime, pinned to 0 by the fixture tests. An
    exact distinct count would itself be a distinct-count problem
    (unbounded state or a sketch per user); any positive value already
    carries the only actionable signal (the triangle under-reports;
    move to a wider-mask variant), so the extra state is not paid."""
    if not wk_set:
        return first, mask, n_over
    lo = min(wk_set)
    if first < 0:
        first = lo
    elif lo < first:
        shifted = mask << (first - lo)
        n_over += bin(shifted >> (_RET_MAX_OFF + 1)).count("1")
        mask = shifted & _RET_FULL_MASK
        first = lo
    for wk in wk_set:
        off = wk - first
        if off <= _RET_MAX_OFF:
            mask |= 1 << off
        else:
            n_over += 1
    return first, mask, n_over


def stream_retention_stateful(events: DataFrame) -> DataFrame:
    """Per-user cohort/activity state for the retention triangle: state
    = (first_week, offset bitmask, overflow count) — 3 int64s per user
    regardless of stream length. The batch-wide DISTINCT week set is
    collected across ALL Arrow chunks before anchoring (chunks within a
    micro-batch carry no ordering guarantee), and `_ret_update_weeks`
    re-anchors the mask when an earlier week arrives after the anchor
    was set — so the folded state equals the batch MIN + bit-OR no
    matter how the engine chunks a key's rows, which is what lets the
    DuckDB RETENTION_ORACLE replay the drained state from the batch
    table. Offsets beyond _RET_MAX_OFF are COUNTED into n_overflow on
    the emitted row (never silently dropped), so a stream spanning >62
    weeks is diagnosable from the sink. n_overflow is a per-batch-
    occurrence diagnostic (0 iff no overflow ever occurred — the
    test-pinned supported regime), not a stable distinct-week count:
    see `_ret_update_weeks` for the exact semantics and why a distinct
    count is deliberately not paid.

    Emits (user_id, first_week, mask, n_overflow, n_batches) per key
    per batch in update mode; final state per user = the max-n_batches
    row."""
    import numpy as np

    weeks = events.selectExpr(
        "user_id",
        f"CAST(unix_timestamp(ts) DIV {_RET_WEEK} AS BIGINT) AS wk",
    )

    def update(
        key: Tuple[int],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            first, mask, n_over, n_batches = state.get
        else:
            first, mask, n_over, n_batches = -1, 0, 0, 0
        wk_set = set()  # distinct weeks this batch — bounded by the
        #                 week domain, NOT the event count
        for pdf in pdfs:
            wks = pdf["wk"].to_numpy(dtype=np.int64)
            if len(wks):
                wk_set.update(int(w) for w in np.unique(wks))
        first, mask, n_over = _ret_update_weeks(first, mask, n_over, wk_set)
        n_batches += 1
        state.update((int(first), int(mask), int(n_over), n_batches))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "first_week": [int(first)],
                "mask": [int(mask)],
                "n_overflow": [int(n_over)],
                "n_batches": [n_batches],
            }
        )

    return weeks.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, first_week bigint, mask bigint,"
        " n_overflow bigint, n_batches long",
        stateStructType="first_week bigint, mask bigint, n_overflow bigint,"
        " n_batches long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_SD_GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap in µs —
#   MUST equal analytics20._SDF_GAP_MIN (pinned by tests/test_round15.py).
#   Spark timestamps are µs-precision, so the integer-µs comparison is
#   bit-identical to the batch query's INTERVAL predicate.


def _sd_fold(
    last_us: int, seq: int, n_ev: int, conv: int, events
) -> Tuple[int, int, int, int, dict]:
    """Fold one micro-batch's already-(ts, event_id)-sorted events
    into (last event µs, session seq, open-session depth, open-session
    converted) state; returns the new state plus {seq: (n_events,
    converted)} for every session touched. Pure function so the
    page-split invariance property is testable without Spark: folding
    ANY time-ordered partition of an event sequence yields the same
    final per-session table as one pass (tests/test_round15.py).

    ENFORCES the order contract (r16): an event earlier than the state's
    last seen time means the source violated the disjoint oldest-first
    event-time paging guarantee this fold's soundness rests on — raise
    loudly instead of silently mis-sessionizing (a too-early event would
    otherwise fold into the CURRENT session with a huge negative gap,
    merging sessions the batch query keeps separate). One int compare
    per event; never fires under the contract."""
    touched: dict = {}
    for t, is_p in events:
        if t < last_us:
            raise ValueError(
                f"_sd_fold: out-of-order event (ts_us {t} < state last_us"
                f" {last_us}) — the session fold requires the source's"
                " disjoint oldest-first event-time paging contract (see"
                " stream_session_depth_stateful); wire a watermarked"
                " reorder in front of sources without it"
            )
        if last_us < 0 or t - last_us >= _SD_GAP_US:
            seq += 1
            n_ev = 0
            conv = 0
        n_ev += 1
        if is_p:
            conv = 1
        last_us = t
        touched[seq] = (n_ev, conv)
    return last_us, seq, n_ev, conv, touched


def stream_session_depth_stateful(events: DataFrame) -> DataFrame:
    """Per-user gap sessionization in the state store: state =
    (last event time, current session seq, its depth, its converted
    flag) — 4 int64s + a counter per user regardless of stream length.
    Each micro-batch folds the user's new events in (ts, event_id)
    order, opening a new session when the gap to the previous event is
    >= 30 minutes (the batch sessionizer's exact predicate, compared in
    integer microseconds), and emits one row per session TOUCHED this
    batch; a session's last-emitted row is its final value, so the
    drained snapshot resolves per (user, session) with one
    max-by-n_batches argmax (n_events is also monotone within a
    session's life — either key works).

    ORDER CONTRACT (unlike the retention/pareto folds, which are
    order-insensitive set-union/sum states): gap sessionization is
    order-SENSITIVE, and this fold is sound because the paged events
    source splits the stream into DISJOINT HALF-OPEN event-time ranges
    processed oldest-first (streaming_ops._batched_events_dir) — every
    event in batch k+1 is strictly later than every event in batch k,
    and equal-ts events always share a batch, so the cross-batch fold
    order equals the batch query's (ts, event_id) sort. A source
    without that guarantee needs watermarked reordering first — and
    since r16 the fold ENFORCES the contract (any event earlier than
    the state's last seen time raises instead of silently merging
    sessions; see _sd_fold); the
    docstring contract is test-pinned by the row-for-row equality with
    the batch sessionizer.

    Event times cross into Python as integer epoch-MICROSECONDS
    computed JVM-side (the retention fold's convention) — Spark
    timestamps are µs-precision, so the integer gap comparison is
    bit-identical to the batch INTERVAL predicate and Python never
    touches datetime/timezone handling."""
    import numpy as np

    cols = events.select(
        "user_id",
        F.expr("CAST(unix_micros(ts) AS BIGINT)").alias("ts_us"),
        "event_id",
        "event_type",
    )

    def update(
        key: Tuple[int],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            last_us, seq, n_ev, conv, n_batches = state.get
        else:
            last_us, seq, n_ev, conv, n_batches = -1, 0, 0, 0, 0
        parts = [pdf for pdf in pdfs if len(pdf)]
        touched: dict[int, Tuple[int, int]] = {}
        if parts:
            pdf = (
                pd.concat(parts, ignore_index=True)
                if len(parts) > 1
                else parts[0]
            )
            ts_us = pdf["ts_us"].to_numpy(dtype=np.int64)
            eid = pdf["event_id"].to_numpy(dtype=np.int64)
            is_p = (pdf["event_type"] == "purchase").to_numpy()
            order = np.lexsort((eid, ts_us))
            last_us, seq, n_ev, conv, touched = _sd_fold(
                last_us,
                seq,
                n_ev,
                conv,
                ((int(ts_us[i]), bool(is_p[i])) for i in order),
            )
        n_batches += 1
        state.update(
            (int(last_us), int(seq), int(n_ev), int(conv), n_batches)
        )
        if touched:
            seqs = sorted(touched)
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(seqs),
                    "session_seq": seqs,
                    "n_events": [touched[s][0] for s in seqs],
                    "converted": [touched[s][1] for s in seqs],
                    "n_batches": [n_batches] * len(seqs),
                }
            )

    return cols.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, session_seq bigint,"
        " n_events bigint, converted int, n_batches long",
        stateStructType="last_us bigint, session_seq bigint,"
        " n_events bigint, converted int, n_batches long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# Batches executed by the most recent drain_stream call (entries with input
# rows only). Tests read this to prove multi-micro-batch execution.
LAST_DRAIN_NUM_BATCHES = 0


def _source_bytes(stream_df: DataFrame) -> int | None:
    """Bytes under the paths of ``stream_df``'s file-stream sources; None
    when a stream source is not a file source (rate, socket, Kafka)."""
    spark = stream_df.sparkSession
    hadoop_conf = spark.sparkContext._jsc.hadoopConfiguration()
    leaves = stream_df._jdf.logicalPlan().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if not leaf.isStreaming():
            continue  # the batch side of a stream-static join
        if leaf.getClass().getSimpleName() != "StreamingRelation":
            return None
        path = leaf.dataSource().options().get("path")
        if path.isEmpty():
            return None
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path.get())
        fs = jpath.getFileSystem(hadoop_conf)
        total += fs.getContentSummary(jpath).getLength()
    return total


def _has_python_state(plan) -> bool:
    """Whether the logical ``plan`` runs a Python state function
    (applyInPandasWithState)."""
    if plan.getClass().getSimpleName() == "FlatMapGroupsInPandasWithState":
        return True
    children = plan.children()
    return any(_has_python_state(children.apply(i)) for i in range(children.size()))


@contextlib.contextmanager
def sized_state_partitions(stream_df: DataFrame) -> Iterator[None]:
    """Run the enclosed query start with ``spark.sql.shuffle.partitions``
    sized by drain_stream's rule; the session value is restored on exit."""
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    n_bytes = _source_bytes(stream_df)
    try:
        if n_bytes is not None:
            target = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
            )
            n = max(1, -(-n_bytes // target))
            if _has_python_state(stream_df._jdf.logicalPlan()):
                n = max(n, spark.sparkContext.defaultParallelism)
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def drain_stream(
    stream_df: DataFrame,
    prefix: str,
    output_mode: str,
    timeout_sec: int = 120,
) -> DataFrame:
    """Drain with availableNow into a uniquely-named memory sink and return
    the sink table. Unique names keep repeated calls (tests, bench, the
    driver's per-query loop) from colliding.

    State partitions: a stateful operator runs one state-store instance per
    shuffle partition, and each pays a per-batch snapshot/commit cost however
    little state it holds. The drain runs with
    ``max(1, ceil(stream source bytes / spark.sql.adaptive.advisoryPartitionSizeInBytes))``
    shuffle partitions, the target AQE uses for batch shuffles, and restores
    the session value afterwards. The bytes are summed over the plan's
    file-stream sources, so a stream-stream self-join counts its source
    twice; a stream without a file source keeps the session value. A plan
    with a Python state function (applyInPandasWithState) runs at least
    ``defaultParallelism`` partitions: that operator is bound by Python CPU
    per key, not by bytes, and one partition would run every key's state
    function in one worker. Results do not depend on the count: the
    aggregations are integer- or decimal-exact."""
    global LAST_DRAIN_NUM_BATCHES
    name = f"{prefix}_{next(_SINK_IDS)}"
    with sized_state_partitions(stream_df):
        query = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        if not query.awaitTermination(timeout_sec):
            # Timed out: the query is still running and the sink is partial —
            # returning it would silently present truncated results as final.
            query.stop()
            raise TimeoutError(f"stream {name} did not drain within {timeout_sec}s")
    LAST_DRAIN_NUM_BATCHES = sum(
        1 for p in query.recentProgress if p.numInputRows > 0
    )
    return stream_df.sparkSession.table(name)
