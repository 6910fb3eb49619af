"""Structured Streaming operators registered as driver-checkable queries.

Each entry runs a true streaming pipeline (readStream file source → stateful
transformation → availableNow drain into a memory sink) and returns the
drained table.

Oracle policy: the source is the events table split into THREE
time-contiguous parquet files, drained with ``maxFilesPerTrigger=1`` so
availableNow runs >= 3 micro-batches and state genuinely accumulates
across batches. The split is by event-time range (identical ts never
straddles files) and files are processed oldest-range first, so event time
only moves forward between batches: the watermark never drops a row,
dedup duplicates (same ts) always share a batch, and interval-join
partners are never evicted early. Every INTEGER- or decimal-exact
streaming result therefore still equals its batch formulation and stays
fully oracle-checkable — including the arbitrary-state op
(`streaming_user_totals` accumulates integer cents, not floats, exactly so
this holds). pytest additionally asserts each against its batch twin and
that >= 3 micro-batches actually ran (tests/test_streaming.py).
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table
from lua_mapreduce_spark.streaming.stateful import (
    drain_stream,
    stream_countmin_stateful,
    stream_dedup_events,
    stream_hll_distinct_stateful,
    stream_kmv_distinct_stateful,
    stream_retention_stateful,
    stream_sliding_counts,
    stream_static_enrich,
    stream_stream_attribution,
    stream_user_totals_stateful,
)
from lua_mapreduce_spark.streaming.windows import read_events_stream

_N_STREAM_FILES = 3
_CACHE_ROOT = Path(__file__).resolve().parents[2] / ".cache" / "stream_batches"


def _part_mtime(i: int) -> int:
    """Distinct, strictly increasing mtimes (s) for the split's parts."""
    return 1_000_000_000 + i * 100


def _batched_events_dir(sf_dir: str) -> str:
    """Split ``events.parquet`` into _N_STREAM_FILES time-contiguous files
    under a repo-local cache dir, mtimes increasing with the time range so
    the file source (which orders by modification time) replays event time
    forward. Derived once per sf_dir; a _SUCCESS marker makes the split
    idempotent. The split is pure metadata+copy work (pyarrow filter on the
    driver) — at real scale the input would already arrive as many
    time-ordered files and this helper disappears.

    The cache tag covers the SOURCE file's identity (mtime + size), not
    just its path: a regenerated events.parquet (new round, new physical
    ts encoding — the round-3 breakage) invalidates the split instead of
    silently serving stale batches.

    A cached split whose parts lost their mtimes (a ``cp -r`` of the cache)
    gets them re-applied: the file source would otherwise replay the parts
    in copy order, not event-time order."""
    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    ident = f"{os.path.abspath(sf_dir)}|{st.st_mtime_ns}|{st.st_size}"
    tag = hashlib.sha256(ident.encode()).hexdigest()[:16]
    out = _CACHE_ROOT / tag
    marker = out / "_SUCCESS"
    parts = [out / f"part-{i}.parquet" for i in range(_N_STREAM_FILES)]
    if marker.exists():
        for i, path in enumerate(parts):
            if path.stat().st_mtime != _part_mtime(i):
                os.utime(path, (_part_mtime(i), _part_mtime(i)))
        return str(out)
    out.mkdir(parents=True, exist_ok=True)
    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ts = table.column("ts").cast("int64")
    tmin = pc.min(ts).as_py()
    tmax = pc.max(ts).as_py()
    span = max(tmax - tmin, _N_STREAM_FILES)  # degenerate single-ts guard
    for i, path in enumerate(parts):
        lo = tmin + span * i // _N_STREAM_FILES
        hi = tmin + span * (i + 1) // _N_STREAM_FILES
        mask = (
            pc.and_(pc.greater_equal(ts, lo), pc.less(ts, hi))
            if i < _N_STREAM_FILES - 1
            else pc.greater_equal(ts, lo)
        )
        part = table.filter(mask)
        # version 2.6 keeps TIMESTAMP(NANOS) physical int64, identical to
        # the source file, so the stream reader's nanosAsLong path applies.
        pq.write_table(part, path, version="2.6")
        os.utime(path, (_part_mtime(i), _part_mtime(i)))
    marker.touch()
    return str(out)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_events_stream(
        spark, _batched_events_dir(sf_dir), max_files_per_trigger=1
    )


def streaming_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary keyed state (applyInPandasWithState): running per-user
    totals after the stream drains. The update-mode memory sink appends one
    row per key per micro-batch it appeared in; the final state per user is
    the row with the highest running count (n_events is strictly increasing
    for a key within a drain), selected with one max(struct) agg."""
    sink = drain_stream(
        stream_user_totals_stateful(_events_stream(spark, sf_dir)),
        "stateful_user_totals",
        output_mode="update",
    )
    return (
        sink.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "sum_value")).alias("s"))
        .select("user_id", F.col("s.n_events").alias("n_events"),
                F.col("s.sum_value").alias("sum_value"))
    )


def streaming_dedup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming watermark-bounded exact dedup; returns surviving-row count
    per event_type (small, stable output for the driver's check)."""
    deduped = drain_stream(
        stream_dedup_events(_events_stream(spark, sf_dir)),
        "stream_dedup",
        output_mode="append",
    )
    return deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique"))


def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming agg (2h window, 1h slide) after drain."""
    return drain_stream(
        stream_sliding_counts(_events_stream(spark, sf_dir)),
        "stream_sliding",
        output_mode="complete",
    )


def streaming_static_enrich_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched with a batch-derived
    user tier, counted per (tier, event_type) after drain."""
    ev_batch = load_table(spark, sf_dir, "events")
    # Tier threshold on the EXACT decimal sum: a float SUM(double) is
    # association-order-dependent and a user near the boundary could flip
    # tiers between engines/runs.
    user_dim = ev_batch.groupBy("user_id").agg(
        F.when(
            F.expr("CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)") > 1000.0,
            "high",
        )
        .otherwise("low")
        .alias("user_tier")
    )
    enriched = drain_stream(
        stream_static_enrich(_events_stream(spark, sf_dir), user_dim),
        "stream_enrich",
        output_mode="append",
    )
    return enriched.groupBy("user_tier", "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )


def streaming_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch MERGE/upsert sink (streaming/merge_sink.py): the event
    stream maintains a versioned per-user snapshot (additive counts +
    integer cents + SCD-1 latest value), one committed parquet version per
    micro-batch. Returns the final snapshot. Fresh work dir per call so
    the drain is deterministic regardless of prior runs; exactly-once
    restart behavior is exercised in tests/test_streaming.py."""
    import shutil
    import tempfile

    from lua_mapreduce_spark.streaming.merge_sink import (
        SnapshotStore,
        run_merge_stream,
        snapshot_result,
    )

    work = tempfile.mkdtemp(prefix="merge_sink_")
    try:
        store = SnapshotStore(os.path.join(work, "snapshots"))
        run_merge_stream(
            _events_stream(spark, sf_dir),
            store,
            os.path.join(work, "ckpt"),
        )
        final = store.read_latest(spark)
        if final is None:
            raise RuntimeError("merge stream committed no snapshot versions")
        # localCheckpoint (eager) materializes the result off the tempdir's
        # parquet, so the work dir is safe to delete before returning.
        return snapshot_result(final).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def streaming_time_travel_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the MERGE sink's committed versions: drain the
    3-batch stream, then read the SECOND-latest version — the state as of
    two of three micro-batches, i.e. ``VERSION AS OF`` on a lakehouse
    table, implemented by the same commit-marker protocol.

    Fully oracle-checked: the 3-file split is a deterministic function of
    the events table (time-range thirds over the int64-nanosecond span,
    streaming_ops._batched_events_dir), so "the first two batches" equals
    ``ts_ns < tmin_ns + max(span_ns, 3) * 2 DIV 3`` — the oracle replays
    that cutoff in integer microsecond arithmetic (the data is
    microsecond-grained, so the ns comparison reduces exactly)."""
    import shutil
    import tempfile

    from lua_mapreduce_spark.streaming.merge_sink import (
        SnapshotStore,
        run_merge_stream,
        snapshot_result,
    )

    work = tempfile.mkdtemp(prefix="merge_tt_")
    try:
        store = SnapshotStore(os.path.join(work, "snapshots"))
        run_merge_stream(
            _events_stream(spark, sf_dir), store, os.path.join(work, "ckpt")
        )
        versions = store.committed_versions()
        # availableNow over _N_STREAM_FILES single-file triggers on a fresh
        # checkpoint commits EXACTLY batch ids 0.._N_STREAM_FILES-1; assert
        # that so a stray (e.g. empty) extra commit fails loudly instead of
        # silently shifting which version "two of three batches" means.
        if versions != list(range(_N_STREAM_FILES)):
            raise RuntimeError(
                f"expected committed versions {list(range(_N_STREAM_FILES))},"
                f" got {versions}"
            )
        past = store.read_version(spark, _N_STREAM_FILES - 2)
        return snapshot_result(past).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)



def streaming_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of analytics.agg_hypertable_rollup: the hourly
    continuous aggregate runs IN the stream (watermarked tumbling windows
    with DECIMAL partials, accumulated across >= 3 micro-batches); the
    daily level combines the drained hourly partials in batch — exactly
    the materialized-continuous-aggregate maintenance loop a TimescaleDB
    deployment runs. Complete-mode drain emits every hourly window, so
    the daily combine sees all partials; decimal sums keep the two-level
    result equal to the one-shot batch aggregate (shared oracle)."""
    from lua_mapreduce_spark.streaming.windows import stream_hourly_value_partials

    sink = drain_stream(
        stream_hourly_value_partials(_events_stream(spark, sf_dir)),
        "stream_hypertable",
        output_mode="complete",
    )
    return (
        sink.groupBy(
            F.date_format(F.date_trunc("day", "hour"), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.expr("CAST(SUM(sv) AS DOUBLE)").alias("sum_value"),
            F.count(F.lit(1)).alias("n_active_hours"),
            F.max("n").alias("peak_hour_events"),
        )
    )


def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (purchase <- click within 1h), counted
    per user after drain; watermarks bound the join state."""
    joined = drain_stream(
        stream_stream_attribution(_events_stream(spark, sf_dir)),
        "stream_ssjoin",
        output_mode="append",
    )
    return joined.groupBy("p_user").agg(F.count(F.lit(1)).alias("n_attributed"))


def streaming_anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_anomaly_hours: the watermarked hourly
    aggregation runs IN the stream (true cross-batch state over >= 3
    micro-batches); the trailing-24h integer z-test then runs as a batch
    window over the drained hourly table. The split is deliberate — a
    value-based RANGE window over a streaming aggregate is unbounded-state
    by construction, so the monitoring pipeline shape is stream-aggregate
    -> snapshot -> flag, exactly what this composes. Complete-mode drain:
    every window is emitted in the final micro-batch, so the flag pass
    sees all hours (append mode would hold back windows newer than the
    watermark)."""
    from lua_mapreduce_spark.operators.events import anomaly_flags
    from lua_mapreduce_spark.streaming.windows import stream_tumbling_counts

    sink = drain_stream(
        stream_tumbling_counts(_events_stream(spark, sf_dir)),
        "stream_anomaly_hourly",
        output_mode="complete",
    )
    hourly = sink.select(
        F.expr("CAST(ws_epoch DIV 3600 AS BIGINT)").alias("hr"),
        "event_type",
        "n_events",
    )
    return anomaly_flags(hourly)


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (dynamic-gap state): sessions that
    straddle the 3-file time split MERGE across micro-batches — the
    hardest streaming-state shape (windows are not fixed; the state store
    must coalesce adjacent sessions as rows arrive). Complete-mode drain
    emits the final merged sessions; oracle = the batch gap-method
    sessionization (events.SESSION_ORACLE)."""
    from lua_mapreduce_spark.streaming.windows import stream_session_windows

    return drain_stream(
        stream_session_windows(_events_stream(spark, sf_dir)),
        "stream_sessions",
        output_mode="complete",
    )


def streaming_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-user sketch maintained ACROSS micro-batches (the r11
    sketch family composed with the custom-stateful streaming surface):
    per event_type, state holds the K smallest distinct user hashes and
    every batch merges-and-truncates; after the drain the last update per
    key (max n_batches — the user_totals selection convention) carries
    the settled sketch, the estimate is derived declaratively, and the
    exact distinct count joins in for the permille-error audit. The
    oracle replays the WHOLE stream from the batch table — sound because
    the KMV merge is order-insensitive: K smallest of a union is K
    smallest of the whole multiset no matter how batches sliced it.

    Scale shape: state is K*8 bytes per key regardless of stream length
    (a distinct-count state would grow linearly); the hash is JVM-side;
    the post-drain derivation runs over |event_types| rows."""
    from lua_mapreduce_spark.streaming.stateful import _KMV_SDOM, _KMV_SK

    sink = drain_stream(
        stream_kmv_distinct_stateful(_events_stream(spark, sf_dir)),
        "stream_kmv",
        output_mode="update",
    )
    final = (
        sink.groupBy("event_type")
        .agg(F.max(F.struct("n_batches", "n_sk", "theta")).alias("s"))
        .select(
            "event_type",
            F.col("s.n_sk").alias("n_sk"),
            F.col("s.theta").alias("theta"),
        )
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    return (
        final.join(exact, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            F.expr(
                f"CASE WHEN n_sk < {_KMV_SK} THEN n_sk"
                f" ELSE ({_KMV_SK} - 1) * CAST({_KMV_SDOM} AS BIGINT)"
                " DIV theta END"
            ).alias("est_distinct"),
        )
        .select(
            "event_type",
            "exact_distinct",
            "est_distinct",
            F.expr(
                "abs(est_distinct - exact_distinct) * 1000 DIV exact_distinct"
            ).alias("err_permille"),
        )
    )


_CMS_PROBE_MOD = 5  # user_id % MOD == 0 selects the probe users


def streaming_countmin_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch maintained ACROSS micro-batches in the state
    store (the point-frequency complement of streaming_kmv_distinct's
    distinct-count sketch): per event_type the state is a fixed
    _CMS_R x _CMS_W counter array that each batch increments at
    md5-derived cells — a pure SUM structure, order-insensitive, so the
    DuckDB oracle replays every cell and every probe from the batch
    table bit-for-bit. After the drain the settled sketch per key (max
    n_batches row) answers point queries: for each deterministic probe
    (event_type, user) the estimate is the min over the _CMS_R cells,
    the exact count joins in, and the CM structural guarantee
    est >= exact rides along as an audited column.

    Scale shape: state is _CMS_R * _CMS_W * 8 bytes per key regardless
    of stream length or user cardinality; cell indices are JVM-side
    expressions; the post-drain probe pass joins the bounded
    |event_types|-row sketch relation (broadcast) to the probe
    aggregate, never shuffling the sketch."""
    from lua_mapreduce_spark.streaming.stateful import _CMS_R, _CMS_W

    sink = drain_stream(
        stream_countmin_stateful(_events_stream(spark, sf_dir)),
        "stream_cms",
        output_mode="update",
    )
    sketch = (
        sink.groupBy("event_type")
        .agg(F.max(F.struct("n_batches", "cells")).alias("s"))
        .select("event_type", F.col("s.cells").alias("cells"))
    )
    from lua_mapreduce_spark.functions.texthash import md5_bigint_expr

    exact = (
        load_table(spark, sf_dir, "events")
        .filter(F.expr(f"user_id % {_CMS_PROBE_MOD} = 0"))
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    cell_exprs = [
        "element_at(cells, CAST("
        + f"{r * _CMS_W} + "
        + md5_bigint_expr(
            f"concat('cms-{r}-', event_type, '|', CAST(user_id AS STRING))"
        )
        + f" % {_CMS_W} + 1 AS INT))"
        for r in range(_CMS_R)
    ]
    return (
        exact.join(F.broadcast(sketch), "event_type")
        .withColumn(
            "est_n",
            F.expr(
                "CAST(least(" + ", ".join(cell_exprs) + ") AS BIGINT)"
            ),
        )
        .select(
            "event_type",
            "user_id",
            "exact_n",
            "est_n",
            F.expr("est_n - exact_n").alias("overcount"),
        )
    )


def streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user registers maintained ACROSS
    micro-batches — the streaming face of agg_hll_sketch and the HLL
    counterpart of streaming_kmv_distinct (same ground truth, different
    sketch family: register maxima instead of K-minimum hashes, so the
    two streaming estimates cross-check each other). After the drain
    the settled 64-cell register array per event_type (max n_batches
    row) feeds the dyadic harmonic-mean estimator as an index-ordered
    array fold (cell 0 = empty register contributes exactly 1.0), the
    exact distinct count joins in, and the error rides along in
    permille. The oracle replays registers AND estimate from the batch
    table — sound because register max is order-insensitive under any
    batch slicing (the CM-sketch convention).

    Estimator regime: this is the RAW harmonic-mean estimator. The
    paper's small-range correction (linear counting, E <= 2.5m with
    empty registers) needs ln() — a transcendental whose last-ulp
    behavior differs across libm implementations, so it is deliberately
    omitted to keep the estimate bit-identical cross-engine (the repo's
    transcendental-free convention). Below n ~ m the raw estimate is
    known-biased (the sf0.001 fixture's 15 distinct users read ~52);
    from n >= ~2m it lands inside the 1.04/sqrt(m) band (sf0.01:
    33-113 permille), and the err_permille column makes the regime
    visible instead of hiding it.

    Scale shape: state is 64 * 8 bytes per key regardless of stream
    length or user cardinality; (register, rank) are JVM-side
    expressions on the stream; the post-drain estimate folds a 64-cell
    array over |event_types| rows."""
    from lua_mapreduce_spark.streaming.stateful import _HLL_SM

    sink = drain_stream(
        stream_hll_distinct_stateful(_events_stream(spark, sf_dir)),
        "stream_hll",
        output_mode="update",
    )
    final = (
        sink.groupBy("event_type")
        .agg(F.max(F.struct("n_batches", "cells")).alias("s"))
        .select("event_type", F.col("s.cells").alias("cells"))
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    # 0.709 = alpha_64 (Flajolet et al. 2007); every 2^-cell term is an
    # exact dyadic double and the fold is index-ordered in both engines.
    est = (
        f"CAST(floor(0.709 * {_HLL_SM} * {_HLL_SM} /"
        " aggregate(cells, CAST(0.0 AS DOUBLE), (acc, c) ->"
        " acc + 1.0 / CAST(shiftleft(CAST(1 AS BIGINT), CAST(c AS INT))"
        " AS DOUBLE))) AS BIGINT)"
    )
    return (
        final.join(exact, "event_type")
        .withColumn("est_distinct", F.expr(est))
        .select(
            "event_type",
            F.expr("CAST(exact_distinct AS BIGINT)").alias("exact_distinct"),
            "est_distinct",
            F.expr(
                "abs(est_distinct - exact_distinct) * 1000"
                " DIV exact_distinct"
            ).alias("err_permille"),
        )
    )


def _stream_hll_oracle() -> str:
    from lua_mapreduce_spark.functions.texthash import oracle_md5_bigint_expr
    from lua_mapreduce_spark.streaming.stateful import _HLL_SM, _HLL_SWBITS

    h = oracle_md5_bigint_expr(
        "concat('shll-', event_type, '|', CAST(user_id AS VARCHAR))"
    )
    est = (
        f"CAST(floor(0.709 * {_HLL_SM} * {_HLL_SM} /"
        " list_sum(list_transform(cells, c ->"
        " 1.0 / CAST((CAST(1 AS BIGINT) << CAST(c AS INT)) AS DOUBLE))))"
        " AS BIGINT)"
    )
    return f"""
WITH regged AS (
  SELECT event_type,
         CAST(({h}) // {1 << _HLL_SWBITS} AS BIGINT) AS reg,
         CAST(CASE WHEN ({h}) % {1 << _HLL_SWBITS} = 0
              THEN {_HLL_SWBITS + 1}
              ELSE {_HLL_SWBITS} - LENGTH(BIN(({h}) % {1 << _HLL_SWBITS})) + 1
              END AS BIGINT) AS rank_bits
  FROM events),
maxed AS (
  SELECT event_type, reg, CAST(MAX(rank_bits) AS BIGINT) AS rank_bits
  FROM regged GROUP BY 1, 2),
grid AS (
  SELECT et.event_type, CAST(r.reg AS BIGINT) AS reg
  FROM (SELECT DISTINCT event_type FROM events) et,
       (SELECT UNNEST(range({_HLL_SM})) AS reg) r),
folded AS (
  SELECT g.event_type,
         list(COALESCE(m.rank_bits, 0) ORDER BY g.reg) AS cells
  FROM grid g
  LEFT JOIN maxed m ON m.event_type = g.event_type AND m.reg = g.reg
  GROUP BY 1),
exact AS (
  SELECT event_type,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY 1)
SELECT f.event_type, exact_distinct, {est} AS est_distinct,
       abs(({est}) - exact_distinct) * 1000 // exact_distinct
         AS err_permille
FROM folded f JOIN exact x ON f.event_type = x.event_type
"""


def streaming_retention_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming face of events_retention_cohorts (the CUSUM-monitor
    composition convention: accumulate state IN the stream, compute the
    report over the drained snapshot, share the batch query's oracle
    VERBATIM): per-user (first_week, offset-bitmask) state — 2 int64s
    per user — accumulates across micro-batches; after the drain the
    settled state explodes its mask bits back into (cohort, offset)
    activity and the SAME triangle arithmetic as the batch query runs
    over it, so the driver proves the streamed state feeds the
    IDENTICAL retention report (a test additionally pins streaming ==
    batch row-for-row).

    Scale shape: state is 3 int64s per user (an activity LIST would
    grow with weeks); the mask explode and the triangle are bounded
    post-drain rollups; offsets beyond 62 are COUNTED into the sink's
    n_overflow column (surfaced, never silently dropped — fixtures
    span ~4 weeks so tests assert it stays 0), and the fold re-anchors
    on out-of-order Arrow chunks so state == batch MIN + bit-OR."""
    from lua_mapreduce_spark.streaming.stateful import _RET_MAX_OFF

    sink = drain_stream(
        stream_retention_stateful(_events_stream(spark, sf_dir)),
        "stream_retention",
        output_mode="update",
    )
    final = (
        sink.groupBy("user_id")
        .agg(F.max(F.struct("n_batches", "first_week", "mask")).alias("s"))
        .select(
            "user_id",
            F.col("s.first_week").alias("cohort"),
            F.col("s.mask").alias("mask"),
        )
    )
    act = final.select(
        "cohort",
        F.explode(
            F.expr(
                f"filter(sequence(0, {_RET_MAX_OFF}),"
                " i -> (mask DIV shiftleft(CAST(1 AS BIGINT), i)) % 2 = 1)"
            )
        ).alias("offset_weeks"),
    ).groupBy("cohort", "offset_weeks").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    sizes = final.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    return act.join(sizes, "cohort").select(
        F.col("cohort").alias("cohort_week"),
        F.expr("CAST(offset_weeks AS BIGINT)").alias("offset_weeks"),
        F.expr("CAST(n_cohort AS BIGINT)").alias("n_cohort"),
        F.expr("CAST(n_active AS BIGINT)").alias("n_active"),
        F.expr("n_active * 1000 DIV n_cohort").alias("retention_permille"),
    )


def streaming_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming face of events_seasonal_profile (the stream-aggregate
    -> snapshot -> report composition the CUSUM monitor established):
    the watermarked hourly aggregation runs IN the stream (true
    cross-batch state, >= 3 micro-batches, complete-mode drain), then
    the SHARED seasonal_profile_tail (analytics10) computes the
    hour-of-day profile over the drained hourly table — one tail
    implementation, so streaming and batch can never drift, and the
    oracle is the batch query's SEASONAL_ORACLE verbatim (the driver
    proves the streamed hourly state feeds the IDENTICAL profile)."""
    from lua_mapreduce_spark.operators.analytics10 import (
        seasonal_profile_tail,
    )
    from lua_mapreduce_spark.streaming.windows import stream_tumbling_counts

    sink = drain_stream(
        stream_tumbling_counts(_events_stream(spark, sf_dir)),
        "stream_seasonal_hourly",
        output_mode="complete",
    )
    hourly = sink.select(
        "event_type",
        F.expr("CAST(ws_epoch DIV 3600 AS BIGINT)").alias("hr"),
        F.col("n_events").alias("x"),
    )
    return seasonal_profile_tail(hourly)


def streaming_moments_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable moments sketch maintained ACROSS micro-batches — the
    streaming face of agg_moments_sketch (Gan et al., VLDB 2018) and
    the sum-structure sibling of streaming_countmin_totals: per
    event_type the state is the five exact integer power sums
    (n, Σv..Σv⁴) over v = floor(value) % 128, a pure SUM structure —
    order-insensitive under any batch slicing, so the DuckDB oracle
    replays the whole stream from the batch table bit-for-bit. After
    the drain the settled sums per key (max n_batches row) carry the
    batch face's derived mean/variance (same fixed-order IEEE
    expression text), and a 'merged' row composed from the PER-KEY
    sums only proves the mergeable-summary property over the streamed
    state exactly as the batch face proves it over groups.

    Scale shape: state is 5 int64 per key regardless of stream length;
    the value bucketing is a JVM-side expression on the stream; the
    post-drain merge aggregates |event_types| rows."""
    from lua_mapreduce_spark.streaming.stateful import stream_moments_stateful

    sink = drain_stream(
        stream_moments_stateful(_events_stream(spark, sf_dir)),
        "stream_moments",
        output_mode="update",
    )
    final = (
        sink.groupBy("event_type")
        .agg(F.max(F.struct("n_batches", "n", "s1", "s2", "s3", "s4")).alias("s"))
        .select(
            F.col("event_type").alias("set_name"),
            F.col("s.n").alias("n"),
            F.col("s.s1").alias("s1"),
            F.col("s.s2").alias("s2"),
            F.col("s.s3").alias("s3"),
            F.col("s.s4").alias("s4"),
        )
    )
    merged = final.agg(
        F.expr("CAST(SUM(n) AS BIGINT)").alias("n"),
        F.expr("CAST(SUM(s1) AS BIGINT)").alias("s1"),
        F.expr("CAST(SUM(s2) AS BIGINT)").alias("s2"),
        F.expr("CAST(SUM(s3) AS BIGINT)").alias("s3"),
        F.expr("CAST(SUM(s4) AS BIGINT)").alias("s4"),
    ).select(F.lit("merged").alias("set_name"), "n", "s1", "s2", "s3", "s4")
    from lua_mapreduce_spark.operators.analytics14 import _MS_DERIVED

    return final.unionByName(merged).selectExpr(
        "set_name", "n", "s1", "s2", "s3", "s4", *_MS_DERIVED
    )


def _stream_moments_oracle() -> str:
    from lua_mapreduce_spark.operators.analytics14 import _MS_DERIVED
    from lua_mapreduce_spark.streaming.stateful import _MOM_DOMAIN

    return f"""
WITH vals AS (
  SELECT event_type,
         CAST(floor(value) AS BIGINT) % {_MOM_DOMAIN} AS v
  FROM events),
grp AS (
  SELECT event_type AS set_name,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s1,
         CAST(SUM(v * v) AS BIGINT) AS s2,
         CAST(SUM(v * v * v) AS BIGINT) AS s3,
         CAST(SUM(v * v * v * v) AS BIGINT) AS s4
  FROM vals GROUP BY 1),
allrows AS (
  SELECT * FROM grp
  UNION ALL
  SELECT 'merged',
         CAST(SUM(n) AS BIGINT), CAST(SUM(s1) AS BIGINT),
         CAST(SUM(s2) AS BIGINT), CAST(SUM(s3) AS BIGINT),
         CAST(SUM(s4) AS BIGINT)
  FROM grp)
SELECT set_name, n, s1, s2, s3, s4,
       {_MS_DERIVED[0]},
       {_MS_DERIVED[1]}
FROM allrows
"""


def streaming_pareto_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming face of events_power_users_pareto (the retention-
    snapshot composition convention: accumulate state IN the stream,
    compute the report over the drained snapshot, share the batch
    query's oracle VERBATIM): per-user event counts accumulate in the
    state store across micro-batches (additive integers — order-
    insensitive, so the full-stream DuckDB replay is sound; the
    user-totals state machinery with the user cap lifted), then the
    SHARED pareto_tail computes the Lorenz decile table over the
    settled snapshot — one histogram/decile implementation, so
    streaming and batch can never drift.

    Scale shape: state is 2 int64s per user; the histogram/decile tail
    runs over the bounded distinct-count domain post-drain."""
    from lua_mapreduce_spark.operators.analytics16 import pareto_tail
    from lua_mapreduce_spark.streaming.stateful import (
        stream_user_totals_stateful,
    )

    sink = drain_stream(
        stream_user_totals_stateful(
            _events_stream(spark, sf_dir), max_users=1 << 62
        ),
        "stream_pareto",
        output_mode="update",
    )
    per_user = (
        sink.groupBy("user_id")
        .agg(F.max("n_events").alias("cnt"))  # n_events is monotone per key
    )
    return pareto_tail(per_user)


def streaming_burst_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming face of events_burst_detection_kleinberg_lite (the
    stream-aggregate -> snapshot -> report composition the CUSUM and
    seasonal monitors established): the watermarked hourly aggregation
    runs IN the stream (true cross-batch state, >= 3 micro-batches,
    complete-mode drain), then the SHARED burst_tail (analytics18)
    flags bursting hours and groups the episodes over the drained
    hourly table — one threshold/episode implementation (including the
    r15 dense-hour-grid wall-clock-trailing-day fix, applied inside
    the tail), so streaming and batch can never drift, and the oracle
    is the batch query's BURST_ORACLE verbatim."""
    from lua_mapreduce_spark.operators.analytics18 import burst_tail
    from lua_mapreduce_spark.streaming.windows import stream_tumbling_counts

    sink = drain_stream(
        stream_tumbling_counts(_events_stream(spark, sf_dir)),
        "stream_burst_hourly",
        output_mode="complete",
    )
    hourly = sink.select(
        "event_type",
        F.expr("CAST(ws_epoch DIV 3600 AS BIGINT)").alias("hr"),
        F.expr("CAST(n_events AS BIGINT)").alias("cnt"),
    )
    return burst_tail(hourly)


def streaming_cusum_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming face of events_changepoint_cusum (the r12 step
    detector): the watermarked hourly aggregation runs IN the stream
    (true cross-batch state over >= 3 micro-batches), then the n-scaled
    retrospective CUSUM argmax runs as a batch pass over the drained
    hourly table — the streaming_anomaly_hours composition shape, and
    deliberately so: the retrospective statistic needs the full-series
    totals (n, S), so the honest streaming form is stream-aggregate ->
    snapshot -> detect, with the hourly state store doing the
    cross-batch work. Complete-mode drain emits every window in the
    final micro-batch, and the oracle is the batch query's CUSUM_ORACLE
    verbatim — the driver proves the streamed hourly state feeds the
    IDENTICAL change-point."""
    from lua_mapreduce_spark.operators.analytics7 import cusum_argmax
    from lua_mapreduce_spark.streaming.windows import stream_tumbling_counts

    sink = drain_stream(
        stream_tumbling_counts(_events_stream(spark, sf_dir)),
        "stream_cusum_hourly",
        output_mode="complete",
    )
    hourly = sink.select(
        "event_type",
        F.expr("CAST(ws_epoch DIV 3600 AS BIGINT)").alias("hr"),
        F.col("n_events").alias("x"),
    )
    return cusum_argmax(hourly)


def streaming_session_depth_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming face of events_session_depth_funnel: gap
    sessionization runs IN the state store (per-user last-event-time /
    open-session depth / converted flag — stateful.
    stream_session_depth_stateful, which documents the order contract
    this fold relies on: the paged source's disjoint half-open
    event-time ranges make cross-batch fold order equal the batch
    sessionizer's (ts, event_id) sort), each micro-batch emitting the
    sessions it touched; the drained snapshot resolves each (user,
    session) to its last-emitted row with one max-by-n_batches argmax,
    and the SHARED session_depth_tail (analytics20) computes the
    depth-bucket x conversion funnel — one bucket/conversion
    implementation, so streaming and batch can never drift, and the
    oracle is the batch query's SESSION_DEPTH_ORACLE verbatim.

    Scale shape: state is 4 int64s + a counter per user; the sink
    holds one row per (user, session, batch-that-touched-it) — linear
    in sessions, not events; the argmax is one WindowGroupLimit-class
    aggregate and the tail is a <= log2(max depth) rollup."""
    from lua_mapreduce_spark.operators.analytics20 import session_depth_tail
    from lua_mapreduce_spark.streaming.stateful import (
        stream_session_depth_stateful,
    )

    sink = drain_stream(
        stream_session_depth_stateful(_events_stream(spark, sf_dir)),
        "stream_session_depth",
        output_mode="update",
    )
    final = (
        sink.groupBy("user_id", "session_seq")
        .agg(
            F.max(
                F.struct("n_batches", "n_events", "converted")
            ).alias("s")
        )
        .select(
            F.expr("CAST(s.n_events AS BIGINT)").alias("n_events"),
            F.expr("CAST(s.converted AS INT)").alias("converted"),
        )
    )
    return session_depth_tail(final)


QUERIES = {
    "streaming_user_totals": streaming_user_totals,
    "streaming_dedup_count": streaming_dedup_count,
    "streaming_sliding_counts": streaming_sliding_counts,
    "streaming_static_enrich_counts": streaming_static_enrich_counts,
    "streaming_stream_stream_join": streaming_stream_stream_join,
    "streaming_upsert_merge": streaming_upsert_merge,
    "streaming_time_travel_snapshot": streaming_time_travel_snapshot,
    "streaming_hypertable_rollup": streaming_hypertable_rollup,
    "streaming_anomaly_hours": streaming_anomaly_hours,
    "streaming_session_windows": streaming_session_windows,
    "streaming_kmv_distinct": streaming_kmv_distinct,
    "streaming_countmin_totals": streaming_countmin_totals,
    "streaming_hll_distinct": streaming_hll_distinct,
    "streaming_retention_snapshot": streaming_retention_snapshot,
    "streaming_seasonal_profile": streaming_seasonal_profile,
    "streaming_cusum_monitor": streaming_cusum_monitor,
    "streaming_moments_sketch": streaming_moments_sketch,
    "streaming_pareto_snapshot": streaming_pareto_snapshot,
    "streaming_burst_monitor": streaming_burst_monitor,
    "streaming_session_depth_snapshot": streaming_session_depth_snapshot,
}

# The stateful op sums integer cents (2-decimal grid asserted in tests);
# the oracle mirrors the cents arithmetic including the final /100.0 IEEE
# division. SUM over BIGINT is HUGEINT in DuckDB — cast back before the
# division so the dtype comparison holds too.
USER_TOTALS_ORACLE = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM events WHERE user_id < 100 GROUP BY user_id
"""

STREAM_DEDUP_ORACLE = """
SELECT event_type, COUNT(*) AS n_unique
FROM (SELECT DISTINCT user_id, event_type, ts FROM events)
GROUP BY event_type
"""

# 2-hour windows sliding 1 hour: every event belongs to exactly two
# windows; sum is decimal-exact on both sides.
STREAM_SLIDING_ORACLE = """
WITH exploded AS (
  SELECT u.ws_epoch AS ws_epoch, event_type, value
  FROM events,
       unnest([CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT),
               CAST(floor(epoch(ts) / 3600) * 3600 - 3600 AS BIGINT)]) AS u(ws_epoch)
  WHERE epoch(ts) >= u.ws_epoch AND epoch(ts) < u.ws_epoch + 7200
)
SELECT ws_epoch, event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM exploded GROUP BY 1, 2
"""

STATIC_ENRICH_ORACLE = """
WITH dim AS (
  SELECT user_id,
         CASE WHEN CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) > 1000.0
              THEN 'high' ELSE 'low' END AS user_tier
  FROM events GROUP BY user_id)
SELECT user_tier, event_type, COUNT(*) AS n_events
FROM events JOIN dim USING (user_id)
GROUP BY 1, 2
"""

STREAM_STREAM_ORACLE = """
SELECT p.user_id AS p_user, COUNT(*) AS n_attributed
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
GROUP BY 1
"""

# Merge-sink snapshot: additive agg + SCD-1 latest per user. The latest
# value resolves by (ts, event_id) — event_id is unique, so ties on ts are
# deterministic; the window formulation mirrors the struct-max exactly.
UPSERT_MERGE_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events),
latest AS (
  SELECT user_id, event_id AS last_event_id, value AS last_value
  FROM ranked WHERE rn = 1),
agg AS (
  SELECT user_id, COUNT(*) AS n_events,
         CAST(SUM(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) / 100.0
           AS sum_value
  FROM events GROUP BY user_id)
SELECT agg.user_id, agg.n_events, agg.sum_value,
       latest.last_event_id, latest.last_value
FROM agg JOIN latest USING (user_id)
"""


# Time travel = the upsert-merge contract restricted to the first two
# time-split file ranges. Cutoff arithmetic replays _batched_events_dir's
# nanosecond thirds in exact integer microseconds: ts_ns < c_ns with
# microsecond-grained data  <=>  epoch_us(ts) * 1000 < c_ns.
TIME_TRAVEL_ORACLE = """
WITH b AS (
  SELECT MIN(epoch_us(ts)) * 1000 AS tmin_ns,
         GREATEST((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) * 1000, 3) AS span_ns
  FROM events),
cut AS (SELECT tmin_ns + span_ns * 2 // 3 AS c_ns FROM b),
past AS (SELECT e.* FROM events e, cut WHERE epoch_us(ts) * 1000 < c_ns),
ranked AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM past),
latest AS (
  SELECT user_id, event_id AS last_event_id, value AS last_value
  FROM ranked WHERE rn = 1),
agg AS (
  SELECT user_id, COUNT(*) AS n_events,
         CAST(SUM(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) / 100.0
           AS sum_value
  FROM past GROUP BY user_id)
SELECT agg.user_id, agg.n_events, agg.sum_value,
       latest.last_event_id, latest.last_value
FROM agg JOIN latest USING (user_id)
"""

from lua_mapreduce_spark.operators.analytics import HYPERTABLE_ORACLE as STREAM_HYPERTABLE_ORACLE
from lua_mapreduce_spark.operators.events import ANOMALY_ORACLE as STREAM_ANOMALY_ORACLE
from lua_mapreduce_spark.operators.events import SESSION_ORACLE as STREAM_SESSION_ORACLE

from lua_mapreduce_spark.functions.texthash import oracle_md5_bigint_expr as _omd5
from lua_mapreduce_spark.streaming.stateful import _KMV_SDOM as _SDOM
from lua_mapreduce_spark.streaming.stateful import _KMV_SK as _SK

STREAM_KMV_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT event_type,
         {_omd5("concat('kmv-u-', event_type, '|', CAST(user_id AS VARCHAR))")}
           % {_SDOM} AS h
  FROM events),
sk AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM h) WHERE rn <= {_SK}),
per AS (
  SELECT event_type, COUNT(*) AS n_sk, CAST(MAX(h) AS BIGINT) AS theta
  FROM sk GROUP BY 1),
exact AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY 1),
est AS (
  SELECT event_type,
         CASE WHEN n_sk < {_SK} THEN n_sk
              ELSE ({_SK} - 1) * CAST({_SDOM} AS BIGINT) // theta END
           AS est_distinct
  FROM per)
SELECT event_type, exact_distinct, est_distinct,
       abs(est_distinct - exact_distinct) * 1000 // exact_distinct
         AS err_permille
FROM exact JOIN est USING (event_type)
"""


def _cms_oracle() -> str:
    from lua_mapreduce_spark.streaming.stateful import _CMS_R, _CMS_W

    cell_hash = _omd5(
        "concat('cms-', CAST(r AS VARCHAR), '-', event_type, '|',"
        " CAST(user_id AS VARCHAR))"
    )
    return f"""
WITH rs AS (SELECT CAST(range AS BIGINT) AS r FROM range({_CMS_R})),
cells AS (
  SELECT event_type, r, {cell_hash} % {_CMS_W} AS j, COUNT(*) AS c
  FROM events CROSS JOIN rs GROUP BY 1, 2, 3),
exact AS (
  SELECT event_type, user_id, COUNT(*) AS exact_n
  FROM events WHERE user_id % {_CMS_PROBE_MOD} = 0
  GROUP BY 1, 2),
est AS (
  SELECT e.event_type, e.user_id, CAST(MIN(c.c) AS BIGINT) AS est_n
  FROM exact e CROSS JOIN rs
  JOIN cells c ON c.event_type = e.event_type AND c.r = rs.r
    AND c.j = {_omd5("concat('cms-', CAST(rs.r AS VARCHAR), '-',"
                     " e.event_type, '|', CAST(e.user_id AS VARCHAR))")}
            % {_CMS_W}
  GROUP BY 1, 2)
SELECT event_type, user_id, exact_n, est_n, est_n - exact_n AS overcount
FROM exact JOIN est USING (event_type, user_id)
"""


STREAM_CMS_ORACLE = _cms_oracle()

from lua_mapreduce_spark.operators.analytics7 import (  # noqa: E402
    CUSUM_ORACLE as STREAM_CUSUM_ORACLE,
)
from lua_mapreduce_spark.operators.analytics16 import (  # noqa: E402
    PARETO_ORACLE as STREAM_PARETO_ORACLE,
)
from lua_mapreduce_spark.operators.analytics18 import (  # noqa: E402
    BURST_ORACLE as STREAM_BURST_ORACLE,
)
from lua_mapreduce_spark.operators.analytics20 import (  # noqa: E402
    SESSION_DEPTH_ORACLE as STREAM_SESSION_DEPTH_ORACLE,
)
from lua_mapreduce_spark.operators.analytics10 import (  # noqa: E402
    RETENTION_ORACLE as STREAM_RETENTION_ORACLE,
    SEASONAL_ORACLE as STREAM_SEASONAL_ORACLE,
)


ORACLES: dict[str, str] = {
    "streaming_kmv_distinct": STREAM_KMV_ORACLE,
    "streaming_countmin_totals": STREAM_CMS_ORACLE,
    "streaming_hll_distinct": _stream_hll_oracle(),
    # shared VERBATIM with the batch face (the CUSUM-monitor convention)
    "streaming_retention_snapshot": STREAM_RETENTION_ORACLE,
    "streaming_seasonal_profile": STREAM_SEASONAL_ORACLE,
    "streaming_moments_sketch": _stream_moments_oracle(),
    "streaming_pareto_snapshot": STREAM_PARETO_ORACLE,
    "streaming_burst_monitor": STREAM_BURST_ORACLE,
    "streaming_session_depth_snapshot": STREAM_SESSION_DEPTH_ORACLE,
    "streaming_cusum_monitor": STREAM_CUSUM_ORACLE,
    "streaming_user_totals": USER_TOTALS_ORACLE,
    "streaming_dedup_count": STREAM_DEDUP_ORACLE,
    "streaming_sliding_counts": STREAM_SLIDING_ORACLE,
    "streaming_static_enrich_counts": STATIC_ENRICH_ORACLE,
    "streaming_stream_stream_join": STREAM_STREAM_ORACLE,
    "streaming_upsert_merge": UPSERT_MERGE_ORACLE,
    "streaming_time_travel_snapshot": TIME_TRAVEL_ORACLE,
    "streaming_hypertable_rollup": STREAM_HYPERTABLE_ORACLE,
    "streaming_anomaly_hours": STREAM_ANOMALY_ORACLE,
    "streaming_session_windows": STREAM_SESSION_ORACLE,
}
