"""Structured Streaming twins must agree with their batch oracles once the
stream drains (availableNow)."""

from __future__ import annotations

import shutil
import threading

import pytest
from pyspark.sql.streaming import StreamingQueryListener

from lua_mapreduce_spark.operators.events import (
    events_session_windows,
    events_tumbling_hourly,
)
from lua_mapreduce_spark.streaming import (
    drain_stream,
    read_events_stream,
    stream_session_windows,
    stream_tumbling_counts,
)
from tests.conftest import SF_MEDIUM, SF_SMALL


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_SMALL}/events.parquet", d / "events.parquet")
    return str(d)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_stream_tumbling_matches_batch(spark, events_dir):
    stream = stream_tumbling_counts(read_events_stream(spark, events_dir))
    result = drain_stream(stream, "t_tumbling", "complete")
    batch = events_tumbling_hourly(spark, SF_SMALL)
    cols = ["ws_epoch", "event_type", "n_events", "sum_value"]
    assert _rows(result, cols) == _rows(batch, cols)


def test_stream_sessions_match_batch(spark, events_dir):
    stream = stream_session_windows(read_events_stream(spark, events_dir))
    result = drain_stream(stream, "t_sessions", "complete")
    batch = events_session_windows(spark, SF_SMALL)
    cols = ["user_id", "session_start", "n_events", "sum_value"]
    assert _rows(result, cols) == _rows(batch, cols)


def test_registry_streams_run_multiple_microbatches(spark):
    """The registered streaming queries must exercise REAL cross-batch
    state: the time-split source with maxFilesPerTrigger=1 has to produce
    >= 3 micro-batches under availableNow, and the stateful per-user
    totals must still equal the batch oracle after accumulating across
    those batches (a single-batch drain would make batch-equality
    trivially true)."""
    from lua_mapreduce_spark.operators import streaming_ops as so
    from lua_mapreduce_spark.streaming import stateful
    from tests.conftest import SF_MEDIUM
    from tests.oracle import compare

    df = so.QUERIES["streaming_user_totals"](spark, SF_MEDIUM)
    res = compare(
        "streaming_user_totals", df, so.ORACLES["streaming_user_totals"], SF_MEDIUM
    )
    assert res.ok, str(res)
    assert stateful.LAST_DRAIN_NUM_BATCHES >= 3, (
        f"expected >= 3 micro-batches, got {stateful.LAST_DRAIN_NUM_BATCHES}"
    )


def test_stream_batch_split_covers_all_events(spark):
    """The derived 3-file split is a partition of the source table: same
    row count, and per-file event-time ranges are disjoint and ordered the
    way the mtime-ordered source will replay them."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from lua_mapreduce_spark.operators.streaming_ops import (
        _N_STREAM_FILES,
        _batched_events_dir,
    )
    from tests.conftest import SF_MEDIUM

    out = _batched_events_dir(SF_MEDIUM)
    src = pq.read_table(f"{SF_MEDIUM}/events.parquet")
    parts = [
        pq.read_table(f"{out}/part-{i}.parquet") for i in range(_N_STREAM_FILES)
    ]
    assert sum(p.num_rows for p in parts) == src.num_rows
    assert all(p.num_rows > 0 for p in parts), "degenerate split"
    ranges = [
        (
            pc.min(p.column("ts").cast("int64")).as_py(),
            pc.max(p.column("ts").cast("int64")).as_py(),
        )
        for p in parts
    ]
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo, f"time ranges overlap or out of order: {ranges}"


def test_event_values_on_cent_grid(spark):
    """Precondition of the stateful op's integer-cents accumulation (and
    its oracle): every event value sits on the 2-decimal grid."""
    from lua_mapreduce_spark.catalog import load_table
    from tests.conftest import SF_MEDIUM

    for sf in (SF_SMALL, SF_MEDIUM):
        n = load_table(spark, sf, "events").filter("value != round(value, 2)").count()
        assert n == 0, f"non-2-decimal event values in {sf}"


def test_stateful_user_totals_match_batch(spark, events_dir):
    """applyInPandasWithState running totals == batch groupBy after drain."""
    from pyspark.sql import functions as F

    from lua_mapreduce_spark.catalog import load_table
    from lua_mapreduce_spark.streaming import drain_stream, stream_user_totals_stateful

    result = drain_stream(
        stream_user_totals_stateful(read_events_stream(spark, events_dir)),
        "t_stateful",
        output_mode="update",
    )
    batch = (
        load_table(spark, SF_SMALL, "events")
        .filter(F.col("user_id") < 100)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
    )
    got = {r["user_id"]: (r["n_events"], round(r["sum_value"], 6)) for r in result.collect()}
    want = {r["user_id"]: (r["n_events"], round(r["sum_value"], 6)) for r in batch.collect()}
    assert got == want


def test_stream_dedup_bounded_state(spark, events_dir):
    """dropDuplicatesWithinWatermark drains and never exceeds input count."""
    from lua_mapreduce_spark.catalog import load_table
    from lua_mapreduce_spark.streaming import drain_stream, stream_dedup_events

    deduped = drain_stream(
        stream_dedup_events(read_events_stream(spark, events_dir)),
        "t_dedup",
        output_mode="append",
    )
    n_in = load_table(spark, SF_SMALL, "events").count()
    n_distinct = (
        load_table(spark, SF_SMALL, "events")
        .select("user_id", "event_type", "ts")
        .distinct()
        .count()
    )
    assert deduped.count() == n_distinct <= n_in


def test_file_sink_exactly_once_on_restart(spark, events_dir, tmp_path):
    """availableNow + checkpoint -> parquet sink: restarting the drained
    query emits NO duplicate rows (the checkpoint + file-sink commit log
    give end-to-end exactly-once for file outputs)."""
    from lua_mapreduce_spark.catalog import load_table

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain_once():
        q = (
            read_events_stream(spark, events_dir)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain_once()
    drain_once()  # restart against the same checkpoint: must be a no-op
    n_in = load_table(spark, SF_SMALL, "events").count()
    assert spark.read.parquet(out).count() == n_in


def test_stateful_recovery_across_restart(spark, tmp_path):
    """Keyed state survives a query restart via the checkpoint: feeding the
    same events twice (second file added between runs) yields cumulative
    totals — exactly double the single-pass counts."""
    import shutil

    from pyspark.sql import functions as F

    from lua_mapreduce_spark.catalog import load_table
    from lua_mapreduce_spark.streaming import stream_user_totals_stateful

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    shutil.copy(f"{SF_SMALL}/events.parquet", src / "batch1.parquet")

    def sink(df, batch_id):
        df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out)

    def drain():
        q = (
            stream_user_totals_stateful(read_events_stream(spark, str(src)))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    shutil.copy(f"{SF_SMALL}/events.parquet", src / "batch2.parquet")
    drain()

    single = {
        r["user_id"]: r["n"]
        for r in load_table(spark, SF_SMALL, "events")
        .filter(F.col("user_id") < 100)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    latest = (
        spark.read.parquet(out)
        .groupBy("user_id")
        .agg(F.max_by("n_events", "batch_id").alias("n_events"))
    )
    got = {r["user_id"]: r["n_events"] for r in latest.collect()}
    assert got == {u: 2 * n for u, n in single.items()}


def test_watermark_bounds_state(spark, events_dir):
    """The streaming plan carries an event-time watermark (state bound)."""
    stream = stream_tumbling_counts(read_events_stream(spark, events_dir))
    plan = stream._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan


def test_watermark_drops_late_data(spark, tmp_path):
    """Out-of-order events older than the watermark are DROPPED from the
    windowed aggregation, not silently counted. Two checkpointed drains:
    batch 1 advances the watermark to 12:00 (13:00 max event - 1h delay);
    batch 2 replays an event at 10:40 — below the watermark — plus a fresh
    13:30 event. The finalized 10:00 window must count only the two
    on-time events; 3 would mean the late row leaked into closed state."""
    import datetime as dt

    import pandas as pd
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def write_batch(name, times):
        pd.DataFrame(
            {"event_id": range(len(times)), "ts": pd.to_datetime(times), "value": 1.0}
        ).to_parquet(src / name, coerce_timestamps="us", allow_truncated_timestamps=True)

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    write_batch("b1.parquet", [t(10, 0), t(10, 15), t(13, 0)])

    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp, value double")
        .parquet(str(src))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )

    def sink(df, batch_id):
        df.write.mode("append").parquet(out)

    def drain():
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    drain()
    write_batch("b2.parquet", [t(10, 40), t(13, 30)])  # late + on-time
    drain()

    emitted = {(r.ws, r.n) for r in spark.read.parquet(out).collect()}
    assert (t(10, 0), 2) in emitted, f"10:00 window wrong or missing: {emitted}"
    assert all(n != 3 for _, n in emitted), f"late event leaked: {emitted}"


def test_merge_sink_restart_is_incremental_and_exact(spark, tmp_path):
    """foreachBatch MERGE sink across a stop/restart: drain half the
    events, restart the stream with the rest, and the final snapshot must
    equal the one-shot batch aggregate — the checkpoint makes the second
    drain process ONLY the new file, and the versioned store MERGEs rather
    than recomputes."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from lua_mapreduce_spark.catalog import load_table
    from lua_mapreduce_spark.streaming.merge_sink import (
        SnapshotStore,
        run_merge_stream,
        snapshot_result,
    )

    src = tmp_path / "src"
    src.mkdir()
    store = SnapshotStore(str(tmp_path / "snapshots"))
    ckpt = str(tmp_path / "ckpt")

    table = pq.read_table(f"{SF_SMALL}/events.parquet")
    half = pc.equal(
        pc.bit_wise_and(table.column("event_id").cast("int64"), 1), 0
    )
    first_part = table.filter(half)
    pq.write_table(first_part, src / "a.parquet", version="2.6")

    run_merge_stream(read_events_stream(spark, str(src)), store, ckpt)
    v_first = store.latest_version()
    first = {r.user_id: r.n_events for r in
             snapshot_result(store.read_latest(spark)).collect()}
    assert 0 < sum(first.values()) == first_part.num_rows < table.num_rows

    pq.write_table(table.filter(pc.invert(half)), src / "b.parquet",
                   version="2.6")
    run_merge_stream(read_events_stream(spark, str(src)), store, ckpt)
    assert store.latest_version() > v_first

    got = snapshot_result(store.read_latest(spark))
    expect = (
        load_table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.expr("CAST(round(value * 100.0) AS BIGINT)")) / 100.0)
            .alias("sum_value"),
            F.max(F.struct("ts", "event_id", "value")).alias("latest"),
        )
        .select("user_id", "n_events", "sum_value",
                F.col("latest.event_id").alias("last_event_id"),
                F.col("latest.value").alias("last_value"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect()))

    # A third drain with no new input commits no new version (exactly-once:
    # the checkpoint prevents any reprocessing of consumed files).
    v_done = store.latest_version()
    run_merge_stream(read_events_stream(spark, str(src)), store, ckpt)
    assert store.latest_version() == v_done


def test_merge_sink_batch_replay_is_idempotent(spark, tmp_path):
    """Replaying a batch id (what foreachBatch does after a crash between
    the snapshot write and the checkpoint commit) must OVERWRITE its own
    version, not double-count: same version list, same snapshot content."""
    from pyspark.sql import functions as F

    from lua_mapreduce_spark.catalog import load_table
    from lua_mapreduce_spark.streaming.merge_sink import (
        SnapshotStore,
        make_merge_sink,
        snapshot_result,
    )

    events = load_table(spark, SF_SMALL, "events")
    b0 = events.filter(F.col("event_id") % 2 == 0)
    b1 = events.filter(F.col("event_id") % 2 == 1)

    store = SnapshotStore(str(tmp_path / "snapshots"))
    sink = make_merge_sink(store)
    sink(b0, 0)
    sink(b1, 1)
    once = sorted(map(tuple, snapshot_result(store.read_latest(spark)).collect()))

    sink(b1, 1)  # crash-replay of the last batch
    assert store.committed_versions() == [0, 1]
    again = sorted(map(tuple, snapshot_result(store.read_latest(spark)).collect()))
    assert again == once


def test_merge_sink_commits_one_version_per_microbatch(spark, tmp_path):
    """Driving the same 3-file split the registered streaming_upsert_merge
    query uses (maxFilesPerTrigger=1) commits one snapshot version per
    micro-batch — the MERGE genuinely folds state across >= 3 batches
    rather than collapsing into one."""
    from lua_mapreduce_spark.operators.streaming_ops import _batched_events_dir
    from lua_mapreduce_spark.streaming.merge_sink import (
        SnapshotStore,
        run_merge_stream,
    )

    store = SnapshotStore(str(tmp_path / "snapshots"))
    stream = read_events_stream(
        spark, _batched_events_dir(SF_SMALL), max_files_per_trigger=1
    )
    run_merge_stream(stream, store, str(tmp_path / "ckpt"))
    assert len(store.committed_versions()) >= 3


def test_time_travel_snapshot_is_true_prefix_state(spark, tmp_path):
    """VERSION AS OF semantics: the second-latest committed version equals
    the batch merge over exactly the first two time-split file ranges, and
    differs from the final version (events genuinely arrived in batch 3)."""
    import pyarrow.parquet as papq

    from lua_mapreduce_spark.operators.streaming_ops import (
        _batched_events_dir,
        streaming_time_travel_snapshot,
        streaming_upsert_merge,
    )

    past = {
        r.user_id: (r.n_events, r.last_event_id)
        for r in streaming_time_travel_snapshot(spark, SF_SMALL).collect()
    }
    final = {
        r.user_id: (r.n_events, r.last_event_id)
        for r in streaming_upsert_merge(spark, SF_SMALL).collect()
    }
    assert past != final, "time travel returned the latest state"
    # Replay: per-user counts over the first two physical files only.
    split = _batched_events_dir(SF_SMALL)
    import pandas as pd

    frames = [
        papq.read_table(f"{split}/part-{i}.parquet").to_pandas() for i in (0, 1)
    ]
    first_two = pd.concat(frames)
    expect_counts = first_two.groupby("user_id").size().to_dict()
    assert {u: n for u, (n, _) in past.items()} == expect_counts
    # Monotone: every user's past count <= final count.
    assert all(past[u][0] <= final[u][0] for u in past)


def test_streaming_hypertable_rollup_equals_batch(spark):
    """The streamed hourly partials combined into days equal the one-shot
    batch two-level rollup — the continuous-aggregate maintenance
    contract, across >= 3 genuine micro-batches."""
    from lua_mapreduce_spark.operators.analytics import agg_hypertable_rollup
    from lua_mapreduce_spark.operators.streaming_ops import (
        streaming_hypertable_rollup,
    )

    streamed = {
        r.day: (r.n_events, r.sum_value, r.n_active_hours, r.peak_hour_events)
        for r in streaming_hypertable_rollup(spark, SF_SMALL).collect()
    }
    batch = {
        r.day: (r.n_events, r.sum_value, r.n_active_hours, r.peak_hour_events)
        for r in agg_hypertable_rollup(spark, SF_SMALL).collect()
    }
    assert streamed == batch and streamed


class _StatePartitions(StreamingQueryListener):
    """Collects ``numShufflePartitions`` of every state operator reported
    by the next query's progress events."""

    def __init__(self):
        self.counts = []
        self.terminated = threading.Event()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.counts += [op.numShufflePartitions for op in event.progress.stateOperators]

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.set()


def _drain_partitions(spark, name):
    """Run registry query ``name`` at SF_MEDIUM; return its sorted rows and
    the state-partition counts its drain reported."""
    from lua_mapreduce_spark.operators import streaming_ops as so
    from lua_mapreduce_spark.streaming import stateful

    listener = _StatePartitions()
    spark.streams.addListener(listener)
    try:
        rows = sorted(tuple(r) for r in so.QUERIES[name](spark, SF_MEDIUM).collect())
        assert listener.terminated.wait(60)
    finally:
        spark.streams.removeListener(listener)
    assert stateful.LAST_DRAIN_NUM_BATCHES >= 3
    return rows, set(listener.counts)


def test_drain_state_partitions_follow_source_bytes(spark):
    """A drain runs max(1, ceil(source bytes / advisory partition size))
    state partitions: 1 on the sf0.01 events stream, more when the
    advisory size is lowered, and the answers do not depend on the count.
    The stream-stream join reads the events stream twice, so its source
    bytes are twice the sliding window's."""
    import os

    from lua_mapreduce_spark.operators.streaming_ops import _batched_events_dir

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    queries = {"streaming_sliding_counts": 3, "streaming_stream_stream_join": 6}
    sized = {}
    for name in queries:
        sized[name], counts = _drain_partitions(spark, name)
        assert counts == {1}, (name, counts)

    events_dir = _batched_events_dir(SF_MEDIUM)
    n_bytes = sum(
        os.path.getsize(os.path.join(events_dir, f)) for f in os.listdir(events_dir)
    )
    target = n_bytes // 3 + 1
    prev = spark.conf.get(key)
    spark.conf.set(key, str(target))
    try:
        for name, expected in queries.items():
            rows, counts = _drain_partitions(spark, name)
            assert counts == {expected}, (name, counts)
            assert rows == sized[name], name
    finally:
        spark.conf.set(key, prev)


def test_python_state_drain_runs_default_parallelism(spark, monkeypatch):
    """A drain whose plan runs a Python state function (applyInPandasWithState)
    gets at least defaultParallelism state partitions although its source
    bytes size it to 1, and returns the same rows at the 1-partition count."""
    from lua_mapreduce_spark.streaming import stateful

    name = "streaming_user_totals"
    floored, counts = _drain_partitions(spark, name)
    assert counts == {spark.sparkContext.defaultParallelism}, counts

    monkeypatch.setattr(stateful, "_has_python_state", lambda plan: False)
    rows, counts = _drain_partitions(spark, name)
    assert counts == {1}, counts
    assert rows == floored


def test_batched_split_restores_lost_part_mtimes(spark):
    """The file source replays the split's parts in mtime order. A cached
    split whose part lost its mtime (a copy of the cache without mtimes)
    gets the event-time order back on the next call, and a drain over it
    returns the same rows."""
    import os

    from lua_mapreduce_spark.operators.streaming_ops import (
        _batched_events_dir,
        streaming_sliding_counts,
    )

    split = _batched_events_dir(SF_SMALL)
    parts = sorted(f for f in os.listdir(split) if f.startswith("part-"))
    mtimes = [os.stat(os.path.join(split, f)).st_mtime for f in parts]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(parts)
    cols = ["ws_epoch", "event_type", "n_events", "sum_value"]
    before = _rows(streaming_sliding_counts(spark, SF_SMALL), cols)

    os.utime(os.path.join(split, parts[0]))  # now: newer than every part
    assert _batched_events_dir(SF_SMALL) == split
    assert [os.stat(os.path.join(split, f)).st_mtime for f in parts] == mtimes
    assert _rows(streaming_sliding_counts(spark, SF_SMALL), cols) == before


_FORK_COUNT_CHILD = """
import json, sys
from lua_mapreduce_spark.operators.streaming_ops import streaming_sliding_counts
from lua_mapreduce_spark.session import get_spark

log, sf_dir, probe_dir = sys.argv[1:]
spark = get_spark("checkpoint-forks")
jvm = spark._jvm
manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
    jvm.org.apache.hadoop.fs.Path(probe_dir),
    spark._jsparkSession.sessionState().newHadoopConf(),
)

def forks():
    with open(log) as f:
        tools = f.read().split()
    return {t: tools.count(t) for t in ("readlink", "chmod")}

before = forks()
rows = streaming_sliding_counts(spark, sf_dir).count()
after = forks()
print(json.dumps({
    "native": jvm.org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded(),
    "manager": manager.getClass().getName(),
    "conf": spark.conf.get("spark.sql.streaming.checkpointFileManagerClass", None),
    "rows": rows,
    "forks": {t: after[t] - before[t] for t in after},
}))
spark.stop()
"""


def test_drain_checkpoints_fork_no_readlink(tmp_path):
    """Without libhadoop, Hadoop's local filesystem forks a ``readlink`` for
    every ``FileContext`` rename, and Spark's default streaming checkpoint
    manager renames every offset, commit and state file (about 144 forks in
    a three-batch sliding drain). A fresh ``local[2]`` process whose ``PATH``
    starts with logging ``readlink``/``chmod`` shims drains
    ``streaming_sliding_counts``: its checkpoints go through the
    FileSystem-based manager and fork no ``readlink``. Without libhadoop,
    the shims logging the drain's ``chmod`` forks shows that the JVM ran
    them."""
    import json
    import os
    import subprocess
    import sys

    from tests.conftest import _REPO

    shims = tmp_path / "shims"
    shims.mkdir()
    log = tmp_path / "forks.log"
    log.touch()
    for tool in ("readlink", "chmod"):
        shim = shims / tool
        shim.write_text(
            f'#!/bin/sh\necho {tool} >> "{log}"\nexec {shutil.which(tool)} "$@"\n'
        )
        shim.chmod(0o755)
    env = dict(
        os.environ,
        PATH=f"{shims}{os.pathsep}{os.environ['PATH']}",
        SPARK_GRAFT_CPUS="2",
        SPARK_DRIVER_MEMORY="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", _FORK_COUNT_CHILD, str(log), SF_SMALL,
         str(tmp_path / "probe")],
        cwd=_REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    fs_manager = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    assert got["rows"] > 0, got
    assert got["native"] or got["forks"]["chmod"] > 0, (
        f"shims not on the JVM's PATH: {got}"
    )
    assert got["forks"]["readlink"] == 0, got
    assert got["conf"] == got["manager"] == fs_manager, got
