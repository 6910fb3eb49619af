"""foreachBatch MERGE/upsert sink: the write-side twin of the batch
``upsert_snapshot_merge`` (operators/relational4.py).

Structured Streaming's built-in sinks append; a continuously-maintained
keyed snapshot (SCD-1 "current state per key") needs MERGE semantics. On a
table format (Delta/Iceberg) that is ``MERGE INTO``; over plain immutable
parquet — the only format this container ships — the same contract is the
versioned-snapshot pattern implemented here:

* each micro-batch reduces to a per-key partial aggregate (map-side
  combine collapses the batch before the shuffle),
* the partial full-outer-joins the previous snapshot version on the key —
  additive columns add, "latest" columns resolve by (ts, event_id) struct
  order — exactly the batch merge recipe,
* the merged result is written to ``v=<batch_id>`` and made visible by an
  atomically-renamed commit marker.

Exactly-once across restarts falls out of versioning alone: foreachBatch
may REPLAY a batch id after a crash, and a replayed batch id deterministically
rebuilds ``v=<batch_id>`` from the latest committed version *strictly
below* it, so a half-written failed version is never read and a replay
overwrites rather than double-counts. This is the same commit protocol a
lakehouse MERGE uses, minus the format metadata.

100 TB shape: per batch, ONE shuffle (the key join; the batch side is
pre-aggregated so it is micro-batch-sized, and a snapshot keyed on user_id
can be bucketed to make the join co-located). The snapshot itself is
ordinary partitioned parquet readable by any engine. No driver-side row
data — the driver only sees batch ids and file markers.

Reference parity: the reference's reducefn/finalfn pair folds per-key
state and hands the final table to the driver (lua-mapreduce-server.lua:
296-317); this sink is that fold as a restartable streaming write.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lua_mapreduce_spark.streaming.stateful import sized_state_partitions

_V_RE = re.compile(r"^v=(\d+)$")


class SnapshotStore:
    """Versioned keyed-snapshot directory: ``root/v=<batch_id>/`` parquet
    plus ``root/v=<batch_id>._COMMITTED`` markers. Only committed versions
    are ever read; an interrupted write leaves no marker and is invisible.

    Local-filesystem note: the marker is created via os.rename (atomic on
    POSIX). On an object store the rename becomes the store's conditional
    PUT; the protocol is unchanged.
    """

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def committed_versions(self) -> list[int]:
        """Sorted committed version ids (the time-travel axis)."""
        versions = []
        for name in os.listdir(self.root):
            if not name.endswith("._COMMITTED"):
                continue
            m = _V_RE.match(name[: -len("._COMMITTED")])
            if m:  # strict marker-name validation: ignore stray files
                versions.append(int(m.group(1)))
        return sorted(versions)

    # Backwards-compatible private alias (pre-r7 callers).
    _committed = committed_versions

    def latest_version(self, below: int | None = None) -> int | None:
        versions = self.committed_versions()
        if below is not None:
            versions = [v for v in versions if v < below]
        return versions[-1] if versions else None

    def read_version(self, spark: SparkSession, version: int) -> DataFrame:
        return spark.read.parquet(os.path.join(self.root, f"v={version}"))

    def read_latest(
        self, spark: SparkSession, below: int | None = None
    ) -> DataFrame | None:
        v = self.latest_version(below)
        return None if v is None else self.read_version(spark, v)

    def write_version(self, df: DataFrame, version: int) -> None:
        path = os.path.join(self.root, f"v={version}")
        marker = f"{path}._COMMITTED"
        # A replayed batch id overwrites its own failed/stale attempt.
        if os.path.exists(marker):
            os.remove(marker)
        df.write.mode("overwrite").parquet(path)
        tmp = f"{marker}.tmp"
        with open(tmp, "w"):
            pass
        os.rename(tmp, marker)

    def destroy(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def _batch_partial(batch_df: DataFrame) -> DataFrame:
    """Micro-batch → per-user partial: additive counts/cents plus the
    batch-latest (ts, event_id, value) struct. Integer cents keep the sum
    associative-exact across any batch split (same contract as
    streaming_user_totals)."""
    return batch_df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.expr("CAST(round(value * 100.0) AS BIGINT)")).alias("sum_cents"),
        F.max(F.struct("ts", "event_id", "value")).alias("latest"),
    )


def merge_snapshots(base: DataFrame | None, partial: DataFrame) -> DataFrame:
    """MERGE the per-key partial into the previous snapshot: additive
    columns add; ``latest`` resolves by struct order ((ts, event_id) —
    event_id is unique, so the resolution is deterministic under ts ties).
    Keys only in the partial are inserts; only in the base, carried
    unchanged — the full-outer-join formulation of MERGE WHEN MATCHED /
    NOT MATCHED."""
    if base is None:
        return partial
    b, u = base.alias("b"), partial.alias("u")
    return b.join(u, F.col("b.user_id") == F.col("u.user_id"), "full").select(
        F.coalesce(F.col("b.user_id"), F.col("u.user_id")).alias("user_id"),
        (
            F.coalesce(F.col("b.n_events"), F.lit(0))
            + F.coalesce(F.col("u.n_events"), F.lit(0))
        ).alias("n_events"),
        (
            F.coalesce(F.col("b.sum_cents"), F.lit(0))
            + F.coalesce(F.col("u.sum_cents"), F.lit(0))
        ).alias("sum_cents"),
        # greatest() skips NULLs: a key on one side keeps that side's struct.
        F.greatest(F.col("b.latest"), F.col("u.latest")).alias("latest"),
    )


def make_merge_sink(store: SnapshotStore):
    """foreachBatch callable maintaining the user snapshot in ``store``."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        base = store.read_latest(spark, below=batch_id)
        merged = merge_snapshots(base, _batch_partial(batch_df))
        store.write_version(merged, batch_id)

    return sink


def run_merge_stream(
    stream_df: DataFrame, store: SnapshotStore, checkpoint_dir: str,
    timeout_sec: int = 120,
) -> None:
    """Drain ``stream_df`` through the MERGE sink with availableNow. The
    per-micro-batch MERGE joins run at drain_stream's state-partition
    count (stateful.sized_state_partitions)."""
    with sized_state_partitions(stream_df):
        query = (
            stream_df.writeStream.foreachBatch(make_merge_sink(store))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        if not query.awaitTermination(timeout_sec):
            query.stop()
            raise TimeoutError(f"merge stream did not drain within {timeout_sec}s")


def snapshot_result(snapshot: DataFrame) -> DataFrame:
    """Driver-facing projection of the final snapshot (cents → IEEE double
    division mirrored in the oracle; latest struct unpacked)."""
    return snapshot.select(
        "user_id",
        "n_events",
        (F.col("sum_cents") / F.lit(100.0)).alias("sum_value"),
        F.col("latest.event_id").alias("last_event_id"),
        F.col("latest.value").alias("last_value"),
    )
