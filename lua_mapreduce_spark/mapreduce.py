"""Layer A — the fidelity MapReduce job API.

Reproduces the reference's job abstraction (four user closures wired into a
fixed map -> shuffle -> reduce -> finalize dataflow) on Spark primitives:

* ``taskfn(arg)`` yields ``(key, payload)`` map tasks — the reference resumes
  it once per task on the server (lua-mapreduce-server.lua:269-291; example
  impl example/word-count-taskfile.lua:82-88).
* ``mapfn(key, value)`` yields zero-or-more ``(k, v)`` pairs per task —
  flatMap semantics (lua-mapreduce-client.lua:165-176).
* shuffle groups every emitted pair into ``{k: [v, ...]}`` — the reference
  does this in coordinator memory (lua-mapreduce-server.lua:173-183); here it
  is Spark's distributed hash shuffle, which is the structural fix that makes
  the same API hold at 100 TB.
* ``reducefn(key, values)`` receives the COMPLETE value list (holistic, not
  pairwise — lua-mapreduce-client.lua:195) and yields ``(k', v')`` pairs; the
  emitted key may differ from the input key
  (lua-mapreduce-client.lua:197).
* ``reducefn`` collisions (two reduce invocations emitting the same key)
  resolve last-write-wins in the reference (lua-mapreduce-server.lua:218);
  we document the same as undefined order.
* ``finalfn(results)`` runs once on the driver with the whole result dict
  (lua-mapreduce-server.lua:323-327).
* ``filterfn(key, value) -> bool`` (optional) runs on each reduce-output
  pair BEFORE finalfn/collection — the reference's own roadmap item
  ("Add support for filter after reduce is performed", README.md TODO #5)
  which its engine never shipped. Executor-side: filtered pairs never
  reach the driver.

Scale notes: ``run_distributed``/``to_dataframe`` never materialize
intermediate data on the driver; only ``finalfn``'s input is collected, and
only when a ``finalfn`` is supplied (matching the reference, whose finalfn is
inherently driver-side). When ``combinefn`` is provided (an associative
pairwise combiner), the shuffle uses ``reduceByKey`` — map-side partial
aggregation, which the reference lacks entirely (raw pairs cross the wire
per word, lua-mapreduce-client.lua:168-175). A ``source_df`` with fewer
input splits than ``defaultParallelism`` (a small parquet file is one split)
is spread round-robin to that many partitions before the Python map
(``catalog.parallelize_scan``), so map and reduce use every core; the shuffle
inherits that partition count unless ``num_partitions`` sets it. A source
that already has enough splits is left as it is.

The per-row steps are module-level functions bound with ``functools.partial``
rather than lambdas, so they pickle by reference: every Python worker that
runs a job imports this package, and with it ``pyworker``'s per-task
start-up fix, even when the user's mapfn is pickled by value.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from functools import partial
from typing import Any

from pyspark.rdd import RDD
from pyspark.sql import DataFrame, SparkSession

from lua_mapreduce_spark.catalog import parallelize_scan

TaskFn = Callable[[Any], Iterator[tuple[Any, Any]]]
MapFn = Callable[[Any, Any], Iterable[tuple[Any, Any]]]
ReduceFn = Callable[[Any, list], Iterable[tuple[Any, Any]]]
FinalFn = Callable[[dict], Any]
CombineFn = Callable[[Any, Any], Any]
FilterFn = Callable[[Any, Any], bool]


def _row_pair(row) -> tuple[Any, Any]:
    return row[0], row[1]


def _call_pair(fn: Callable[[Any, Any], Any], kv: tuple[Any, Any]) -> Any:
    return fn(kv[0], kv[1])


def _reduce_combined(reducefn: ReduceFn, kv: tuple[Any, Any]) -> Iterable[tuple[Any, Any]]:
    return reducefn(kv[0], [kv[1]])


def _reduce_grouped(reducefn: ReduceFn, kv: tuple[Any, Iterable]) -> Iterable[tuple[Any, Any]]:
    return reducefn(kv[0], list(kv[1]))


class MapReduceJob:
    """A reference-faithful MapReduce job executed on Spark.

    Parameters mirror the reference task-file slots
    (lua-mapreduce-server.lua:383-388, lua-mapreduce-client.lua:128-130).
    ``source_df`` may replace ``taskfn`` with an existing 2-column DataFrame
    (key, value) so sources scale beyond a driver-side generator.
    """

    def __init__(
        self,
        taskfn: TaskFn | None = None,
        mapfn: MapFn | None = None,
        reducefn: ReduceFn | None = None,
        finalfn: FinalFn | None = None,
        *,
        combinefn: CombineFn | None = None,
        filterfn: FilterFn | None = None,
        source_df: DataFrame | None = None,
        arg: Any = None,
        num_partitions: int | None = None,
    ) -> None:
        if taskfn is None and source_df is None:
            raise ValueError("need a source: taskfn or source_df")
        if mapfn is None:
            raise ValueError("mapfn is required")
        self.taskfn = taskfn
        self.mapfn = mapfn
        self.reducefn = reducefn
        self.finalfn = finalfn
        self.combinefn = combinefn
        self.filterfn = filterfn
        self.source_df = source_df
        self.arg = arg
        self.num_partitions = num_partitions

    # -- source -----------------------------------------------------------
    def _source_rdd(self, spark: SparkSession) -> RDD:
        if self.source_df is not None:
            return parallelize_scan(spark, self.source_df).rdd.map(_row_pair)
        tasks = list(self.taskfn(self.arg))  # reference drives taskfn on the server
        parallelism = self.num_partitions or spark.sparkContext.defaultParallelism
        return spark.sparkContext.parallelize(tasks, min(max(len(tasks), 1), parallelism))

    # -- dataflow ----------------------------------------------------------
    def _reduced_rdd(self, spark: SparkSession) -> RDD:
        reducefn = self.reducefn
        mapped = self._source_rdd(spark).flatMap(partial(_call_pair, self.mapfn))
        if reducefn is None:
            return self._filtered(mapped)
        if self.combinefn is not None:
            # Pairwise combiner path: map-side partial aggregation. Only
            # valid when the caller asserts reducefn(k, vs) == fold(combinefn,
            # vs) semantics; reducefn still runs on the (single) combined
            # value list for output-shape fidelity.
            combined = mapped.reduceByKey(self.combinefn, numPartitions=self.num_partitions)
            return self._filtered(combined.flatMap(partial(_reduce_combined, reducefn)))
        # Faithful holistic path: reducefn sees the complete value list.
        grouped = mapped.groupByKey(numPartitions=self.num_partitions)
        return self._filtered(grouped.flatMap(partial(_reduce_grouped, reducefn)))

    def _filtered(self, reduced: RDD) -> RDD:
        """Post-reduce filter (reference README TODO #5): runs where the
        reduce output lives, so discarded pairs never cross to the driver
        or the sink."""
        if self.filterfn is None:
            return reduced
        return reduced.filter(partial(_call_pair, self.filterfn))

    # -- actions -----------------------------------------------------------
    def run(self, spark: SparkSession) -> dict:
        """Execute and return ``reduce_results`` as a dict (last write wins on
        key collisions, like lua-mapreduce-server.lua:218). Calls ``finalfn``
        with the dict if provided. Driver-materializing by contract — use
        ``to_dataframe`` for at-scale output."""
        results = dict(self._reduced_rdd(spark).collect())
        if self.finalfn is not None:
            self.finalfn(results)
        return results

    def to_dataframe(
        self, spark: SparkSession, schema: str = "key string, value long"
    ) -> DataFrame:
        """Distributed sink: the reduce output as a DataFrame, never touching
        the driver. This is the scale path the reference cannot express."""
        return spark.createDataFrame(self._reduced_rdd(spark), schema=schema)
