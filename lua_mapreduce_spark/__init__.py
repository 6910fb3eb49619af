"""lua_mapreduce_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of rohitjoshi/lua-mapreduce.

The reference (/root/reference, 1,127 LoC of Lua) is a minimal distributed
MapReduce framework: a TCP coordinator ships a user task file of four Lua
closures (taskfn / mapfn / reducefn / finalfn) to workers and drives a
map -> in-memory-shuffle -> reduce -> finalize dataflow
(lua-mapreduce-server.lua:269-327). This package re-expresses that surface
Spark-first:

* ``mapreduce`` — Layer A, the fidelity API: ``MapReduceJob`` reproduces the
  reference's job abstraction (holistic reducefn, flatMap-style map/reduce
  emission) on top of DataFrame/RDD primitives. Spark's distributed shuffle
  replaces the reference's coordinator-memory multimap
  (lua-mapreduce-server.lua:31-34, 173-183) — the structural 100 TB fix.
* ``operators`` — Layer B, the engine: a named-operator library covering the
  relational core (scan/filter/join/agg/window/sort/setops), text analysis,
  dedup, similarity search, multimodal plumbing and event-time windows.
  Every operator is ``(spark, sf_dir) -> DataFrame``, declarative, and
  driver-materialization-free.
* ``sources`` / ``streaming`` / ``functions`` — readers & sinks, Structured
  Streaming variants, and reusable column expressions.
"""

# First: every Python worker that unpickles a MapReduceJob step imports the
# package, and with it the per-task start-up fix.
from lua_mapreduce_spark import pyworker  # noqa: F401
from lua_mapreduce_spark.mapreduce import MapReduceJob
from lua_mapreduce_spark.session import configure_runtime, get_spark

__all__ = ["MapReduceJob", "configure_runtime", "get_spark"]

__version__ = "0.1.0"
