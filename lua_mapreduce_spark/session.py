"""SparkSession factory and runtime configuration.

The driver hands us an already-built SparkSession for ``entry``/``queries``,
so anything correctness-critical must be settable at *runtime* — we pin those
in :func:`configure_runtime` and call it from every operator entry point.
Build-time knobs (local[N], memory) live in :func:`get_spark` for tests/bench.

Every session the repo builds itself (:func:`get_spark`, ``bench.py``'s
session, the CLI's) also applies :data:`BUILD_CONFS`, the static confs
Spark reads once, when the session is created. The one entry today sizes
the JVM-wide LRU of compiled generated classes (whole-stage and expression
code), ``spark.sql.codegen.cache.maxEntries``. Spark's default holds 100
classes, and one warm pass of the ten-query perfbench ``window`` slice uses
about 180: an LRU cycled through a working set larger than itself misses on
every access, so every pass recompiled about 150 classes with Janino (7 ms
each on average) and ran them un-JITted. :data:`CODEGEN_CACHE_ENTRIES` is
sized from a measurement to hold the classes of the whole registry, so a
warm re-run of any query finds its classes compiled. In local mode the
tasks share the driver's cache.

Static confs cannot be set on a running session (Spark refuses), so they
are not in :data:`_RUNTIME_CONFS` and :func:`configure_runtime` does not
apply them. A session the driver builds keeps Spark's 100 entries.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One cold pass over all 309 registered queries at sf0.01 (Spark 4.1.2,
# local[4]) compiles 4,498 distinct generated classes: with this size nothing
# is evicted, so each compile is a distinct class. 8192 is the next power of
# two. Metaspace after that pass: 247 MB (BASELINE.md, "Generated-code
# cache").
CODEGEN_CACHE_ENTRIES = 8192

# Static (build-time) confs applied by every session builder in the repo.
BUILD_CONFS = {
    "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
}

# Runtime-settable confs applied to ANY session we touch. Rationale:
#  - UTC session TZ: parquet timestamps must render identically to the
#    DuckDB oracle (naive UTC wall-clock).
#  - AQE on: runtime coalescing + skew-join splitting; at 100 TB the static
#    shuffle-partition count is always wrong for some stage.
#  - Arrow on: every Pandas UDF / toPandas crossing is Arrow-batched.
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS) which Spark 4 refuses to read
    # natively; read as int64 nanos — catalog.load_table converts to a µs
    # timestamp column.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Default parallelism for the local harness; AQE coalesces down when
    # partitions are tiny, and on a real cluster this should be ~2-3x cores.
    "spark.sql.shuffle.partitions": "32",
}


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs; safe to call repeatedly."""
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Some confs may be locked by the driver's session; the defaults
            # they locked in are acceptable, only TZ is a hard requirement
            # and that one is always runtime-settable.
            pass
    return spark


def get_spark(app_name: str = "lua-mapreduce-spark") -> SparkSession:
    """Local session for tests and bench. local[N] with N from
    SPARK_GRAFT_CPUS (default all cores), mirroring the driver harness."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "32")
        .config(map=BUILD_CONFS)
    )
    return configure_runtime(builder.getOrCreate())


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, compile ms) by Janino in this JVM so far: every
    miss of the generated-code cache. Take the difference of two calls."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(compiles.getCount()), nanos / 1e6
