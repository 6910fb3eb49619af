"""Table catalog over the driver's parquet directories.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

Design for scale: we always go through ``spark.read.parquet`` so Catalyst
sees a relation with pushdown-capable scan (PushedFilters / ReadSchema reach
the parquet reader). Nothing here collects to the driver.

Schema cache: inferring a parquet schema is a Spark job (a footer read), so
each file's inferred ``StructType`` is kept and later reads pass it
explicitly. The key is ``(applicationId, abspath, st_mtime_ns, st_size)``:
a rewritten file, or a new session, misses and is inferred again, and a
miss drops the entries of other sessions. For a directory the stat is the
directory's own: adding, removing or renaming a file in it changes the key,
but a file rewritten in place inside it does not, so directories are assumed
not to be rewritten in place (the registry's batched events directories are
content-hash-tagged and never rewritten). A path that is not on the local
filesystem is inferred on every read. Only the schema is cached; every
``load_table`` call still builds a fresh relation, so a self-join gets
distinct attributes and reads the file as it is now.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from lua_mapreduce_spark.session import configure_runtime

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

_SCHEMAS: dict[tuple, StructType] = {}


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The inferred schema of the parquet file or directory ``path``,
    inferred once per (session, path version); see the module docstring for
    what counts as a new version of a directory.
    Applies the runtime confs first: they decide the inferred types (the
    events ts column is a bigint only under nanosAsLong)."""
    configure_runtime(spark)
    try:
        st = os.stat(path)
    except OSError:  # not a local path (or missing): Spark resolves it
        return spark.read.parquet(path).schema
    app = spark.sparkContext.applicationId
    key = (app, os.path.abspath(path), st.st_mtime_ns, st.st_size)
    schema = _SCHEMAS.get(key)
    if schema is None:
        for stale in [k for k in _SCHEMAS if k[0] != app]:
            del _SCHEMAS[stale]
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        df = normalize_events_ts(df)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the physical ``ts`` encoding to session-TZ TIMESTAMP.

    The physical ts type has varied across testdata generations; both the
    batch reader (load_table) and the streaming reader
    (streaming.windows.read_events_stream) go through this one helper so a
    future third encoding can't silently diverge between the two paths.

    - bigint: TIMESTAMP(NANOS) read as int64 via nanosAsLong; truncate to
      µs. Second-exact intervals survive truncation (1800e9 ns ≡ 1800e6 µs),
      so window/session semantics are unaffected.
    - timestamp_ntz: newer Spark reads TIMESTAMP(MICROS) natively as
      TIMESTAMP_NTZ. Normalize to session-TZ TIMESTAMP (UTC, session.py) so
      downstream casts like CAST(ts AS LONG) — illegal on NTZ — keep working
      and the wall clock matches the DuckDB oracle's naive timestamps.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn(
            "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
        )
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def parallelize_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin repartition a poorly-split scan up to cluster parallelism
    before CPU-heavy per-row work (tokenization, hashing, vector math).

    A small parquet file is a single input split, which would serialize the
    expensive projection on one core no matter how large the cluster. At
    real scale the scan already has >= cores splits and this is a no-op —
    the repartition only fires when the source under-splits, so it never
    introduces a full-table shuffle on a 100 TB input.
    """
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so operators can use spark.sql."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
