"""catalog.load_table infers each parquet file's schema once per session and
file version, and still hands every call a fresh relation; the events stream
reuses its directory's schema the same way."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table
from lua_mapreduce_spark.streaming import read_events_stream
from tests.conftest import SF_MEDIUM, jobs_started_by
from tests.oracle import compare


def test_second_load_table_starts_no_job(spark, tmp_path):
    shutil.copy(os.path.join(SF_MEDIUM, "nation.parquet"), tmp_path)
    first = jobs_started_by(
        spark, "catalog_first_load", lambda: load_table(spark, str(tmp_path), "nation")
    )
    assert first, "schema inference should run a Spark job on the first load"
    again = jobs_started_by(
        spark, "catalog_second_load", lambda: load_table(spark, str(tmp_path), "nation")
    )
    assert again == []


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]

    pq.write_table(pa.table({"r_regionkey": [0, 1, 2], "r_name": ["a", "b", "c"]}), path)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(tuple(r) for r in df.collect()) == [(0, "a"), (1, "b"), (2, "c")]


def test_self_join_of_two_handles_matches_oracle(spark):
    a = load_table(spark, SF_MEDIUM, "nation")
    b = load_table(spark, SF_MEDIUM, "nation")
    df = a.join(b, a.n_regionkey == b.n_regionkey).agg(F.count(F.lit(1)).alias("n"))
    res = compare(
        "nation_self_join",
        df,
        "SELECT COUNT(*) AS n FROM nation a JOIN nation b"
        " ON a.n_regionkey = b.n_regionkey",
        SF_MEDIUM,
    )
    assert res.ok, str(res)


def test_events_stream_reuses_directory_schema(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    shutil.copy(os.path.join(SF_MEDIUM, "events.parquet"), src / "part-0.parquet")
    first = jobs_started_by(
        spark, "stream_first_read", lambda: read_events_stream(spark, str(src))
    )
    assert first, "schema inference should run a Spark job on the first read"
    again = jobs_started_by(
        spark, "stream_second_read", lambda: read_events_stream(spark, str(src))
    )
    assert again == []

    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(FileNotFoundError):
        read_events_stream(spark, str(empty))
