"""The session's generated-code cache holds a warm working set: a re-run of
queries that already ran compiles no class."""

from __future__ import annotations

from lua_mapreduce_spark.operators import QUERIES
from lua_mapreduce_spark.session import CODEGEN_CACHE_ENTRIES, codegen_compiles
from tests.conftest import SF_MEDIUM

# The nine non-streaming queries of the perfbench ``window`` slice. Together
# they use more generated classes than Spark's default cache (100) holds, so
# an LRU of that size misses on every class of the second round.
_SLICE = [
    "curation_pii_pattern_scan",
    "graph_local_clustering_coefficient",
    "events_funnel_time_to_convert",
    "events_anomaly_seasonal_residual",
    "text_readability_by_source",
    "multimodal_resize_thumbnail",
    "upsert_snapshot_merge",
    "window_range_frame",
    "scalar_array_map_funcs",
]


def test_codegen_cache_size_is_the_build_constant(spark):
    key = "spark.sql.codegen.cache.maxEntries"
    assert int(spark.conf.get(key)) == CODEGEN_CACHE_ENTRIES


def test_warm_rerun_compiles_nothing(spark):
    for name in _SLICE:
        QUERIES[name](spark, SF_MEDIUM).collect()
    before = codegen_compiles(spark)
    for name in _SLICE:
        QUERIES[name](spark, SF_MEDIUM).collect()
    assert codegen_compiles(spark)[0] == before[0]
