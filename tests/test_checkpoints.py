"""Queries whose per-query eager checkpoints were all removed (each one
judged by tools/checkpoint_sweep.py, BASELINE.md "Per-query checkpoints")
build their DataFrame without running a Spark job once their shared
inputs are warm: construction is planning only, and every job runs when
the caller collects."""

from __future__ import annotations

import pytest

from lua_mapreduce_spark.operators import QUERIES
from tests.conftest import SF_SMALL, jobs_started_by

NO_CONSTRUCTION_JOBS = [
    "agg_ams_f2_sketch",
    "agg_quantile_bottomk_sketch",
    "curation_dataset_card",
    "curation_dataset_diff_report",
    "curation_filter_drift",
    "events_power_users_pareto",
    "events_user_overlap_jaccard",
    "graph_label_propagation",
    "graph_reciprocity_profile",
    "graph_triangle_count",
    "layout_hilbert_keys",
    "layout_zonemap_skipping",
    "q21_suppliers_kept_waiting",
    "sim_ivf_pq_hybrid",
    "text_burstiness",
    "text_vocabulary_growth",
    "tpch_refresh_streams",
]


@pytest.mark.parametrize("name", NO_CONSTRUCTION_JOBS)
def test_warm_construction_starts_no_job(spark, name):
    # The first build pays schema inference and any memoized shared build.
    QUERIES[name](spark, SF_SMALL)
    assert jobs_started_by(spark, f"construct_{name}", lambda: QUERIES[name](spark, SF_SMALL)) == []
