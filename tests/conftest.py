from __future__ import annotations

import os
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# Spark's Python workers are separate processes: they must be able to import
# the repo package and the test modules that define pickled closures.
os.environ["PYTHONPATH"] = os.pathsep.join(
    [_REPO, os.path.join(_REPO, "tests"), os.environ.get("PYTHONPATH", "")]
)

from lua_mapreduce_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
# Parity/property SF. Override to stress-check every oracle at a larger
# scale (e.g. SPARK_GRAFT_PARITY_SF=/root/testdata/sf0.1 python -m pytest
# tests/test_oracle_parity.py) — a 10x run of exactly this suite caught a
# real scale-dependent sketch divergence in round 5.
SF_MEDIUM = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.01")
# Accept a bare scale factor ("0.1") too — a wrong-shape override otherwise
# fails every test with PATH_NOT_FOUND after a full suite spin-up.
if not os.path.isdir(SF_MEDIUM):
    _cand = f"/root/testdata/sf{SF_MEDIUM}"
    if os.path.isdir(_cand):
        SF_MEDIUM = _cand


def jobs_started_by(spark, group, fn):
    """Spark job ids started while ``fn()`` runs under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("lua-mapreduce-spark-tests")
    yield spark
