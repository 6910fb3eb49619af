"""memo: the registry of build-once relations — key, scope and eviction."""

from __future__ import annotations

import gc
import os
import pathlib
import subprocess
import sys
import textwrap
import weakref

from lua_mapreduce_spark import memo
from lua_mapreduce_spark.operators.analytics import _copurchase_derived
from lua_mapreduce_spark.operators.analytics2 import _mb_items
from lua_mapreduce_spark.operators.analytics7 import _trade_edges_ck
from lua_mapreduce_spark.operators.analytics9 import _bc_base
from lua_mapreduce_spark.operators.dedup import _minhash_signatures
from lua_mapreduce_spark.operators.hygiene import _semdedup_cells
from tests.conftest import SF_MEDIUM, SF_SMALL

_REPO = pathlib.Path(__file__).resolve().parents[1]

# A memoized checkpoint must not outlive its SparkContext: the second
# session's IVF query used to receive the first session's centroids and
# fail with Py4JJavaError. The persisted signatures from the stopped
# session are dropped on the same scope switch without an unpersist.
_SESSION_RESTART = textwrap.dedent(
    f"""
    from pyspark.sql import SparkSession
    from lua_mapreduce_spark.operators.dedup import _minhash_signatures
    from lua_mapreduce_spark.operators.similarity import _km_centroids, sim_ivf_topk

    def session():
        return (SparkSession.builder.master("local[2]")
                .config("spark.ui.enabled", "false").getOrCreate())

    spark = session()
    _km_centroids(spark, {SF_SMALL!r}).count()
    _minhash_signatures(spark, {SF_SMALL!r}).count()
    spark.stop()
    spark = session()
    print(len(sim_ivf_topk(spark, {SF_SMALL!r}).collect()))
    spark.stop()
    """
)


def test_entries_do_not_outlive_their_session():
    env = dict(os.environ)
    env["PYTHONPATH"] = str(_REPO) + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", _SESSION_RESTART],
        capture_output=True, text=True, timeout=300, env=env,
    )
    traceback = proc.stderr[proc.stderr.rfind("Traceback"):]
    assert proc.returncode == 0, traceback[:2000]
    assert int(proc.stdout.strip().splitlines()[-1]) > 0


def test_relative_and_absolute_sf_dir_share_entries(spark):
    rel = os.path.relpath(SF_SMALL)
    assert rel != SF_SMALL
    for fn in (_minhash_signatures, _semdedup_cells, _trade_edges_ck, _bc_base):
        assert fn(spark, rel) is fn(spark, SF_SMALL), fn.__name__


def test_extra_arguments_key_separate_entries(spark):
    deg = _copurchase_derived(spark, SF_SMALL, "deg")
    sym = _copurchase_derived(spark, SF_SMALL, "sym")
    assert deg is not sym
    assert _copurchase_derived(spark, SF_SMALL, "deg") is deg
    assert _copurchase_derived(spark, SF_SMALL, "sym") is sym


def test_scope_switch_drops_and_unpersists_every_entry(spark):
    sig = _minhash_signatures(spark, SF_SMALL)
    items = weakref.ref(_mb_items(spark, SF_SMALL))
    assert sig.is_cached
    gc.collect()
    assert items() is not None  # held by the registry
    _minhash_signatures(spark, SF_MEDIUM)
    gc.collect()
    assert not sig.is_cached
    assert items() is None


def test_clear_drops_only_the_named_functions(spark):
    sig = _minhash_signatures(spark, SF_SMALL)
    items = _mb_items(spark, SF_SMALL)
    memo.clear(_minhash_signatures)
    assert not sig.is_cached
    assert _mb_items(spark, SF_SMALL) is items
    assert _minhash_signatures(spark, SF_SMALL) is not sig
