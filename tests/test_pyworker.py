"""pyworker: CPython 3.12's lazy zip-importer cache on older interpreters,
and the MapReduceJob workers that carry it.

The zipimport tests hold on every Python version: on 3.12 and later they
check the interpreter's own behaviour, which the backport reproduces.
"""

from __future__ import annotations

import importlib
import json
import os
import pathlib
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from lua_mapreduce_spark import pyworker  # noqa: F401  (installs the backport)

_REPO = pathlib.Path(__file__).resolve().parents[1]
_MODULES = ("pyworker_zip_a", "pyworker_zip_b")


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"pyworker_zip_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in _MODULES:
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@pytest.fixture
def reads(monkeypatch):
    """Archives whose directory zipimport reads while the test runs."""
    calls = []
    read_directory = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_importer_created_after_install_imports(archive):
    importer = zipimport.zipimporter(archive)
    assert importer.find_spec("pyworker_zip_a") is not None
    assert importlib.import_module("pyworker_zip_a").VALUE == "a"


def test_invalidate_caches_reads_no_directory(archive, reads):
    importlib.import_module("pyworker_zip_a")
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_read_once_on_demand(archive, reads):
    importlib.import_module("pyworker_zip_a")
    _write_zip(archive, {"pyworker_zip_a": "VALUE = 'a'\n", "pyworker_zip_b": "VALUE = 'b'\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module("pyworker_zip_b").VALUE == "b"
    assert reads == [archive]


# Runs in a fresh Spark process: Python workers are reused, so in the test
# session an earlier job may already have imported the package into them.
_WORKER_PROBE = textwrap.dedent(
    """
    import json
    from pyspark.sql import SparkSession
    from lua_mapreduce_spark.mapreduce import MapReduceJob

    def probe(key, value):
        # Defined in __main__, so pickled by value: it imports nothing itself.
        import os, sys, zipimport
        backport = isinstance(vars(zipimport.zipimporter).get("_files"), property)
        yield os.getpid(), ("lua_mapreduce_spark.pyworker" in sys.modules,
                            sys.version_info >= (3, 12) or backport)

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false").getOrCreate())
    n = 4 * spark.sparkContext.defaultParallelism
    job = MapReduceJob(taskfn=lambda arg: ((i, i) for i in range(n)), mapfn=probe,
                       reducefn=lambda pid, flags: [(pid, [all(f) for f in flags])])
    print(json.dumps(job.run(spark)))
    spark.stop()
    """
)


def test_mapreduce_workers_carry_the_backport():
    env = dict(os.environ)
    env["PYTHONPATH"] = str(_REPO) + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    by_worker = json.loads(proc.stdout.strip().splitlines()[-1])
    assert by_worker, "no worker reported"
    assert all(all(flags) for flags in by_worker.values()), by_worker
    assert sum(map(len, by_worker.values())) == 8  # every task reported
