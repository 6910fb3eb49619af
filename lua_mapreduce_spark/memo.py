"""One memo registry for the engine's build-once relations.

Several queries share an expensive intermediate: the co-purchase edge
list, the MinHash signatures, the trained k-means centroids, the trade
graph. Each builder ``fn(spark, sf_dir, *args)`` decorated with
:func:`memo` runs once and later calls get the same object back.

- **Key.** The decorated function and its arguments after
  ``(spark, sf_dir)``, e.g. ``_copurchase_derived``'s ``kind``.
- **Scope.** ``(spark.sparkContext.applicationId, os.path.abspath(sf_dir))``.
  An entry is never served to another session (its checkpoint and cache
  blocks belong to the SparkContext that built it) or to another input
  dir; a relative and an absolute spelling of one dir share entries.
- **Eviction.** The registry holds the entries of one scope at a time: a
  call in a different scope drops every entry first. A dropped value that
  is a persisted DataFrame, or a tuple of them, is unpersisted; a dropped
  localCheckpoint is freed by the ContextCleaner once unreferenced (there
  is no user-level unpersist for a checkpointed RDD). :func:`clear` drops
  entries explicitly, e.g. so a benchmark can time a cold build.
"""

from __future__ import annotations

import functools
import os
import threading

from pyspark.sql import DataFrame

_lock = threading.RLock()  # re-entrant: a build may call another builder
_scope: tuple[str, str] | None = None
_entries: dict[tuple, object] = {}


def memo(fn):
    """Memoize ``fn(spark, sf_dir, *args)`` in the registry (see module doc)."""

    @functools.wraps(fn)
    def cached(spark, sf_dir, *args):
        global _scope
        scope = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
        key = (cached, args)
        with _lock:
            if scope != _scope:
                clear()
                _scope = scope
            if key not in _entries:
                _entries[key] = fn(spark, sf_dir, *args)
            return _entries[key]

    return cached


def clear(*fns) -> None:
    """Drop the entries of the given memoized functions, or every entry."""
    with _lock:
        for key in [k for k in _entries if not fns or k[0] in fns]:
            value = _entries.pop(key)
            for df in value if isinstance(value, tuple) else (value,):
                # A stopped SparkContext (``_jsc`` None) took its cache
                # blocks with it, and unpersist would raise on it.
                if (
                    isinstance(df, DataFrame)
                    and df.is_cached
                    and df.sparkSession.sparkContext._jsc is not None
                ):
                    df.unpersist()
