"""Task-file CLI runner — the reference engine's actual user experience.

The reference is driven as ``lua lua-mapreduce-server.lua -t taskfile.lua
[-a arg]``: the server loads a user task file defining the four job slots
and runs it (/root/reference/lua-mapreduce-server.lua:397-417 entry point,
:383-388 slot table; clients attach via lua-mapreduce-client.lua:296-328).
This module is the Spark-side equivalent::

    python -m lua_mapreduce_spark -t my_job.py [-a ARG] [--master URL]
        [--num-partitions N]

The task file is a plain Python module defining:

* ``taskfn(arg)``      — yields ``(key, value)`` map tasks  (required)
* ``mapfn(key, value)``— yields ``(k, v)`` pairs            (required)
* ``reducefn(key, values)`` — yields ``(k', v')``           (optional)
* ``finalfn(results)`` — driver-side sink for the result dict (optional;
  without it the results print to stdout as ``key<TAB>value`` sorted by key)
* ``combinefn(a, b)``  — associative pairwise combiner enabling map-side
  partial aggregation (optional; no reference equivalent — its shuffle
  ships raw pairs, lua-mapreduce-client.lua:168-175)
* ``filterfn(key, value) -> bool`` — post-reduce filter applied before
  finalfn/output (optional; the reference's README TODO #5 "filter after
  reduce", which it never shipped — here it runs executor-side)

There is no host/port pair because Spark subsumes the TCP coordinator: the
cluster manager plays the server role and ``--master`` replaces the
connection arguments (SURVEY.md §2.2 F1-F9 mapping).
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import re
import sys
from typing import Any

from lua_mapreduce_spark.mapreduce import MapReduceJob


def load_task_module(path: str) -> Any:
    """Import a user task file from an arbitrary path.

    The module is registered with cloudpickle's pickle-by-value so the
    closures it defines serialize to executors even though workers cannot
    import the file by module name (the same problem the reference solves
    by shipping the whole task-file SOURCE to every client over TCP,
    lua-mapreduce-server.lua:269-291 — pickle-by-value is the Spark-native
    version of that).
    """
    mod_name = "lua_mapreduce_task_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(mod_name, path)
    if spec is None or spec.loader is None:
        raise SystemExit(f"cannot load task file: {path}")
    mod = importlib.util.module_from_spec(spec)
    sys.modules[mod_name] = mod
    spec.loader.exec_module(mod)
    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(mod)
    except Exception:
        pass  # older vendored cloudpickle: closures may still pickle by value
    return mod


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m lua_mapreduce_spark",
        description="Run a MapReduce task file on Spark "
        "(reference-equivalent of lua-mapreduce-server.lua -t).",
    )
    p.add_argument(
        "-t",
        "--task-file",
        required=True,
        action="append",
        help="path to a task-file module; repeatable — multiple task "
        "files run in sequence on ONE session (the reference's TODO #3, "
        "README.md:50: 'ability to send multiple task-files to the "
        "server'). With -o and several tasks, each writes to "
        "<output>/<task-stem>.",
    )
    p.add_argument("-a", "--arg", default=None, help="argument passed to taskfn")
    p.add_argument(
        "--master",
        default=os.environ.get("SPARK_MASTER", "local[*]"),
        help="Spark master URL (default: $SPARK_MASTER or local[*])",
    )
    p.add_argument("--num-partitions", type=int, default=None, help="shuffle partition count")
    p.add_argument(
        "-n",
        "--num-workers",
        type=int,
        default=None,
        help="worker parallelism — the reference client's -n flag "
        "(lua-mapreduce-client.lua:306-328 spawns N lanes); here it "
        "rewrites a local master to local[N]. Non-local masters ignore "
        "it (a real cluster sizes workers itself).",
    )
    p.add_argument(
        "-l",
        "--loglevel",
        default=None,
        choices=["all", "debug", "info", "warn", "error", "fatal", "off"],
        help="Spark log level — the reference server's -l flag "
        "(lua-mapreduce-server.lua:355); applied via "
        "sparkContext.setLogLevel after session start",
    )
    p.add_argument(
        "-o",
        "--output",
        default=None,
        help="write reduce output as parquet to this path (distributed sink; "
        "results never touch the driver) instead of printing to stdout",
    )
    p.add_argument(
        "--output-schema",
        default="key string, value long",
        help="DDL schema for --output rows (default: 'key string, value long')",
    )
    return p


def run_task_file(mod: Any, args: argparse.Namespace, spark: "Any") -> None:
    """Execute a loaded task module on an existing session (separated from
    main() so tests can drive it without owning session lifecycle)."""
    job = MapReduceJob(
        taskfn=mod.taskfn,
        mapfn=mod.mapfn,
        reducefn=getattr(mod, "reducefn", None),
        finalfn=getattr(mod, "finalfn", None),
        combinefn=getattr(mod, "combinefn", None),
        filterfn=getattr(mod, "filterfn", None),
        arg=args.arg,
        num_partitions=args.num_partitions,
    )
    if args.output is not None:
        # Scale path: the reduce output goes straight to a parquet sink,
        # executor-parallel; finalfn (driver-side by contract) is skipped.
        job.to_dataframe(spark, schema=args.output_schema).write.mode(
            "overwrite"
        ).parquet(args.output)
        return
    results = job.run(spark)
    if getattr(mod, "finalfn", None) is None:
        for key in sorted(results, key=str):
            print(f"{key}\t{results[key]}")


def resolve_master(master: str, num_workers: int | None) -> str:
    """Apply -n to PLAIN local masters only (`local`, `local[N]`,
    `local[*]`). `local-cluster[...]` simulates a distributed deployment
    and non-local masters size their own workers — both pass through."""
    if num_workers is None or not re.fullmatch(r"local(\[[^\]]*\])?", master):
        return master
    return f"local[{num_workers}]"


def main(argv: list[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    # Load + validate EVERY task module before the session spins up: a
    # typo in task 3 of 3 should fail fast, not after tasks 1-2 ran.
    mods = []
    for path in args.task_file:
        mod = load_task_module(path)
        for slot in ("taskfn", "mapfn"):
            if not callable(getattr(mod, slot, None)):
                raise SystemExit(
                    f"{path}: task file must define {slot}() (see module docstring)"
                )
        mods.append((path, mod))

    if args.num_workers is not None and args.num_workers < 1:
        parser.error("-n/--num-workers must be >= 1")
    if args.output is not None and len(mods) > 1:
        # Per-task output dirs are keyed by file STEM; two task files named
        # e.g. a/job.py and b/job.py would silently overwrite each other's
        # <output>/job — fail fast instead.
        stems = [os.path.splitext(os.path.basename(p))[0] for p, _ in mods]
        dupes = sorted({s for s in stems if stems.count(s) > 1})
        if dupes:
            parser.error(
                "duplicate task-file stem(s) with -o would overwrite each "
                f"other's output dir: {', '.join(dupes)} — rename the task "
                "files or run them in separate invocations"
            )
    master = resolve_master(args.master, args.num_workers)

    from pyspark.sql import SparkSession

    from lua_mapreduce_spark.session import BUILD_CONFS

    names = ", ".join(os.path.basename(p) for p, _ in mods)
    spark = (
        SparkSession.builder.master(master)
        .appName(f"lua-mapreduce: {names}")
        .config(map=BUILD_CONFS)
        .getOrCreate()
    )
    if args.loglevel is not None:
        spark.sparkContext.setLogLevel(args.loglevel.upper())
    try:
        for path, mod in mods:
            task_args = args
            if args.output is not None and len(mods) > 1:
                stem = os.path.splitext(os.path.basename(path))[0]
                task_args = argparse.Namespace(**vars(args))
                task_args.output = os.path.join(args.output, stem)
            run_task_file(mod, task_args, spark)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
