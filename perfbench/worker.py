"""One benchmark process: build a Spark session, run a workload as a closed
loop with one client, check every answer, and write a result file.

``run.py`` starts this script in a fresh process for every measurement; it
is not meant to be run by hand::

    python perfbench/worker.py --probe --out FILE
    python perfbench/worker.py --workload W --data DIR --truth FILE \\
        --seed N --seconds S --trace 0|1 --out FILE

``--probe`` only sets up (session, runtime configuration, registry import)
and exits, so the set-up time can be sampled several times per run.

One pass runs every query of the workload once: ``QUERIES[name](spark,
dir)`` builds the DataFrame (construct), ``collect`` executes it. The first
pass runs in list order in the fresh process (cold). Warm passes follow in
seed-permuted order: first one settling pass (the JIT is still warming up,
so it runs slower than later passes and by a varying amount; its answers
are checked but its times are not measured), then as many measured passes
as fit in ``--seconds`` at the workload's nominal pass time
(``workloads.measured_passes``), at least three. A traced run makes at
least four measured passes, traced and untraced alternating so the tracing
overhead can be measured. Answers are digested after each pass is timed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import operator
import os
import random
import re
import resource
import statistics
import sys
import time
import traceback
from decimal import Decimal

import workloads

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORD_RE = re.compile(r"[A-Za-z]+")


def setup() -> tuple:
    t0 = time.perf_counter()
    from lua_mapreduce_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from lua_mapreduce_spark.operators import ORACLES, QUERIES

    t2 = time.perf_counter()
    return spark, QUERIES, ORACLES, {
        "ready": time.monotonic(),
        "session.build_s": t1 - t0,
        "operators.import_s": t2 - t1,
    }


# -- the mr_corpus jobs ----------------------------------------------------
def _words_mapfn(key, text):
    for token in text.split():
        for word in _WORD_RE.findall(token):
            yield word.lower(), 1


def _sum_reducefn(key, values):
    yield key, sum(values)


def mr_items(spark, queries, data_dir: str, shards: str) -> dict:
    """name -> build(spark) for the five jobs of an mr_corpus pass. A build
    returns a DataFrame, or a zero-argument action for jobs that run on
    the driver (``MapReduceJob.run``)."""
    from lua_mapreduce_spark import catalog
    from lua_mapreduce_spark.__main__ import load_task_module
    from lua_mapreduce_spark.mapreduce import MapReduceJob

    def combiner(spark):
        # Looked up per call, so traced runs see the traced load_table.
        docs = catalog.load_table(spark, data_dir, "documents").select("doc_id", "text")
        job = MapReduceJob(source_df=docs, mapfn=_words_mapfn, reducefn=_sum_reducefn,
                           combinefn=operator.add)
        return job.to_dataframe(spark, schema="word string, cnt long")

    def task_file(spark):
        task = load_task_module(os.path.join(REPO, "examples", "wordcount_task.py"))
        final = {}
        job = MapReduceJob(taskfn=task.taskfn, mapfn=task.mapfn, reducefn=task.reducefn,
                           finalfn=final.update, arg=shards)
        return lambda: (job.run(spark), final)[1]

    # Looked up now, so a name missing from the registry fails the set-up.
    holistic, grep, native = (queries[n] for n in ("mr_wordcount", "mr_grep_count",
                                                   "text_wordcount"))
    return {
        "mr_wordcount": lambda spark: holistic(spark, data_dir),
        "mr_wordcount_combiner": combiner,
        "mr_grep_count": lambda spark: grep(spark, data_dir),
        "wordcount_task": task_file,
        "text_wordcount": lambda spark: native(spark, data_dir),
    }


# -- answers -----------------------------------------------------------------
def _norm(v):
    if isinstance(v, (float, Decimal)):
        v = float(v)
        return "NaN" if math.isnan(v) else float(f"{v:.9g}") + 0.0
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def digest(columns: list[str], rows) -> str:
    """Order-insensitive, float-rounded digest of a result, columns matched
    by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    body = "\n".join([repr(sorted(columns))] + lines)
    return hashlib.sha1(body.encode()).hexdigest()


def truth_digests(workload: str, truth: dict) -> dict:
    if workload != "mr_corpus":
        return {}
    words = digest(["word", "cnt"], list(truth["word_counts"].items()))
    grep = digest(["source", "n_matching"], list(truth["grep_counts"].items()))
    return {name: grep if name == "mr_grep_count" else words for name in workloads.MR_JOBS}


def oracle_digests(names, oracles: dict, data_dir: str) -> dict:
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for name in names:
        if name in oracles:
            rel = con.sql(oracles[name])
            out[name] = digest(list(rel.columns), rel.fetchall())
    con.close()
    return out


# -- the loop ----------------------------------------------------------------
def execute(tracer, spark, name: str, build, qid: str) -> tuple:
    """Construct and collect one query; returns (construct_s, collect_s,
    columns, rows)."""
    from pyspark.sql import DataFrame

    with tracer.query(qid, name) as qspan:
        t0 = time.perf_counter()
        with tracer.span("construct", query=name):
            out = build(spark)
        t1 = time.perf_counter()
        with tracer.span("collect", query=name):
            if isinstance(out, DataFrame):
                columns, rows = out.columns, out.collect()
            else:
                columns, rows = ["word", "cnt"], list(out().items())
        t2 = time.perf_counter()
        if qspan is not None and isinstance(out, DataFrame):
            qspan["catalyst_ms"] = tracer.catalyst_ms(out)
    return t1 - t0, t2 - t1, columns, rows


def install_wrappers(tracer) -> None:
    """Trace ``catalog.load_table`` at every module that imported it by
    name, and every ``MapReduceJob`` action."""
    from lua_mapreduce_spark import catalog
    from lua_mapreduce_spark.mapreduce import MapReduceJob

    original = catalog.load_table
    traced = tracer.wrap(original, "catalog.load_table")
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("lua_mapreduce_spark") and \
                getattr(mod, "load_table", None) is original:
            mod.load_table = traced

    def kind(job, *args):
        if job.taskfn is not None:
            return {"mapreduce": "taskfn"}
        if job.combinefn is None:
            return {"mapreduce": "holistic"}
        # grep has a combiner too, but emits one pair per matching document,
        # not one per word; it is kept apart so the combiner word count can
        # be compared with the holistic one.
        return {"mapreduce": "grep" if tracer.query_name() == "mr_grep_count" else "combiner"}

    MapReduceJob.run = tracer.wrap(MapReduceJob.run, "mapreduce.run", kind)
    MapReduceJob.to_dataframe = tracer.wrap(MapReduceJob.to_dataframe,
                                            "mapreduce.to_dataframe", kind)


def run(args) -> dict:
    from tracing import Tracer, median_metrics

    spark, queries, oracles, setup_info = setup()
    names = workloads.WORKLOADS[args.workload]
    with open(args.truth, encoding="utf-8") as fh:
        truth = json.load(fh)
    if args.workload == "mr_corpus":
        items = mr_items(spark, queries, args.data, truth["shards"])
    else:
        missing = [n for n in names if n not in queries]
        if missing:
            raise SystemExit(f"frozen queries missing from the registry: {missing}")
        items = {n: (lambda spark, n=n: queries[n](spark, args.data)) for n in names}

    tracer = Tracer(spark)
    if args.trace:
        install_wrappers(tracer)

    rng = random.Random(args.seed)
    n_passes = 2 + workloads.measured_passes(args.workload, args.seconds, bool(args.trace))
    passes = []  # per pass: {"wall", "traced", "samples": [(name, construct, collect)]}
    results = {}  # name -> [(pass, digest | None, error | None)]
    while len(passes) < n_passes:
        p = len(passes)
        order = names if p == 0 else rng.sample(names, len(names))
        # Traced run: the cold pass, the untraced settling pass, then
        # measured passes traced, untraced, untraced, traced, ... so a drift
        # across passes cancels out of the overhead ratio.
        tracer.enabled = bool(args.trace) and (p == 0 or (p >= 2 and (p - 2) % 4 in (0, 3)))
        if tracer.enabled:
            tracer.pass_start()
        samples = []
        answers = []  # (name, columns, rows), digested once the pass is timed
        t0 = time.perf_counter()
        for name in order:
            try:
                c, e, columns, rows = execute(tracer, spark, name, items[name], f"{p}:{name}")
            except Exception:
                results.setdefault(name, []).append((p, None, traceback.format_exc(limit=3)))
                continue
            answers.append((name, columns, rows))
            samples.append((name, c, e))
        wall = time.perf_counter() - t0
        for name, columns, rows in answers:
            results.setdefault(name, []).append((p, digest(columns, rows), None))
        layer = tracer.pass_end(wall) if tracer.enabled else None
        passes.append({"wall": wall, "traced": tracer.enabled, "samples": samples, "layer": layer})
        tracer.enabled = False

    # Correctness, outside the timed passes: every execution must match the
    # generator's answer, else the DuckDB oracle's, else the first answer.
    refs = oracle_digests(names, oracles, args.data)
    refs.update(truth_digests(args.workload, truth))
    attempted = failed = 0
    mismatches = []
    for name, runs in results.items():
        ref = refs.get(name) or next((d for _, d, _ in runs if d), None)
        for p, d, err in runs:
            attempted += 1
            if d is None or d != ref:
                failed += 1
                mismatches.append({"query": name, "pass": p, "error": err or "wrong answer"})

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status", encoding="ascii") as fh:
        vmhwm_kb = int(re.search(r"VmHWM:\s+(\d+)", fh.read()).group(1))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss

    out = {
        "setup": setup_info,
        "passes": passes,
        "attempted": attempted,
        "failed": failed,
        "mismatches": mismatches,
        "peak_rss_mb": (vmhwm_kb + py_kb) / 1024,
    }
    if args.trace:
        traced = [p["layer"] for p in passes[1:] if p["traced"]]
        layer = median_metrics(traced)
        cold = passes[0]["layer"]
        layer["operators.cold_extra_s"] = cold["operators.construct_s"] - layer["operators.construct_s"]
        counts = ("operators.eager_jobs", "exec.jobs", "exec.tasks", "catalog.load_table_calls")
        layer["trace.counts_repeat"] = float(all(
            len({t[k] for t in traced}) == 1 for k in counts))
        untraced = [p["wall"] for p in passes[2:] if not p["traced"]]
        layer["trace.overhead"] = statistics.median(p["wall"] for p in passes[2:] if p["traced"]) \
            / statistics.median(untraced)
        out["layer"] = layer
        tracer.write(args.trace_file)
    spark.stop()
    return out


def probe() -> dict:
    spark, _, _, info = setup()
    spark.stop()
    return {"setup": info}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--probe", action="store_true")
    p.add_argument("--workload")
    p.add_argument("--data")
    p.add_argument("--truth")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--trace-file")
    p.add_argument("--out", required=True)
    args = p.parse_args()
    result = probe() if args.probe else run(args)
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
