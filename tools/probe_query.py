"""Isolated fresh-process single-query probe — the r12 adjudication
discipline, now a tool instead of an ad-hoc snippet.

When a bench line drifts on an UNTOUCHED plan, the in-process sweep
cannot distinguish a plan regression from bench-position contention
(registry growth moving which query pays a shared memoized build, GC /
code-cache pressure, host noise). This probe answers it mechanically:
one fresh python+JVM per invocation, the bench's own session build,
warmup and calibration probe, then N timed runs of EXACTLY ONE
registry query. Compare the probe median against the line's recorded
fresh-process expectation in BASELINE.md; record the verdict there.

Usage:
    python tools/probe_query.py QUERY [--runs N] [--sf SF_DIR]

Prints one JSON line: {"query", "sf", "calib": [start, end],
"runs": [...], "median": s, "compiles": [...], "compile_ms": [...]}.
``compiles``/``compile_ms`` are the generated classes Janino compiled
during each timed run and the time it took (Spark's ``CodegenMetrics`` and
``CodeGenerator.compileTime``): a warm run of a query whose classes fit the
generated-code cache compiles nothing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument(
        "--sf",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()

    from bench import (
        _build_session,
        _calibration_probe,
        _median_time,
        _warm_session,
    )
    from lua_mapreduce_spark.operators import QUERIES
    from lua_mapreduce_spark.session import codegen_compiles

    if args.query not in QUERIES:
        sys.exit(f"unknown query: {args.query}")

    spark = _build_session(f"probe-{args.query}")
    _warm_session(spark, args.sf)
    _calibration_probe(spark)
    calib_start = statistics.median(
        _median_time(lambda: _calibration_probe(spark))
    )
    compiles: list[tuple[int, float]] = []

    def run_once() -> None:
        before = codegen_compiles(spark)
        QUERIES[args.query](spark, args.sf).collect()
        after = codegen_compiles(spark)
        compiles.append((after[0] - before[0], after[1] - before[1]))

    runs = _median_time(run_once, args.runs)
    calib_end = statistics.median(
        _median_time(lambda: _calibration_probe(spark))
    )
    print(
        json.dumps(
            {
                "query": args.query,
                "sf": args.sf,
                "calib": [round(calib_start, 3), round(calib_end, 3)],
                "runs": [round(t, 3) for t in runs],
                "median": round(statistics.median(runs), 3),
                "compiles": [n for n, _ in compiles],
                "compile_ms": [round(ms, 1) for _, ms in compiles],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
