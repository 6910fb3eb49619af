#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q1_pricing_summary": sec, ...}, "sf": <sf>, ...}

Each query is timed end-to-end (plan + execute + collect) THREE times and
reported as the per-query MEDIAN — BASELINE.md documents ±30% host noise
on single runs, and medians make round-over-round deltas reflect plan
changes, not scheduler jitter. Per-run detail (spread + raw timings, the
stall-vs-regression triage data) is written to bench_detail.json beside
this script; the printed line carries medians only, with the headline
SCALARS (metric/value/value_r1/calibration) LAST in key order because
the round harness keeps just the TAIL of stdout — r8/r9's recorded
tails were head-truncated mid-line and lost the scalars when they led.
Results are small aggregates so collect cost is negligible. The headline
set spans the engine's operator families: scan+agg, multi-join, window,
text, dedup (MinHash-LSH), similarity (cosine top-k), event-time
sessionization.

Since round 7 the line also carries "queries_extended": a timed pass over
EVERY other registered query (streaming drains, multimodal decodes,
window_*/scalar_*, MapReduce layer) — a whole-registry regression radar.
It is excluded from "value", and a per-query failure records -1.0 instead
of aborting the bench. Since round 9 the slowest extended queries report
3-run medians — a single contended run was indistinguishable from a plan
regression — while the cheap bulk stays single-pass; a line is slow when
its slowest run in the last record at the same sf took at least 1 s
(_extended_runs_for).

PROCESS ISOLATION (round 14): the headline block and the extended sweep
run in SEPARATE fresh python+JVM processes (r13's verdict: sharing one
JVM let the 200+-query sweep move value_r1 10-30% via GC/code-cache
pressure, forcing a calibration essay every round — now the probe IS the
protocol). The orchestrator (no SPARK_GRAFT_BENCH_PHASE set) spawns one
child per phase and merges; each phase carries its own calibration pair.
SPARK_GRAFT_BENCH_INPROC=1 restores the old single-process mode for
quick iteration.

COMPARABILITY (round 10): HEADLINE has GROWN round-over-round (21 names
in r1 → 80+ now), so "value" (sum of current headline medians) is NOT a
cross-round series — it re-baselines whenever the set grows. The numbers
that ARE comparable across rounds:
  - "value_r1": the sum over HEADLINE_R1, the frozen 21-query round-1
    headline set. This is the round-trend row.
  - "calibration": a fixed, never-changing probe query timed at bench
    start and end (3-run medians each). Dividing any query's median by
    the probe median separates host drift from plan changes mechanically
    — round 9's graph-family scare (recorded 1.7-2.1× r8, re-measured at
    or below r8 on a quiet host) is exactly the failure mode this line
    removes.
Per-query medians remain comparable individually whenever the query's
code didn't change.

The tail also carries "skew_join_events": the same genuinely-skewed join
(events fact joined to a per-event_type dim — 5 hot keys, so hash
partitioning alone leaves ~5 of 32 reducers doing all the work) executed
two ways on identical input: the explicit salted rewrite and AQE's
skew-join split, both with broadcast disabled so the skew actually reaches
the shuffle. aqe_skew_split records whether AQE's OptimizeSkewedJoin
engaged (read from the executed plan). The AQE path lowers the skew
thresholds to engage at benchmark data volume; at production scale the
defaults (256 MB partitions) trigger on real skew unmodified.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_revenue",
    "q18_large_orders",
    "agg_distinct_counts",
    "agg_grouping_sets",
    "window_topk_per_group",
    "sort_topk_orders",
    "asof_join_attribution",
    "join_skew_salted",
    "text_wordcount",
    "text_bigrams",
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_cosine_topk",
    "sim_ann_multitable",
    "sim_ivf_topk",
    "events_session_windows",
    "events_tumbling_hourly",
    "events_funnel_conversion",
    # Round 3 additions — the curation + multimodal surfaces get measured
    # too (like-for-like round deltas compare the shared prefix).
    "text_decontaminate",
    "text_tfidf",
    "curation_sample_mixture",
    "multimodal_audio_features",
    # Round 5 additions — the rest of the curation family, so regressions
    # in the newest surface show up round-over-round.
    "text_inverted_index",
    "curation_pack_sequences",
    "text_boilerplate_ngrams",
    "curation_shuffle_shards",
    "text_decontaminate_fuzzy",
    "events_anomaly_hours",
    # Round 6 additions — the scale-technique surface (bloom semi-join
    # reduction, exact-quota stratified sampling, z-order keys, int8
    # quantized similarity, bitmap exact-distinct).
    "join_bloom_prefilter",
    "curation_stratified_sample",
    "layout_zorder_keys",
    "sim_quantized_topk",
    "agg_bitmap_distinct",
    # Round 6 additions, part 2 — the corpus-hygiene surface (substring
    # dedup, SemDeDup, PII scrub).
    "dedup_substring_windows",
    "dedup_semantic_semdedup",
    "curation_pii_scrub",
    "text_unigram_rarity",
    "multimodal_phash_dedup",
    # Round 6 additions, part 3 — the analytics surface (iterative graph
    # centrality over the 4-table trade join; two-level continuous
    # aggregate). Both are scan-bound shapes at real scale, so their
    # timings track the engine's join/agg throughput directly.
    "graph_pagerank_nations",
    "agg_hypertable_rollup",
    "sim_pq_adc_topk",
    "dedup_jaccard_prefix_join",
    # Round 6 additions, part 4 — the late-round analytics/curation wave.
    "graph_triangle_count",
    "dedup_incremental_ingest",
    "text_collocations",
    "agg_countmin_sketch",
    "multimodal_scene_cuts",
    "window_ewma_dyadic",
    "events_markov_transitions",
    "graph_kcore_peel",
    # Round 7 additions — the new scale-technique + analytics waves, plus
    # the re-gated embedding-cosine dedup (semantics changed in r7, so its
    # timing series restarts here).
    "agg_bitmap_intersect",
    "range_join_binned",
    "agg_vector_centroids",
    "curation_length_buckets",
    "graph_label_propagation",
    "events_market_basket",
    "text_count_of_counts",
    "text_postings_delta",
    "diag_key_skew_profile",
    "events_seasonal_decompose",
    "events_path_analysis",
    "dedup_embedding_cosine",
    # Round 9 additions — representative slice of the r8/r9 waves
    # (fuzzy joins, SCD2, robust stats, data-quality audit, compaction
    # planning), so the newest surface gets 3-run-median series too.
    "text_keyword_extraction",
    "events_rfm_segments",
    "dedup_simhash_pairs",
    "dedup_edit_distance_join",
    "join_scd2_point_in_time",
    "graph_bfs_distances",
    "diag_constraint_audit",
    "agg_chisquare_contingency",
    "events_mad_outliers",
    "layout_compaction_bins",
]

# The FROZEN round-1 headline set (the 21 queries BENCH_r01.json timed).
# Its subtotal is printed as "value_r1" — the only headline total that is
# comparable across every round, since HEADLINE itself grows.
HEADLINE_R1 = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_revenue",
    "q18_large_orders",
    "agg_distinct_counts",
    "agg_grouping_sets",
    "window_topk_per_group",
    "sort_topk_orders",
    "asof_join_attribution",
    "join_skew_salted",
    "text_wordcount",
    "text_bigrams",
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_cosine_topk",
    "sim_ivf_topk",
    "events_session_windows",
    "events_tumbling_hourly",
    "events_funnel_conversion",
]

N_RUNS = 3
_SKEW_SALT = 8


def _calibration_probe(spark) -> None:
    """Fixed host-speed probe — NEVER change this query: its round-over-
    round ratio is the mechanical host-drift normalizer for every other
    timing in this file. Shape chosen to touch the three cost centers the
    registry exercises (codegen'd agg over a shuffle, string building,
    sort) without reading any table, so it is identical at every sf."""
    from pyspark.sql import functions as F

    spark.range(2_000_000).selectExpr(
        "CAST(id % 4096 AS STRING) AS k",
        "id % 97 AS v",
    ).groupBy("k").agg(
        F.expr("CAST(SUM(v) AS BIGINT)").alias("sv"),
        F.count(F.lit(1)).alias("n"),
    ).orderBy("k").collect()

# Extended-tier lines promoted to N_RUNS medians: a slow line's single
# contended run is indistinguishable from a plan regression (r8's
# streaming_user_totals read 3.0 -> 6.9 s with zero code change), while
# the cheap bulk stays single-pass. The rule is data, not a hand list: a
# line is promoted when its slowest run in the last bench_history.jsonl
# record at the same sf took at least _PROMOTE_S, or when that record has
# no run of it (new, failed, or a record older than "extended_slowest").
# The slowest run, not the median: a line whose first run pays a cold
# build (a memoized substrate, a Python DataSource worker) keeps its
# median, so its single pass never records the cold run.
_PROMOTE_S = 1.0
_HISTORY = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_history.jsonl")


def _sf_value(sf_dir: str):
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return float(sf) if sf.replace(".", "", 1).isdigit() else sf


def _last_slowest(sf_val, history_path: str = _HISTORY) -> dict[str, float]:
    """Every extended line's slowest run in the last history record at
    ``sf_val``."""
    last: dict[str, float] = {}
    if os.path.exists(history_path):
        with open(history_path) as fh:
            for line in fh:
                rec = json.loads(line)
                if rec.get("sf") == sf_val:
                    last = rec.get("extended_slowest", {})
    return last


def _extended_runs_for(name: str, last: dict[str, float]) -> int:
    t = last.get(name)
    return N_RUNS if t is None or t >= _PROMOTE_S else 1


# Family subtotals (round 12): the 230-entry total mixes 3-run medians,
# single-run radar lines, and restart harnesses — per-family rollups make
# round-over-round comparison legible without re-deriving which individual
# entries moved. Families are derived from the registry's naming
# convention (everything benched is either a query name or a *_build
# line from the cold/warm splits above).
_FAMILY_BY_PREFIX = {
    "q": "tpch",  # q1..q22 TPC-H shapes (digit-checked below)
    "tpch": "tpch",
    "agg": "relational",
    "join": "relational",
    "window": "relational",
    "sort": "relational",
    "setop": "relational",
    "scalar": "relational",
    "pivot": "relational",
    "unpivot": "relational",
    "range": "relational",
    "asof": "relational",
    "interval": "relational",
    "skew": "relational",
    "udaf": "udf",
    "udf": "udf",
    "udtf": "udf",
    "mr": "mapreduce",
    "text": "text",
    "dedup": "dedup",
    "semdedup": "dedup",
    "graph": "graph",
    "copurchase": "graph",
    "basket": "events",
    "events": "events",
    "streaming": "streaming",
    "layout": "layout",
    "sim": "similarity",
    "multimodal": "multimodal",
    "curation": "curation",
    "hygiene": "curation",
    "diag": "diag",
    "source": "sources",
    "sink": "sources",
    "subquery": "relational",
    "sample": "curation",
    "upsert": "pipeline",
    "ivm": "pipeline",
    "cdc": "pipeline",
}


def _family(name: str) -> str:
    head = name.split("_", 1)[0]
    if head[:1] == "q" and head[1:].isdigit():
        return "tpch"
    return _FAMILY_BY_PREFIX.get(head, "other")


def _family_subtotals(*timing_dicts: dict) -> dict[str, float]:
    subtotals: dict[str, float] = {}
    for d in timing_dicts:
        for name, sec in d.items():
            if sec is None or sec < 0:  # -1.0 = failed radar line
                continue
            fam = _family(name)
            subtotals[fam] = subtotals.get(fam, 0.0) + sec
    return {fam: round(sec, 3) for fam, sec in sorted(subtotals.items())}

# Extended tier (round 7+): EVERY registered query not in the headline set,
# timed with a single pass each — a per-family regression radar over the
# whole registry (streaming drains, multimodal decodes, window_*, scalar_*,
# MapReduce layer), not a headline metric. Single-run because the families
# it covers are dominated by fixed costs (stream drain wall-clock, Arrow
# batch startup) that are stable round-over-round; the headline set keeps
# its 3-run medians and remains the number compared against BASELINE.md.
# Computed at runtime so new queries are covered the round they land.


def _skew_queries(spark, sf_dir):
    """(salted_fn, aqe_fn): the same skewed aggregation-join built two
    ways. Fact = events (sf0.1: 100k rows over 5 event_type keys); dim =
    per-type average. Both force a shuffle join (no broadcast) so the 5-key
    skew reaches the reducers; results are identical."""
    from pyspark.sql import functions as F

    from lua_mapreduce_spark.catalog import load_table

    # Join key = coarse category with a dominant catch-all ('other' holds
    # ~60% of rows): the realistic hot-key shape. (The raw event_type's 5
    # keys are EQUALLY hot — skew relative to the median is what AQE
    # detects, and a uniformly-hot join correctly doesn't qualify.)
    cat = (
        F.when(F.col("event_type") == "signup", "signup")
        .when(F.col("event_type") == "purchase", "purchase")
        .otherwise("other")
    )

    def base():
        from lua_mapreduce_spark.catalog import parallelize_scan

        # AQE splits a skewed reduce partition along MAP-OUTPUT boundaries:
        # a single-file local scan has ONE mapper, leaving nothing to split
        # regardless of thresholds. parallelize_scan restores the
        # many-mapper shape a real (multi-split) input always has.
        ev = parallelize_scan(spark, load_table(spark, sf_dir, "events")).withColumn(
            "cat", cat
        )
        # Materialize the 3-row dim: OptimizeSkewedJoin only rewrites a
        # sort-merge join whose children sit DIRECTLY on shuffle stages;
        # leaving the dim as a lazy aggregate would put a HashAggregate
        # between the join and its shuffle and silently disqualify it.
        dim = (
            ev.groupBy(F.col("cat").alias("d_cat"))
            .agg(F.count(F.lit(1)).alias("cat_n"))
            .localCheckpoint(eager=True)
        )
        return ev, dim

    # Post-join aggregation is on user_id, NOT the join key: reusing the
    # join's event_type partitioning downstream would make AQE (correctly)
    # decline to split skewed partitions, since splitting would force an
    # extra shuffle. Aggregating on a different key frees it to split —
    # and mirrors the realistic enrich-then-rollup pipeline shape.
    def salted():
        ev, dim = base()
        fact = ev.withColumn("salt", F.pmod(F.col("event_id"), F.lit(_SKEW_SALT)))
        dim_rep = dim.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(_SKEW_SALT - 1)))
        )
        return (
            fact.join(
                dim_rep,
                (fact["cat"] == dim_rep["d_cat"])
                & (fact["salt"] == dim_rep["salt"]),
            )
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.max("cat_n").alias("max_cat_n"))
        )

    def plain():
        ev, dim = base()
        return (
            ev.join(dim, ev["cat"] == dim["d_cat"])
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.max("cat_n").alias("max_cat_n"))
        )

    return salted, plain


def _with_confs(spark, confs):
    saved = {k: spark.conf.get(k, None) for k in confs}

    def restore():
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    for k, v in confs.items():
        spark.conf.set(k, v)
    return restore

def _median_time(fn, runs=N_RUNS):
    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return times


def _skew_bench(spark, sf_dir) -> dict:
    salted, plain = _skew_queries(spark, sf_dir)
    no_bcast = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    restore = _with_confs(spark, no_bcast)
    try:
        salted_times = _median_time(lambda: salted().collect())
    finally:
        restore()
    aqe_confs = dict(no_bcast)
    aqe_confs.update(
        {
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32k",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32k",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        }
    )
    restore = _with_confs(spark, aqe_confs)
    try:
        aqe_df = None

        def run_aqe():
            nonlocal aqe_df
            aqe_df = plain()
            aqe_df.collect()

        aqe_times = _median_time(run_aqe)
        plan = aqe_df._jdf.queryExecution().executedPlan().toString()
        skew_split = "skew=true" in plan
    finally:
        restore()
    return {
        "salted_sec": round(statistics.median(salted_times), 3),
        "aqe_sec": round(statistics.median(aqe_times), 3),
        "aqe_skew_split": skew_split,
        "salt_factor": _SKEW_SALT,
    }


def _build_session(app: str):
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    from lua_mapreduce_spark.session import BUILD_CONFS, configure_runtime

    spark = configure_runtime(
        SparkSession.builder.appName(app)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config(map=BUILD_CONFS)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm_session(spark, sf_dir: str) -> None:
    """Warm the JVM/codegen paths and parquet footers once so the first
    timed query doesn't absorb one-time startup cost. The regex-tokenize
    warmup matters most: java.util.regex + UTF8String hot loops take ~2s
    of C2 JIT before they hit steady-state throughput."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(500_000).selectExpr(
        "sum(CAST(id % 10000 AS DECIMAL(12,2)) * (1 - CAST(0.05 AS DECIMAL(3,2))))"
    ).collect()
    spark.range(200_000).selectExpr(
        "explode(regexp_extract_all(concat('warm jit ', CAST(id AS STRING), ' path'),"
        " '([A-Za-z]+)', 1)) AS w"
    ).groupBy("w").count().collect()
    from lua_mapreduce_spark.catalog import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).limit(1).collect()


def _cold_builds() -> dict[str, list[tuple]]:
    """Headline query -> [(build line, memoized builder, *extra args)].

    Each builder is a shared build-once relation that would otherwise be
    charged to whichever query touched it first. The headline loop drops
    the query's builders from the memo registry, times each cold build
    as its own line, then times the query itself steady-state. The
    co-purchase DERIVED relations are timed apart from the edge list:
    they used to be charged silently to whichever graph query touched
    them first (~1.6 s misattributed to the r9 graph-family
    "regression"). Line names are a series in bench_history.jsonl: keep
    them stable."""
    from lua_mapreduce_spark.operators.analytics2 import _mb_items
    from lua_mapreduce_spark.operators.dedup import _minhash_signatures
    from lua_mapreduce_spark.operators.graph import (
        _copurchase_derived,
        _copurchase_pairs,
    )
    from lua_mapreduce_spark.operators.hygiene import _semdedup_cells
    from lua_mapreduce_spark.operators.similarity import _km_centroids

    return {
        "dedup_minhash_lsh": [("dedup_minhash_signature_build", _minhash_signatures)],
        "dedup_semantic_semdedup": [("semdedup_cells_build", _semdedup_cells)],
        "graph_triangle_count": [
            ("copurchase_edges_build", _copurchase_pairs),
            ("copurchase_deg_build", _copurchase_derived, "deg"),
            ("copurchase_sym_build", _copurchase_derived, "sym"),
        ],
        "events_market_basket": [("basket_items_build", _mb_items)],
        "sim_ivf_topk": [("sim_ivf_centroid_train", _km_centroids)],
    }


def _headline_phase(sf_dir: str) -> dict:
    """The headline block — 3-run medians over HEADLINE plus the
    calibration pair and the skew A/B — in whatever JVM calls it. Run
    via the phase protocol (below) it gets a FRESH process: r13 showed
    the 200+-query extended sweep sharing the JVM moves value_r1 by
    10-30% through GC/code-cache pressure, so since r14 the probe IS
    the protocol — headline timings never share a JVM with the sweep."""
    spark = _build_session("lua-mapreduce-spark-bench-headline")
    _warm_session(spark, sf_dir)

    from lua_mapreduce_spark.operators import QUERIES

    # Host-speed calibration, START sample: one untimed JIT pass, then
    # N_RUNS timed. Re-sampled at bench END; the pair brackets the run so
    # cross-round normalization (and within-run drift) is mechanical.
    _calibration_probe(spark)
    calib_start = _median_time(lambda: _calibration_probe(spark))

    from lua_mapreduce_spark import memo

    cold_builds = _cold_builds()

    # One full UNTIMED pass over the headline set before the timed runs:
    # each query's first execution absorbs one-time costs that are not plan
    # properties (C2 JIT of its codegen'd stages, parquet footer/page-index
    # reads, shuffle-service file creation, per-sf_dir derived caches).
    # Round-4 showed the symptom of timing them: sim_ann_multitable's
    # worst run was 37 s against a 1.6 s best — a 17× spread that reads
    # like a skewed bucket but was first-run warmup. Timed stats now start
    # from a warm JVM; the *_build lines below still measure their cold
    # builds explicitly (caches are cleared inside the timed loop).
    for name in HEADLINE:
        QUERIES[name](spark, sf_dir).collect()

    raw: dict[str, list[float]] = {}
    for _ in range(N_RUNS):
        for name in HEADLINE:
            builds = cold_builds.get(name)
            if builds:
                memo.clear(*(fn for _, fn, *_ in builds))
                for line, fn, *args in builds:
                    t0 = time.perf_counter()
                    fn(spark, sf_dir, *args).count()
                    raw.setdefault(line, []).append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).collect()
            raw.setdefault(name, []).append(time.perf_counter() - t0)

    timings = {n: round(statistics.median(ts), 3) for n, ts in raw.items()}
    spread = {
        n: {"min": round(min(ts), 3), "max": round(max(ts), 3)}
        for n, ts in raw.items()
    }
    # Raw per-run timings, in execution order: a host-contention stall
    # shows up as ONE inflated run (usually the same wall-clock window
    # across several queries), while a real plan regression inflates every
    # run. Judges/rounds can tell the two apart without re-running.
    runs_detail = {n: [round(t, 3) for t in ts] for n, ts in raw.items()}

    skew = _skew_bench(spark, sf_dir)

    # Host-speed calibration, END sample — brackets the HEADLINE block
    # (since r14 the extended sweep runs in its own process with its own
    # pair), so start/end drift reads on exactly the timings it wraps.
    calib_end = _median_time(lambda: _calibration_probe(spark))
    calibration = {
        "start_sec": round(statistics.median(calib_start), 3),
        "end_sec": round(statistics.median(calib_end), 3),
        "start_runs": [round(t, 3) for t in calib_start],
        "end_runs": [round(t, 3) for t in calib_end],
    }
    return {
        "timings": timings,
        "spread": spread,
        "runs_detail": runs_detail,
        "calibration": calibration,
        "skew_join_events": skew,
    }


def _extended_phase(sf_dir: str) -> dict:
    """The whole-registry radar sweep in its own JVM (phase protocol):
    one timed pass over every non-headline registered query — EXCEPT the
    promoted slow set (_extended_runs_for), which gets N_RUNS passes and
    a median so host contention can't masquerade as a plan regression.
    Per-query errors are recorded as -1.0 rather than aborting the whole
    bench (the correctness gate, not the bench, owns failures). Carries
    its own calibration pair so its lines normalize independently of the
    headline process."""
    spark = _build_session("lua-mapreduce-spark-bench-extended")
    _warm_session(spark, sf_dir)

    from lua_mapreduce_spark.operators import QUERIES

    _calibration_probe(spark)
    calib_start = _median_time(lambda: _calibration_probe(spark))

    last = _last_slowest(_sf_value(sf_dir))
    extended: dict[str, float] = {}
    extended_runs_detail: dict[str, list[float]] = {}
    for name in sorted(QUERIES):
        if name in HEADLINE:
            continue
        ts: list[float] = []
        try:
            for _ in range(_extended_runs_for(name, last)):
                t0 = time.perf_counter()
                QUERIES[name](spark, sf_dir).collect()
                ts.append(time.perf_counter() - t0)
            extended[name] = round(statistics.median(ts), 3)
            extended_runs_detail[name] = [round(t, 3) for t in ts]
        except Exception as exc:  # noqa: BLE001 — radar line, never fatal
            print(f"extended bench {name} failed: {exc!r}", file=sys.stderr)
            extended[name] = -1.0

    calib_end = _median_time(lambda: _calibration_probe(spark))

    # Restart-harness split for the streaming Python DataSource drain: its
    # bench line is dominated by n_pages+1 checkpoint-recovery restarts
    # (the POINT of the face — exactly-once across restarts), not read
    # cost; record both so nobody mistakes harness cost for a plan flaw.
    from lua_mapreduce_spark.operators import sources_ops as _sops

    return {
        "extended": extended,
        "extended_runs_detail": extended_runs_detail,
        "extended_slowest": {n: max(ts) for n, ts in extended_runs_detail.items()},
        "extended_median_promoted": sorted(
            n for n in extended if _extended_runs_for(n, last) > 1
        ),
        "calibration_extended": {
            "start_sec": round(statistics.median(calib_start), 3),
            "end_sec": round(statistics.median(calib_end), 3),
            "start_runs": [round(t, 3) for t in calib_start],
            "end_runs": [round(t, 3) for t in calib_end],
        },
        "streaming_python_datasource_drain": dict(
            getattr(_sops, "LAST_DRAIN_STATS", {})
        ),
    }


_PHASES = {"headline": _headline_phase, "extended": _extended_phase}


def _run_phase_subprocess(phase: str, sf_dir: str) -> dict:
    """Run one bench phase in a FRESH python+JVM process and return its
    result dict. The child re-executes this file with
    SPARK_GRAFT_BENCH_PHASE set and writes JSON to a temp path; stdout/
    stderr stream through so per-query failure notes stay visible."""
    import subprocess
    import tempfile

    with tempfile.NamedTemporaryFile(
        mode="r", suffix=f"_bench_{phase}.json", delete=False
    ) as tf:
        out_path = tf.name
    env = dict(os.environ)
    env["SPARK_GRAFT_BENCH_PHASE"] = phase
    env["SPARK_GRAFT_BENCH_OUT"] = out_path
    try:
        subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            check=True,
            stdout=sys.stderr,  # child stdout is progress, not the ONE line
        )
        with open(out_path) as fh:
            return json.load(fh)
    finally:
        try:
            os.unlink(out_path)
        except OSError:
            pass


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # Phase protocol: as a CHILD (SPARK_GRAFT_BENCH_PHASE set) run just
    # that phase and dump JSON; as the ORCHESTRATOR spawn one fresh
    # process per phase so the headline medians (the cross-round series)
    # never share a JVM with the 200+-query extended sweep.
    # SPARK_GRAFT_BENCH_INPROC=1 falls back to single-process for quick
    # local iteration (numbers then carry the shared-JVM caveat).
    phase = os.environ.get("SPARK_GRAFT_BENCH_PHASE")
    if phase:
        result = _PHASES[phase](sf_dir)
        with open(os.environ["SPARK_GRAFT_BENCH_OUT"], "w") as fh:
            json.dump(result, fh)
        return

    inproc = os.environ.get("SPARK_GRAFT_BENCH_INPROC") == "1"
    if inproc:
        head = _headline_phase(sf_dir)
        ext = _extended_phase(sf_dir)
    else:
        head = _run_phase_subprocess("headline", sf_dir)
        try:
            ext = _run_phase_subprocess("extended", sf_dir)
        except Exception as exc:  # noqa: BLE001 — radar tier, never fatal
            print(f"extended phase failed: {exc!r}", file=sys.stderr)
            ext = {
                "extended": {},
                "extended_runs_detail": {},
                "extended_slowest": {},
                "extended_median_promoted": [],
                "calibration_extended": {},
                "streaming_python_datasource_drain": {},
            }

    timings = head["timings"]
    spread = head["spread"]
    runs_detail = head["runs_detail"]
    calibration = head["calibration"]
    skew = head["skew_join_events"]
    extended = ext["extended"]
    extended_runs_detail = ext["extended_runs_detail"]
    pds_drain = ext["streaming_python_datasource_drain"]

    sf_val = _sf_value(sf_dir)
    # The round harness captures only the TAIL of stdout, so the printed
    # line stays compact (medians only, and LAST in key order — a
    # head-truncated capture still retains them); per-run detail goes to
    # bench_detail.json beside this script for stall-vs-regression triage.
    # Durable cross-round series: bench_detail.json is gitignored (a
    # per-run artifact) and the harness's stdout capture is
    # tail-truncated, so r8/r9's per-query numbers were effectively
    # lost. bench_history.jsonl is APPEND-ONLY and git-TRACKED: one
    # compact line per bench run (timestamp, sf, calibration pair,
    # value/value_r1, all medians, each extended line's slowest run),
    # committed with the round, so any future round can diff per-query
    # series without archaeology.
    with open(_HISTORY, "a") as fh:
        fh.write(
            json.dumps(
                {
                    "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                    "sf": sf_val,
                    "calibration_sec": {
                        "start": calibration["start_sec"],
                        "end": calibration["end_sec"],
                    },
                    "value": round(sum(timings.values()), 3),
                    "value_r1": round(
                        sum(timings.get(n, 0.0) for n in HEADLINE_R1), 3
                    ),
                    "medians": timings,
                    "extended": extended,
                    "extended_slowest": ext["extended_slowest"],
                    "family_subtotals": _family_subtotals(timings, extended),
                }
            )
            + "\n"
        )

    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "sf": sf_val,
                "medians": timings,
                "spread": spread,
                "runs_detail": runs_detail,
                "extended_single_run": extended,
                "extended_runs_detail": extended_runs_detail,
                "skew_join_events": skew,
                "calibration": calibration,
                "calibration_extended": ext.get("calibration_extended", {}),
                "value_r1": round(
                    sum(timings.get(n, 0.0) for n in HEADLINE_R1), 3
                ),
                "streaming_python_datasource_drain": pds_drain,
            },
            fh,
            indent=1,
        )
    # KEY ORDER MATTERS: the round harness keeps only the TAIL of stdout
    # (r8/r9 proved it: their recorded BENCH tails are head-truncated
    # mid-line, losing "metric"/"value" entirely because the scalars led
    # an ~8 KB line). The big per-query dicts therefore go FIRST and the
    # headline scalars LAST, so a tail capture of any reasonable size
    # always retains metric/value/value_r1/calibration/skew. Full
    # per-query data is in bench_detail.json regardless.
    print(
        json.dumps(
            {
                "queries": timings,
                # single-pass radar over the rest of the registry; NOT part
                # of "value". The promoted slow set (_extended_runs_for)
                # reports 3-run medians instead.
                "queries_extended": extended,
                "extended_median_promoted": ext["extended_median_promoted"],
                "n_benched": len(timings) + len(extended),
                "runs_per_query": N_RUNS,
                "extended_runs_per_query": 1,
                "skew_join_events": skew,
                # Per-family rollups over EVERY benched entry (headline
                # medians + extended radar; failed -1.0 lines excluded) —
                # the legible round-over-round comparison unit now that
                # the flat total mixes medians, single runs, and restart
                # harnesses.
                "family_subtotals": _family_subtotals(timings, extended),
                # Fixed-probe host-speed sample at bench start and end —
                # divide by this to separate host drift from plan changes.
                "calibration_sec": {
                    "start": calibration["start_sec"],
                    "end": calibration["end_sec"],
                },
                # The cross-round comparable subtotal: the frozen 21-query
                # round-1 headline set (see module docstring). "value"
                # re-baselines whenever HEADLINE grows; this doesn't.
                "value_r1": round(
                    sum(timings.get(n, 0.0) for n in HEADLINE_R1), 3
                ),
                "sf": sf_val,
                "unit": "sec",
                "value": round(sum(timings.values()), 3),
                "metric": "headline_queries_total_wall_sec",
            }
        )
    )


if __name__ == "__main__":
    main()
