"""Round-14 eighth wave (the seventh refill pulled forward, SURVEY §7.4
items 54-56; item 53, Adamic-Adar link prediction, lives in graph.py):
the dataset diff report, the session-depth funnel, and IDF-weighted
source overlap.

The reference (rohitjoshi/lua-mapreduce, 1,127 LoC of Lua TCP plumbing;
its one workload is word count, example/word-count-taskfile.lua:73-159)
has none of this surface — these queries extend the repo's curation,
events and text-analysis families per the driver brief:

* ``curation_dataset_diff_report`` — the release-over-release diff: a
  deterministic hash splits the corpus into v1/v2 halves and the tall
  report carries per-lang/per-source row deltas, vocabulary deltas
  (shared/new/retired words) and exact-dup-rate deltas — the
  regression table a dataset release pipeline prints.
* ``events_session_depth_funnel`` — sessions bucketed by event-count
  doubling class x purchase conversion — "do longer sessions convert
  more", composing the gap-sessionization and funnel machineries.
* ``text_idf_weighted_overlap_sources`` — source-pair vocabulary
  overlap weighted by IDF doubling buckets, so boilerplate words stop
  dominating the containment — the informativeness-weighted complement
  of the exact-dup overlap matrix and the L1 divergence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, parallelize_scan
from lua_mapreduce_spark.functions.texthash import oracle_words_expr, words_expr

# --------------------------------------------------------------------------
# Dataset diff report (hash-split v1/v2 halves, tall deltas)
# --------------------------------------------------------------------------


def curation_dataset_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-over-release dataset diff, exercised on a deterministic
    split (version = doc_id % 2 — the stand-in for two real releases a
    pipeline would diff; every metric below works unchanged on real
    v1/v2 tables): a tall (section, key, v1_value, v2_value, delta)
    report carrying per-lang and per-source doc counts, vocabulary
    sizes with the shared/new/retired word split (the Heaps-curve
    reading at release grain), and the exact-duplicate doc counts —
    the regression table a release pipeline prints before shipping.

    Scale shape: per-doc metadata rows (lang, source, fingerprint) feed
    the lang and source rollups (bounded groups, conditional sums per
    version); the vocabulary section is one word-TYPE aggregate
    carrying per-version presence flags (map-side combinable) collapsed
    to 3 rows; the dup section reuses the fingerprint aggregate per
    version. Every section is a bounded relation; the union is a
    metadata-sized tall table. The metadata rows are not materialized,
    so the executed plan reads the corpus 3 times, the vocabulary
    section included."""
    docs = parallelize_scan(
        spark, load_table(spark, sf_dir, "documents")
    ).withColumn("v", F.expr("CAST(doc_id % 2 AS INT)"))
    _dd_fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
    meta = docs.select("v", "lang", "source", _dd_fp.alias("fp"))

    def _tall(df: DataFrame, section: str) -> DataFrame:
        return df.select(
            F.lit(section).alias("section"),
            F.col("key"),
            "v1_value",
            "v2_value",
            F.expr("v2_value - v1_value").alias("delta"),
        )

    by_lang = meta.groupBy(F.col("lang").alias("key")).agg(
        F.expr("CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT)").alias("v1_value"),
        F.expr("CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT)").alias("v2_value"),
    )
    by_source = meta.groupBy(F.col("source").alias("key")).agg(
        F.expr("CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT)").alias("v1_value"),
        F.expr("CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT)").alias("v2_value"),
    )
    words = (
        docs.select("v", F.explode(F.expr(words_expr("text"))).alias("w"))
        .groupBy("w")
        .agg(
            F.expr("CAST(MAX(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS INT)").alias("in1"),
            F.expr("CAST(MAX(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS INT)").alias("in2"),
        )
    )
    vocab = words.agg(
        F.expr("CAST(SUM(in1) AS BIGINT)").alias("n1"),
        F.expr("CAST(SUM(in2) AS BIGINT)").alias("n2"),
        F.expr("CAST(SUM(in1 * in2) AS BIGINT)").alias("n_shared"),
        F.expr("CAST(SUM((1 - in1) * in2) AS BIGINT)").alias("n_new"),
        F.expr("CAST(SUM(in1 * (1 - in2)) AS BIGINT)").alias("n_retired"),
    )
    vocab_rows = vocab.selectExpr(
        "stack(3,"
        " 'vocab_size', n1, n2,"
        " 'vocab_new_words', CAST(0 AS BIGINT), n_new,"
        " 'vocab_retired_words', n_retired, CAST(0 AS BIGINT))"
        " AS (key, v1_value, v2_value)"
    )
    dup = (
        meta.select("v", "fp")
        .groupBy("v", "fp")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("v")
        .agg(
            F.expr("CAST(SUM(n) AS BIGINT)").alias("n_docs"),
            F.expr("CAST(SUM(n) - COUNT(*) AS BIGINT)").alias("n_dup"),
        )
    )
    dup_rows = dup.groupBy().agg(
        F.expr("CAST(SUM(CASE WHEN v = 0 THEN n_dup ELSE 0 END) AS BIGINT)").alias("d1"),
        F.expr("CAST(SUM(CASE WHEN v = 1 THEN n_dup ELSE 0 END) AS BIGINT)").alias("d2"),
        F.expr("CAST(SUM(CASE WHEN v = 0 THEN n_docs ELSE 0 END) AS BIGINT)").alias("t1"),
        F.expr("CAST(SUM(CASE WHEN v = 1 THEN n_docs ELSE 0 END) AS BIGINT)").alias("t2"),
    ).selectExpr(
        "stack(2,"
        " 'n_docs', t1, t2,"
        " 'n_exact_dup_docs', d1, d2)"
        " AS (key, v1_value, v2_value)"
    )
    return (
        _tall(by_lang, "lang")
        .unionByName(_tall(by_source, "source"))
        .unionByName(_tall(vocab_rows, "vocab"))
        .unionByName(_tall(dup_rows, "corpus"))
    )


DATASET_DIFF_ORACLE = rf"""
WITH docs AS (
  SELECT *, CAST(doc_id % 2 AS INT) AS v FROM documents),
by_lang AS (
  SELECT 'lang' AS section, lang AS key,
         CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v1_value,
         CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v2_value
  FROM docs GROUP BY lang),
by_source AS (
  SELECT 'source', source,
         CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT)
  FROM docs GROUP BY source),
words AS (
  SELECT w,
         CAST(MAX(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS INT) AS in1,
         CAST(MAX(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS INT) AS in2
  FROM (SELECT v, UNNEST({oracle_words_expr("text")}) AS w FROM docs)
  GROUP BY w),
vocab AS (
  SELECT CAST(SUM(in1) AS BIGINT) AS n1, CAST(SUM(in2) AS BIGINT) AS n2,
         CAST(SUM((1 - in1) * in2) AS BIGINT) AS n_new,
         CAST(SUM(in1 * (1 - in2)) AS BIGINT) AS n_retired
  FROM words),
vocab_rows AS (
  SELECT 'vocab', 'vocab_size', n1, n2 FROM vocab
  UNION ALL
  SELECT 'vocab', 'vocab_new_words', CAST(0 AS BIGINT), n_new FROM vocab
  UNION ALL
  SELECT 'vocab', 'vocab_retired_words', n_retired, CAST(0 AS BIGINT)
  FROM vocab),
dup AS (
  SELECT v, CAST(SUM(n) AS BIGINT) AS n_docs,
         CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_dup
  FROM (SELECT v,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                 AS fp,
               COUNT(*) AS n
        FROM docs GROUP BY 1, 2)
  GROUP BY v),
dup_rows AS (
  SELECT 'corpus', 'n_docs',
         CAST(SUM(CASE WHEN v = 0 THEN n_docs ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN v = 1 THEN n_docs ELSE 0 END) AS BIGINT)
  FROM dup
  UNION ALL
  SELECT 'corpus', 'n_exact_dup_docs',
         CAST(SUM(CASE WHEN v = 0 THEN n_dup ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN v = 1 THEN n_dup ELSE 0 END) AS BIGINT)
  FROM dup),
allrows AS (
  SELECT * FROM by_lang UNION ALL SELECT * FROM by_source
  UNION ALL SELECT * FROM vocab_rows UNION ALL SELECT * FROM dup_rows)
SELECT section, key, v1_value, v2_value,
       v2_value - v1_value AS delta
FROM allrows
"""


# --------------------------------------------------------------------------
# Session-depth funnel (length doubling buckets x conversion)
# --------------------------------------------------------------------------

_SDF_GAP_MIN = 30  # session gap (minutes) — the sessionize convention


def events_session_depth_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session depth x conversion: sessions (the gap-method machinery —
    a new session where the gap to the previous event exceeds 30
    minutes) bucketed by LENGTH(BIN(n_events)) (the RFM doubling
    idiom), and per bucket the session count, total events, converting
    sessions (>= 1 purchase) and conversion permille — the measured
    answer to "do deeper sessions convert more", composing the
    sessionization and funnel machineries at session grain.

    Scale shape: one scan -> one per-user sort shuffle (the lag +
    running-sum session labels — the same shuffle every sessionization
    pays); per-session stats are map-side-combinable aggregates on
    (user, session_seq); the bucket rollup is <= log2(max depth)
    rows."""
    ev = load_table(spark, sf_dir, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run_w = order_w.rowsBetween(Window.unboundedPreceding, 0)
    labeled = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_ts", F.lag("ts").over(order_w))
        .withColumn(
            "is_new",
            F.expr(
                "CASE WHEN prev_ts IS NULL OR ts - prev_ts >="
                f" INTERVAL '{_SDF_GAP_MIN}' MINUTE THEN 1 ELSE 0 END"
            ),
        )
        .withColumn("session_seq", F.sum("is_new").over(run_w))
    )
    sess = labeled.groupBy("user_id", "session_seq").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_events"),
        F.expr(
            "CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
            " AS INT)"
        ).alias("converted"),
    )
    return session_depth_tail(sess)


def session_depth_tail(sess: DataFrame) -> DataFrame:
    """The depth-bucket x conversion rollup over an
    (n_events, converted) session relation — SHARED by the batch query
    above and streaming_session_depth_snapshot (the burst/seasonal
    one-implementation convention), so streaming and batch can never
    drift. Bounded output: <= log2(max session depth) rows."""
    return (
        sess.groupBy(
            F.expr("CAST(LENGTH(BIN(n_events)) AS BIGINT)").alias(
                "depth_bucket"
            )
        )
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_sessions"),
            F.expr("CAST(SUM(n_events) AS BIGINT)").alias("total_events"),
            F.expr("CAST(SUM(converted) AS BIGINT)").alias("n_converting"),
        )
        .select(
            "depth_bucket",
            "n_sessions",
            "total_events",
            "n_converting",
            F.expr("n_converting * 1000 DIV n_sessions").alias(
                "conversion_permille"
            ),
        )
    )


SESSION_DEPTH_ORACLE = f"""
WITH labeled AS (
  SELECT user_id, event_type,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w >= INTERVAL '{_SDF_GAP_MIN} minutes'
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))),
sess AS (
  SELECT user_id, session_seq,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS INT) AS converted
  FROM labeled GROUP BY 1, 2)
SELECT CAST(LENGTH(BIN(n_events)) AS BIGINT) AS depth_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS total_events,
       CAST(SUM(converted) AS BIGINT) AS n_converting,
       CAST(SUM(converted) AS BIGINT) * 1000
         // CAST(COUNT(*) AS BIGINT) AS conversion_permille
FROM sess GROUP BY 1
"""


# --------------------------------------------------------------------------
# IDF-weighted source overlap (informativeness-weighted containment)
# --------------------------------------------------------------------------


def text_idf_weighted_overlap_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Source-pair vocabulary overlap weighted by INFORMATIVENESS: each
    word type carries the IDF doubling-bucket weight
    LENGTH(BIN(n_docs DIV df)) (~ floor(log2(N/df)) + 1 — rare words
    weigh more, the perplexity-proxy convention), and each source pair
    reports the weighted shared-vocabulary mass over the smaller
    side's weighted total (containment style, the overlap-matrix
    reading) — so two crawls sharing only stopwords read near 0 here
    while the unweighted overlap would read high. The informativeness
    complement of curation_source_overlap_matrix (exact-dup grain) and
    text_js_divergence_sources (distribution grain).

    Scale shape: one tokenize scan -> DISTINCT (doc, word) rows for df
    + DISTINCT (source, word) rows for presence (both map-side
    collapsible); the word-grain self-join keys on word with
    |sources|² bounded fan-out; per-source weighted totals are a
    bounded rollup broadcast in."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "source", F.explode(F.expr(words_expr("text"))).alias("w")
    )
    df = toks.select("doc_id", "w").distinct().groupBy("w").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("df")
    )
    nd = docs.agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"))
    weights = df.crossJoin(F.broadcast(nd)).select(
        "w",
        F.expr(
            "CAST(LENGTH(BIN(n_docs DIV df)) AS BIGINT)"
        ).alias("ww"),
    )
    sw = (
        toks.select("source", "w")
        .distinct()
        .join(weights, "w")
        # Kept: 0.63 -> 0.77 s at sf0.01 without it (tools/checkpoint_sweep.py).
        .localCheckpoint(eager=True)
    )
    totals = sw.groupBy("source").agg(
        F.expr("CAST(SUM(ww) AS BIGINT)").alias("w_total")
    )
    a, b = sw.alias("a"), sw.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_shared_words"),
            F.expr("CAST(SUM(a.ww) AS BIGINT)").alias("w_shared"),
        )
    )
    ta = totals.select(
        F.col("source").alias("source_a"), F.col("w_total").alias("w_total_a")
    )
    tb = totals.select(
        F.col("source").alias("source_b"), F.col("w_total").alias("w_total_b")
    )
    return (
        shared.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared_words",
            "w_shared",
            "w_total_a",
            "w_total_b",
            F.expr(
                "w_shared * 1000 DIV least(w_total_a, w_total_b)"
            ).alias("weighted_overlap_permille"),
        )
    )


IDF_OVERLAP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, UNNEST({oracle_words_expr("text")}) AS w
  FROM documents),
df AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM (
    SELECT DISTINCT doc_id, w FROM toks) GROUP BY w),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
weights AS (
  SELECT w, CAST(LENGTH(BIN(n_docs // df)) AS BIGINT) AS ww
  FROM df CROSS JOIN nd),
sw AS (
  SELECT sv.source, sv.w, ww FROM (
    SELECT DISTINCT source, w FROM toks) sv
  JOIN weights ON sv.w = weights.w),
totals AS (
  SELECT source, CAST(SUM(ww) AS BIGINT) AS w_total
  FROM sw GROUP BY source),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared_words,
         CAST(SUM(a.ww) AS BIGINT) AS w_shared
  FROM sw a JOIN sw b ON a.w = b.w AND a.source < b.source
  GROUP BY 1, 2)
SELECT source_a, source_b, n_shared_words, w_shared,
       ta.w_total AS w_total_a, tb.w_total AS w_total_b,
       w_shared * 1000 // least(ta.w_total, tb.w_total)
         AS weighted_overlap_permille
FROM shared
JOIN totals ta ON ta.source = source_a
JOIN totals tb ON tb.source = source_b
"""


QUERIES = {
    "curation_dataset_diff_report": curation_dataset_diff_report,
    "events_session_depth_funnel": events_session_depth_funnel,
    "text_idf_weighted_overlap_sources": text_idf_weighted_overlap_sources,
}

ORACLES = {
    "curation_dataset_diff_report": DATASET_DIFF_ORACLE,
    "events_session_depth_funnel": SESSION_DEPTH_ORACLE,
    "text_idf_weighted_overlap_sources": IDF_OVERLAP_ORACLE,
}
