"""Round-13 third wave: bottom-k quantile sketch, LSH radius search, and
the hour-of-day seasonal profile.

The reference (rohitjoshi/lua-mapreduce, 1,127 LoC of Lua TCP plumbing;
its one workload is word count, example/word-count-taskfile.lua:73-159)
has none of this surface — these queries extend the repo's sketch,
similarity and time-series families per the driver brief:

* ``agg_quantile_bottomk_sketch`` — a mergeable quantile sketch from a
  bottom-k-by-hash uniform sample (the SURVEY §7.4 KLL candidate,
  refined: a deterministic KLL compactor is arrival-order-dependent and
  therefore not oracle-replayable, while the bottom-k sample is
  order-FREE — bottom-k of a union is bottom-k of the concatenated
  samples — and keeps the same mergeable-summary contract).
* ``sim_range_radius_search`` — radius (range) search over the LSH
  candidate machinery: the ANN family answers top-k six ways but had no
  range-query face; radius per query = its exact k-th-neighbor distance
  (the k-distance convention, SF-invariant), recall gated in output.
* ``events_seasonal_profile`` — hour-of-day seasonal means per event
  type: the seasonality complement of events_holt_winters (which models
  level+trend but deliberately not the daily cycle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, parallelize_scan
from lua_mapreduce_spark.functions.texthash import (
    md5_bigint_expr,
    oracle_md5_bigint_expr,
)

# --------------------------------------------------------------------------
# Bottom-k-by-hash quantile sketch (mergeable, order-free, exact-witnessed)
# --------------------------------------------------------------------------

_QBK_K = 256  # sample size (rank error ~ 1/sqrt(k) ~ 6% per quantile)
_QBK_QS = (10, 25, 50, 75, 90)  # probed quantiles (percent)


def agg_quantile_bottomk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch from a bottom-k-by-hash sample: keep
    the _QBK_K order rows with the SMALLEST md5(o_orderkey) — a uniform
    random sample that is deterministic, order-free, and mergeable
    (bottom-k of a union = bottom-k of the concatenated samples, the
    KMV property applied to sampling); estimate quantile q as the
    sample's ceil(q*k/100)-th order statistic of o_totalprice cents.
    The exact rank of every estimated value joins in from one
    conditional scan (the KMV exact-witness convention), so the output
    carries achieved_permille (the estimate's true rank) next to the
    target and the rank error in permille — sampling accuracy is a
    measured number per quantile, not a claim.

    Design note (SURVEY §7.4 item 6): the banked KLL-compactor idea was
    refined to this form because a deterministic KLL compaction is
    arrival-ORDER-dependent (which partition's elements compact first
    changes the survivors), so no engine-independent oracle could
    replay it; the bottom-k sample keeps the mergeable-summary contract
    and is exactly replayable.

    Scale shape: the sample is orderBy(hash).limit(k), which Spark
    executes as TakeOrderedAndProject — per-partition top-k heaps then
    a k-row driver merge, NO global sort; the witness pass is ONE scan
    against the broadcast 5-row quantile table."""
    h = md5_bigint_expr("concat('qbk-', CAST(o_orderkey AS STRING))")
    orders = load_table(spark, sf_dir, "orders")
    sample = (
        orders.selectExpr(
            f"{h} AS h",
            "CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents",
        )
        .orderBy("h")
        .limit(_QBK_K)
    )
    wv = Window.orderBy("cents", "h")  # bounded 256-row relation
    ranked = sample.withColumn("sr", F.row_number().over(wv))
    qs = spark.createDataFrame(
        [(q,) for q in _QBK_QS], "q_pct INT"
    ).selectExpr(
        "CAST(q_pct AS BIGINT) AS q_pct",
        f"CAST((q_pct * {_QBK_K} + 99) DIV 100 AS BIGINT) AS idx",
    )
    quants = (
        qs.join(F.broadcast(ranked), F.col("idx") == F.col("sr"))
        .select("q_pct", F.col("cents").alias("est_value_cents"))
    )
    witness = (
        orders.selectExpr(
            "CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents"
        )
        .crossJoin(F.broadcast(quants))
        .groupBy("q_pct", "est_value_cents")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.expr(
                "CAST(SUM(CASE WHEN cents <= est_value_cents"
                " THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("exact_le"),
        )
    )
    return witness.select(
        "q_pct",
        "est_value_cents",
        F.expr("CAST(n_total AS BIGINT)").alias("n_total"),
        "exact_le",
        F.expr("exact_le * 1000 DIV n_total").alias("achieved_permille"),
        F.expr(
            "abs(exact_le * 1000 DIV n_total - q_pct * 10)"
        ).alias("err_permille"),
    )


def _qbk_oracle() -> str:
    h = oracle_md5_bigint_expr("concat('qbk-', CAST(o_orderkey AS VARCHAR))")
    return f"""
WITH sample AS (
  SELECT h, cents FROM (
    SELECT {h} AS h,
           CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents
    FROM orders)
  ORDER BY h LIMIT {_QBK_K}),
ranked AS (
  SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, h) AS sr FROM sample),
qs AS (
  SELECT CAST(q_pct AS BIGINT) AS q_pct,
         CAST((q_pct * {_QBK_K} + 99) // 100 AS BIGINT) AS idx
  FROM (SELECT UNNEST([{", ".join(str(q) for q in _QBK_QS)}]) AS q_pct)),
quants AS (
  SELECT q_pct, cents AS est_value_cents
  FROM qs JOIN ranked ON idx = sr),
witness AS (
  SELECT q_pct, est_value_cents,
         CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(SUM(CASE WHEN CAST(round(o_totalprice * 100.0) AS BIGINT)
                            <= est_value_cents
                       THEN 1 ELSE 0 END) AS BIGINT) AS exact_le
  FROM orders CROSS JOIN quants
  GROUP BY 1, 2)
SELECT q_pct, est_value_cents, n_total, exact_le,
       exact_le * 1000 // n_total AS achieved_permille,
       abs(exact_le * 1000 // n_total - q_pct * 10) AS err_permille
FROM witness
"""


# --------------------------------------------------------------------------
# LSH radius (range) search with k-distance radii and gated recall
# --------------------------------------------------------------------------

_RR_K = 20  # radius per query = its exact k-th-neighbor distance


def sim_range_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) search — report ALL neighbors within distance r,
    the ANN family's missing query shape next to its six top-k faces
    (exact / int8 / LSH / IVF / PQ / graph). Candidates come from the
    multitable hyperplane-LSH buckets (the NSW substrate — bucket
    collisions only, never all pairs) verified by exact integer
    squared-L2 <= r; the radius r is per-query its exact _RR_K-th
    neighbor distance (the k-distance convention — a fixed absolute
    radius would go empty or explode as SF changes the density, while
    the k-distance keeps every SF's answer set near k and the oracle
    replays it exactly). The full-scan truth pass defines r and audits
    recall; at production scale r is a known constant and that pass
    drops away, leaving only the bucketed candidate join.

    Output per query: the radius, the true in-radius count, the count
    the LSH candidates found, and recall in permille — the range-query
    recall of the SAME hash tables whose top-k recall
    sim_ann_multitable measures, so index quality is comparable across
    query shapes.

    Scale shape: one signature scan (shared memoized _nsw_base
    substrate when the graph-ANN family runs in the same process is
    NOT used here — the radius query needs no k-NN graph, so it calls
    the signature projection directly); the candidate join is the
    bounded-bucket LSH equi-join; the truth pass is corpus x 5 queries
    (audit + radius definition only)."""
    from lua_mapreduce_spark.operators.analytics7 import (
        _NSW_DIST_SPARK,
        _NSW_Q,
        _nsw_sigs,
        _nsw_stack,
    )

    q = _nsw_sigs(spark, sf_dir)
    queries = q.filter(F.col("vec_id") < _NSW_Q).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv")
    )
    nodes = q.select("vec_id", "qv")
    # truth distances: corpus x |queries| (audit + radius definition)
    truth = (
        nodes.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.expr(_NSW_DIST_SPARK).alias("d"))
    )
    wr = Window.partitionBy("query_id").orderBy("d", "vec_id")
    radii = (
        truth.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == _RR_K)
        .select("query_id", F.col("d").alias("radius"))
    )
    n_true = (
        truth.join(F.broadcast(radii), "query_id")
        .filter("d <= radius")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_true"))
    )
    # LSH candidates: bucket collisions between query and corpus rows
    long = _nsw_stack(q)
    qlong = long.filter(F.col("vec_id") < _NSW_Q).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv"), "t", "sig"
    )
    cand = (
        qlong.join(long, ["t", "sig"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    found = (
        cand.join(nodes, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "vec_id", F.expr(_NSW_DIST_SPARK).alias("d"))
        .join(F.broadcast(radii), "query_id")
        .filter("d <= radius")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_found"))
    )
    return (
        radii.join(n_true, "query_id")
        .join(found, "query_id", "left")
        .select(
            "query_id",
            "radius",
            F.expr("CAST(n_true AS BIGINT)").alias("n_true"),
            F.expr("CAST(COALESCE(n_found, 0) AS BIGINT)").alias("n_found"),
            F.expr(
                "COALESCE(n_found, 0) * 1000 DIV n_true"
            ).alias("recall_permille"),
        )
    )


def _radius_oracle() -> str:
    from lua_mapreduce_spark.operators.analytics6 import _QGRID_DUCK
    from lua_mapreduce_spark.operators.analytics7 import (
        _NSW_Q,
        _nsw_oracle_dist,
        _nsw_oracle_prelude,
    )

    sig_cols, unions = _nsw_oracle_prelude()
    d = _nsw_oracle_dist("q.qqv", "n.qv")
    return f"""
WITH sigs AS MATERIALIZED (
  SELECT a.vec_id AS vec_id, {_QGRID_DUCK} AS qv,
         {sig_cols}
  FROM embeddings a),
long AS MATERIALIZED (
{unions}),
qs AS (SELECT vec_id AS query_id, qv AS qqv FROM sigs
       WHERE vec_id < {_NSW_Q}),
nodes AS (SELECT vec_id, qv FROM sigs),
truth AS MATERIALIZED (
  SELECT q.query_id, n.vec_id, CAST({d} AS BIGINT) AS dist
  FROM qs q CROSS JOIN nodes n
  WHERE n.vec_id <> q.query_id),
radii AS (
  SELECT query_id, dist AS radius FROM (
    SELECT query_id, dist,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY dist, vec_id) AS rn
    FROM truth)
  WHERE rn = {_RR_K}),
n_true AS (
  SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_true
  FROM truth t JOIN radii r ON t.query_id = r.query_id
  WHERE t.dist <= r.radius GROUP BY 1),
cand AS (
  SELECT DISTINCT ql.vec_id AS query_id, l.vec_id AS vec_id
  FROM long ql JOIN long l ON ql.t = l.t AND ql.sig = l.sig
  WHERE ql.vec_id < {_NSW_Q} AND l.vec_id <> ql.vec_id),
found AS (
  SELECT c.query_id, CAST(COUNT(*) AS BIGINT) AS n_found
  FROM cand c
  JOIN truth t ON t.query_id = c.query_id AND t.vec_id = c.vec_id
  JOIN radii r ON r.query_id = c.query_id
  WHERE t.dist <= r.radius GROUP BY 1)
SELECT r.query_id, r.radius, n_true,
       CAST(COALESCE(n_found, 0) AS BIGINT) AS n_found,
       COALESCE(n_found, 0) * 1000 // n_true AS recall_permille
FROM radii r
JOIN n_true USING (query_id)
LEFT JOIN found USING (query_id)
"""


# --------------------------------------------------------------------------
# Hour-of-day seasonal profile (per-type daily-cycle means)
# --------------------------------------------------------------------------


def events_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal profile per event type: mean hourly volume
    by position in the daily cycle — the seasonality complement of
    events_holt_winters (level+trend, deliberately cycle-blind) and the
    input a seasonal-adjustment pass would subtract. Per (type, hod):
    the number of OBSERVED epoch-hours, total events, the integer-milli
    mean over observed hours, and an is_peak flag for the cycle's
    argmax hour (ties to the earliest hour — deterministic). Built on
    the epoch-hour grain shared with the CUSUM/Holt family, so all
    three time-series views agree on bucketing.

    Scale shape: one scan -> (type, hr) map-side-combined counts, then
    a second bounded rollup to (type, hod) — output is |types| x 24
    rows regardless of input volume; the peak flag is one window over
    that bounded relation."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr("CAST(unix_timestamp(ts) DIV 3600 AS BIGINT)").alias("hr"),
    ).agg(F.count(F.lit(1)).alias("x"))
    return seasonal_profile_tail(hourly)


def seasonal_profile_tail(hourly: DataFrame) -> DataFrame:
    """The hour-of-day profile over an (event_type, hr, x) hourly table
    — shared by the batch query above and its streaming twin
    (streaming_ops.streaming_seasonal_profile), the cusum_argmax
    convention: one implementation, so the two faces can never
    drift."""
    prof = hourly.groupBy(
        "event_type", F.expr("CAST(hr % 24 AS BIGINT)").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.expr("CAST(SUM(x) AS BIGINT)").alias("total_events"),
    )
    wp = Window.partitionBy("event_type").orderBy(
        F.desc(F.expr("total_events * 1000 DIV n_hours")), F.asc("hod")
    )
    return prof.select(
        "event_type",
        "hod",
        F.expr("CAST(n_hours AS BIGINT)").alias("n_hours"),
        "total_events",
        F.expr("total_events * 1000 DIV n_hours").alias("mean_milli"),
        (F.row_number().over(wp) == 1).alias("is_peak"),
    )


SEASONAL_ORACLE = """
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
         COUNT(*) AS x
  FROM events GROUP BY 1, 2),
prof AS (
  SELECT event_type, CAST(hr % 24 AS BIGINT) AS hod,
         CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM(x) AS BIGINT) AS total_events
  FROM hourly GROUP BY 1, 2)
SELECT event_type, hod, n_hours, total_events,
       total_events * 1000 // n_hours AS mean_milli,
       ROW_NUMBER() OVER (PARTITION BY event_type
                          ORDER BY total_events * 1000 // n_hours DESC,
                                   hod ASC) = 1 AS is_peak
FROM prof
"""




# --------------------------------------------------------------------------
# Cohort retention triangle (product-analytics weekly retention)
# --------------------------------------------------------------------------

_RC_WEEK = 604800  # epoch-week bucket (7 * 86400)


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cohort retention triangle — THE product-analytics report next
    to the family's RFM / funnel / Markov / sessionization members:
    cohort = each user's first-seen epoch-week, retention(cohort,
    offset) = users from that cohort active `offset` weeks later, in
    permille of the cohort size. The offset-0 row is a built-in sanity
    witness (everyone is active in their first week, so its permille is
    exactly 1000 — asserted in tests).

    Scale shape: one scan -> DISTINCT (user, week) pairs (a map-side
    pre-aggregated dedup); first-seen is a per-user MIN; the triangle
    is a (weeks x offsets)-bounded rollup — output is independent of
    event volume, and every number is an integer count or permille."""
    ev = load_table(spark, sf_dir, "events")
    uw = (
        ev.selectExpr(
            "user_id",
            f"CAST(unix_timestamp(ts) DIV {_RC_WEEK} AS BIGINT) AS wk",
        )
        .distinct()
    )
    first = uw.groupBy("user_id").agg(F.expr("MIN(wk)").alias("cohort"))
    sizes = first.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    act = (
        uw.join(first, "user_id")
        .groupBy("cohort", F.expr("wk - cohort").alias("offset_weeks"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return act.join(sizes, "cohort").select(
        F.col("cohort").alias("cohort_week"),
        "offset_weeks",
        F.expr("CAST(n_cohort AS BIGINT)").alias("n_cohort"),
        F.expr("CAST(n_active AS BIGINT)").alias("n_active"),
        F.expr("n_active * 1000 DIV n_cohort").alias("retention_permille"),
    )


RETENTION_ORACLE = f"""
WITH uw AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // {_RC_WEEK} AS wk
  FROM events),
first AS (
  SELECT user_id, MIN(wk) AS cohort FROM uw GROUP BY user_id),
sizes AS (
  SELECT cohort, COUNT(*) AS n_cohort FROM first GROUP BY cohort),
act AS (
  SELECT f.cohort, u.wk - f.cohort AS offset_weeks, COUNT(*) AS n_active
  FROM uw u JOIN first f USING (user_id)
  GROUP BY 1, 2)
SELECT a.cohort AS cohort_week, offset_weeks,
       CAST(n_cohort AS BIGINT) AS n_cohort,
       CAST(n_active AS BIGINT) AS n_active,
       n_active * 1000 // n_cohort AS retention_permille
FROM act a JOIN sizes s ON a.cohort = s.cohort
"""


# --------------------------------------------------------------------------
# Quality-score calibration (reliability diagram + ECE)
# --------------------------------------------------------------------------

_CAL_BINS = 10


def curation_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error — the evaluator
    family's CALIBRATION face next to AUC (discrimination,
    curation_quality_auc) and kappa (agreement): the prediction is the
    score's per-lang percentile (the PIT transform — 1000 * cum_count
    <= score DIV n_l, from the same bounded score histogram the AUC
    query ranks), the label is the shared noisy quality gate (the
    _label_expr convention with its own tag so labels stay independent
    across evaluators), and per decile bin of the prediction the report
    carries predicted-vs-observed positive rates, their gap, and the
    lang-level ECE = sum n_bin * gap DIV n_l — every number an integer
    cross-multiplication, so the oracle replays the whole diagram.

    Scale shape: ONE scan builds the (lang, score) histogram; the
    percentile window runs over the bounded distinct-score domain (the
    AUC convention); binning, the per-bin rates and the ECE rollup are
    bounded aggregates over <= |langs| x 10 rows."""
    from lua_mapreduce_spark.operators.analytics7 import (
        _docs_with_lang_stats,
        _label_expr,
    )

    labeled = _docs_with_lang_stats(spark, sf_dir).select(
        "lang",
        F.col("n_chars").alias("score"),
        F.col("n_l"),
        F.expr(_label_expr("cal-", True)).alias("pos"),
    )
    hist = labeled.groupBy("lang", "score", "n_l").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)").alias(
            "n_pos"
        ),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pred = (
        hist.withColumn("cum_n", F.sum("n").over(w))
        .withColumn(
            "pred_permille", F.expr("1000 * cum_n DIV n_l")
        )
        .withColumn(
            "bin",
            F.expr(f"least(pred_permille DIV 100, {_CAL_BINS - 1})"),
        )
    )
    bins = pred.groupBy("lang", "bin").agg(
        F.expr("CAST(SUM(n) AS BIGINT)").alias("n_docs"),
        F.expr("CAST(SUM(n * pred_permille) AS BIGINT)").alias("sum_pred"),
        F.expr("CAST(SUM(n_pos) AS BIGINT)").alias("n_pos"),
    ).select(
        "lang",
        "bin",
        "n_docs",
        F.expr("sum_pred DIV n_docs").alias("mean_pred_permille"),
        F.expr("1000 * n_pos DIV n_docs").alias("obs_permille"),
        F.expr(
            "abs(sum_pred DIV n_docs - 1000 * n_pos DIV n_docs)"
        ).alias("gap_permille"),
    )
    ece = bins.groupBy("lang").agg(
        F.expr(
            "CAST(SUM(n_docs * abs(mean_pred_permille - obs_permille))"
            " DIV SUM(n_docs) AS BIGINT)"
        ).alias("ece_permille")
    )
    return bins.join(F.broadcast(ece), "lang").select(
        "lang",
        "bin",
        "n_docs",
        "mean_pred_permille",
        "obs_permille",
        "gap_permille",
        "ece_permille",
    )


def _calibration_oracle() -> str:
    from lua_mapreduce_spark.operators.analytics7 import (
        _EVAL_ORACLE_PREFIX,
        _label_expr,
    )

    return f"""
WITH {_EVAL_ORACLE_PREFIX},
labeled AS (
  SELECT d.lang, d.n_chars AS score, s.n_l,
         {_label_expr("cal-", False)} AS pos
  FROM docs d JOIN stats s ON d.lang = s.lang),
hist AS (
  SELECT lang, score, n_l, COUNT(*) AS n,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
  FROM labeled GROUP BY 1, 2, 3),
pred AS (
  SELECT lang, score, n_l, n, n_pos,
         SUM(n) OVER (PARTITION BY lang ORDER BY score
                      ROWS UNBOUNDED PRECEDING) AS cum_n
  FROM hist),
binned AS (
  -- CAST: cum_n is a windowed SUM and therefore HUGEINT in DuckDB,
  -- which pandas canonicalizes as float64 — the round-5 driver-type
  -- failure mode the typed compare alone would not catch
  SELECT lang,
         CAST(least(1000 * cum_n // n_l // 100, {_CAL_BINS - 1})
              AS BIGINT) AS bin,
         n, n_pos, CAST(1000 * cum_n // n_l AS BIGINT) AS pred_permille
  FROM pred),
bins AS (
  SELECT lang, bin,
         CAST(SUM(n) AS BIGINT) AS n_docs,
         CAST(SUM(n * pred_permille) AS BIGINT) AS sum_pred,
         CAST(SUM(n_pos) AS BIGINT) AS n_pos
  FROM binned GROUP BY 1, 2),
rates AS (
  SELECT lang, bin, n_docs,
         sum_pred // n_docs AS mean_pred_permille,
         1000 * n_pos // n_docs AS obs_permille,
         abs(sum_pred // n_docs - 1000 * n_pos // n_docs) AS gap_permille
  FROM bins),
ece AS (
  SELECT lang,
         CAST(SUM(n_docs * gap_permille) // SUM(n_docs) AS BIGINT)
           AS ece_permille
  FROM rates GROUP BY lang)
SELECT r.lang, bin, n_docs, mean_pred_permille, obs_permille,
       gap_permille, ece_permille
FROM rates r JOIN ece e ON r.lang = e.lang
"""


# --------------------------------------------------------------------------
# Zipf rank-frequency profile (doubling buckets, corpus health diagnostic)
# --------------------------------------------------------------------------


def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency profile: corpus unigram counts ranked by
    frequency, bucketed by log2(rank) via LENGTH(BIN(rank)) (the RFM
    doubling-bucket idiom) — per doubling bucket the word count, total
    occurrences, corpus-mass permille, and the mean rank*frequency
    product whose near-constancy across buckets IS Zipf's law (no
    regression fit, no logs, exact integers end to end). A corpus whose
    tail buckets' products collapse is template/boilerplate-heavy; one
    whose head explodes is dominated by a few tokens — the corpus-health
    diagnostic a curation pass reads before mixing sources.

    Scale shape: one tokenize scan collapses to the word-TYPE table
    (map-side partial aggs); the global rank is computed DISTRIBUTED
    (r13 verdict item): the sort key (cnt DESC, w ASC) is coarsened to
    (cnt, first letter) buckets — a monotone coarsening of the total
    order — whose sizes roll up to a tiny relation; bucket start
    offsets come from one window over THAT rollup (the only
    single-partition exchange, |distinct cnt| x 26 rows, never the
    vocab), broadcast back; the per-word row_number is PARTITIONED by
    bucket, so no partition ever sorts more than one bucket's slice
    (worst case the cnt=1 hapax words sharing a letter — widen the
    prefix to 2 chars if a vocabulary ever outgrows that). rank =
    bucket offset + within-bucket row_number, value-identical to the
    oracle's global ROW_NUMBER; the profile is a <= log2(vocab)-row
    rollup."""
    from lua_mapreduce_spark.functions.texthash import words_expr

    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    counts = (
        docs.select(F.explode(F.expr(words_expr("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("pfx", F.expr("substring(w, 1, 1)"))
        # Kept: 0.54 -> 0.62 s at sf0.01 without it (tools/checkpoint_sweep.py).
        .localCheckpoint(eager=True)
    )
    bsz = counts.groupBy("cnt", "pfx").agg(
        F.count(F.lit(1)).alias("bn")
    )
    woff = Window.orderBy(F.desc("cnt"), F.asc("pfx")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = bsz.withColumn(
        "off",
        F.coalesce(F.sum("bn").over(woff), F.lit(0)).cast("bigint"),
    ).drop("bn")
    wrn = Window.partitionBy("cnt", "pfx").orderBy(F.asc("w"))
    # no broadcast hint: offs is data-dependent (~O(sqrt(corpus)) x 26
    # rows — small in practice, but not provably constant-bounded, so
    # the broadcast policy leaves the strategy to AQE)
    ranked = counts.join(offs, ["cnt", "pfx"]).withColumn(
        "rank",
        (F.col("off") + F.row_number().over(wrn)).cast("bigint"),
    )
    tot = ranked.agg(F.expr("CAST(SUM(cnt) AS BIGINT)").alias("n_tokens"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy(F.expr("CAST(LENGTH(BIN(rank)) AS BIGINT)").alias("bucket"))
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_words"),
            F.expr("CAST(SUM(cnt) AS BIGINT)").alias("total_occ"),
            F.expr("CAST(MIN(rank) AS BIGINT)").alias("min_rank"),
            F.expr("CAST(MAX(rank) AS BIGINT)").alias("max_rank"),
            F.expr(
                "CAST(SUM(cnt) * 1000 DIV MAX(n_tokens) AS BIGINT)"
            ).alias("mass_permille"),
            F.expr(
                "CAST(SUM(rank * cnt) DIV COUNT(*) AS BIGINT)"
            ).alias("mean_rank_freq"),
        )
    )


def _zipf_oracle() -> str:
    from lua_mapreduce_spark.functions.texthash import oracle_words_expr

    return f"""
WITH counts AS (
  SELECT w, COUNT(*) AS cnt FROM (
    SELECT UNNEST({oracle_words_expr("text")}) AS w FROM documents)
  GROUP BY w),
ranked AS (
  SELECT cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS BIGINT) AS rank
  FROM counts),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens FROM ranked)
SELECT CAST(LENGTH(BIN(rank)) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(cnt) AS BIGINT) AS total_occ,
       CAST(MIN(rank) AS BIGINT) AS min_rank,
       CAST(MAX(rank) AS BIGINT) AS max_rank,
       CAST(SUM(cnt) * 1000 // MAX(n_tokens) AS BIGINT) AS mass_permille,
       CAST(SUM(rank * cnt) // COUNT(*) AS BIGINT) AS mean_rank_freq
FROM ranked, tot
GROUP BY 1
"""


QUERIES = {
    "agg_quantile_bottomk_sketch": agg_quantile_bottomk_sketch,
    "sim_range_radius_search": sim_range_radius_search,
    "events_seasonal_profile": events_seasonal_profile,
    "events_retention_cohorts": events_retention_cohorts,
    "curation_quality_calibration": curation_quality_calibration,
    "text_zipf_fit": text_zipf_fit,
}

ORACLES = {
    "agg_quantile_bottomk_sketch": _qbk_oracle(),
    "sim_range_radius_search": _radius_oracle(),
    "events_seasonal_profile": SEASONAL_ORACLE,
    "events_retention_cohorts": RETENTION_ORACLE,
    "curation_quality_calibration": _calibration_oracle(),
    "text_zipf_fit": _zipf_oracle(),
}
