"""Round-14 fourth wave (the third refill pulled forward, SURVEY §7.4
items 37-40): the power-user Pareto profile, source-vocabulary L1
divergence, the sort-key advisor, and annotation-budget Neyman split.

The reference (rohitjoshi/lua-mapreduce, 1,127 LoC of Lua TCP plumbing;
its one workload is word count, example/word-count-taskfile.lua:73-159)
has none of this surface — these queries extend the repo's events,
text-analysis, layout and curation families per the driver brief:

* ``events_power_users_pareto`` — the Lorenz/Pareto concentration
  profile: cumulative event share held by the top k/10 of users, from
  the bounded distinct-count histogram (no user-grain global sort) —
  the concentration complement of the Gini diversity row.
* ``text_js_divergence_sources`` — pairwise source-vocabulary L1
  distance over truncated micro-unit unigram probabilities — the
  mixture-design distance matrix (JS needs logs; L1 is the repo's
  transcendental-free convention).
* ``layout_sort_key_advisor`` — for each candidate sort key x probe
  dimension, the zone-map file-skip permille under a shared probe
  workload — the measured advisor behind every clustering decision
  (the zonemap/hilbert estimator machinery re-read at key-choice
  grain).
* ``curation_annotation_budget_split`` — Neyman-style allocation of a
  fixed label budget across strata by size x score-range dispersion,
  largest-remainder exactness, per-stratum capping surfaced (never
  silent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, parallelize_scan
from lua_mapreduce_spark.functions.texthash import oracle_words_expr, words_expr

# --------------------------------------------------------------------------
# Power-user Pareto / Lorenz concentration profile
# --------------------------------------------------------------------------

_PP_STEPS = 10


def events_power_users_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz concentration of event volume over users: for each decile
    k of the user base (users ranked by activity DESC), the exact
    cumulative event count and share held by the top k/10 of users —
    the "top 10% of users drive X permille of traffic" table, the
    concentration complement of events_gini_diversity.

    Rank-free construction (the zipf/median discipline — no user-grain
    global sort): collapse users to the DISTINCT-count histogram
    (count value -> how many users, how many events), take cumulative
    sums over the count-DESC-ordered histogram (bounded domain: at most
    ~sqrt(2*events) distinct count values), then for each decile cut
    r_k = k*U DIV 10 the cumulative events at user-rank r_k = the
    first histogram row covering r_k, minus the over-counted tail of
    its partially-included count class ((cum_users - r_k) * cnt) — an
    exact order statistic from the histogram, the median-from-
    histogram convention extended to partial classes.

    Scale shape: one scan -> per-user counts (map-side combinable) ->
    the bounded histogram; the window runs over the histogram, never
    users; the 10-row grid broadcast cross-joins it."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    return pareto_tail(per_user)


def pareto_tail(per_user: DataFrame) -> DataFrame:
    """The histogram/decile machinery over a (user_id, cnt) relation —
    SHARED by the batch query above and streaming_pareto_snapshot (the
    seasonal_profile_tail one-implementation convention), so streaming
    and batch can never drift."""
    hist = per_user.groupBy("cnt").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("m")
    )
    wcum = Window.orderBy(F.desc("cnt")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.select(
        "cnt",
        "m",
        F.expr("CAST(cnt * m AS BIGINT)").alias("ev_m"),
    ).withColumn("cum_users", F.sum("m").over(wcum)).withColumn(
        "cum_events", F.sum("ev_m").over(wcum)
    )
    tot = per_user.agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_users"),
        F.expr("CAST(SUM(cnt) AS BIGINT)").alias("n_events"),
    )
    ks = (
        per_user.sparkSession.range(1, _PP_STEPS + 1)
        .select(F.col("id").alias("k"))
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "CAST(k AS BIGINT) AS k",
            f"k * n_users DIV {_PP_STEPS} AS r_k",
            "n_users",
            "n_events",
        )
    )
    return (
        cum.crossJoin(F.broadcast(ks))
        .filter("cum_users >= r_k")
        .groupBy("k", "r_k", "n_users", "n_events")
        .agg(
            F.expr(
                "CAST(MIN(cum_events - (cum_users - r_k) * cnt) AS BIGINT)"
            ).alias("cum_events_topk")
        )
        .select(
            "k",
            F.expr("CAST(r_k AS BIGINT)").alias("n_top_users"),
            "n_users",
            "cum_events_topk",
            "n_events",
            F.expr("cum_events_topk * 1000 DIV n_events").alias(
                "share_permille"
            ),
        )
    )


PARETO_ORACLE = f"""
WITH per_user AS (
  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
hist AS (
  SELECT cnt, CAST(COUNT(*) AS BIGINT) AS m FROM per_user GROUP BY 1),
cum AS (
  SELECT cnt, m, CAST(cnt * m AS BIGINT) AS ev_m,
         SUM(m) OVER (ORDER BY cnt DESC ROWS UNBOUNDED PRECEDING)
           AS cum_users,
         SUM(CAST(cnt * m AS BIGINT)) OVER (ORDER BY cnt DESC
           ROWS UNBOUNDED PRECEDING) AS cum_events
  FROM hist),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(cnt) AS BIGINT) AS n_events
  FROM per_user),
ks AS (
  SELECT CAST(k AS BIGINT) AS k, k * n_users // {_PP_STEPS} AS r_k,
         n_users, n_events
  FROM (SELECT UNNEST(range(1, {_PP_STEPS + 1})) AS k), tot)
SELECT k, CAST(r_k AS BIGINT) AS n_top_users, n_users,
       CAST(MIN(cum_events - (cum_users - r_k) * cnt) AS BIGINT)
         AS cum_events_topk,
       n_events,
       CAST(MIN(cum_events - (cum_users - r_k) * cnt) AS BIGINT)
         * 1000 // n_events AS share_permille
FROM cum CROSS JOIN ks
WHERE cum_users >= r_k
GROUP BY k, r_k, n_users, n_events
"""


# --------------------------------------------------------------------------
# Pairwise source-vocabulary L1 divergence (micro-unit probabilities)
# --------------------------------------------------------------------------


def text_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary divergence between sources: the L1 distance
    Σ_w |p_a(w) - p_b(w)| over unigram distributions, with
    probabilities TRUNCATED to integer micro-units (p = tf * 1e6 DIV
    total — deterministic in both engines; JS divergence proper needs
    logs, and L1 = 2 x total variation carries the same mixture-design
    signal transcendental-free). Absent words contribute their full
    mass via the identity Σ|p_a - p_b| = Σ_shared |p_a - p_b| +
    (P_a - shared_a) + (P_b - shared_b) — so the join only ever
    touches SHARED words, never a full-outer vocabulary matrix.
    l1_micro is bounded by 2e6 regardless of scale.

    Scale shape: one tokenize scan -> (source, word) counts (map-side
    combinable); per-source totals are a bounded rollup broadcast
    back; the shared-word self-join keys on word with |sources|²
    bounded fan-out; final output is |sources|² rows."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    sw = (
        docs.select(
            "source", F.explode(F.expr(words_expr("text"))).alias("w")
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
        # Kept: 0.48 -> 0.67 s at sf0.01 without it (tools/checkpoint_sweep.py).
        .localCheckpoint(eager=True)
    )
    totals = sw.groupBy("source").agg(
        F.expr("CAST(SUM(tf) AS BIGINT)").alias("total")
    )
    p = sw.join(F.broadcast(totals), "source").select(
        "source", "w", F.expr("tf * 1000000 DIV total").alias("p")
    )
    psum = p.groupBy("source").agg(
        F.expr("CAST(SUM(p) AS BIGINT)").alias("p_total"),
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_words"),
    )
    a, b = p.alias("a"), p.alias("b")
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
            F.expr(
                "CAST(SUM(abs(a.p - b.p)) AS BIGINT)"
            ).alias("l1_shared"),
            F.expr("CAST(SUM(a.p) AS BIGINT)").alias("shared_pa"),
            F.expr("CAST(SUM(b.p) AS BIGINT)").alias("shared_pb"),
        )
    )
    pa = psum.select(
        F.col("source").alias("source_a"),
        F.col("p_total").alias("ptot_a"),
        F.col("n_words").alias("n_words_a"),
    )
    pb = psum.select(
        F.col("source").alias("source_b"),
        F.col("p_total").alias("ptot_b"),
        F.col("n_words").alias("n_words_b"),
    )
    return (
        shared.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_words_a",
            "n_words_b",
            "n_shared_words",
            F.expr(
                "l1_shared + (ptot_a - shared_pa) + (ptot_b - shared_pb)"
            ).alias("l1_micro"),
        )
    )


JS_DIVERGENCE_ORACLE = f"""
WITH sw AS (
  SELECT source, w, COUNT(*) AS tf FROM (
    SELECT source, UNNEST({oracle_words_expr("text")}) AS w
    FROM documents)
  GROUP BY 1, 2),
totals AS (
  SELECT source, CAST(SUM(tf) AS BIGINT) AS total FROM sw GROUP BY 1),
p AS (
  SELECT sw.source, w, tf * 1000000 // total AS p
  FROM sw JOIN totals ON sw.source = totals.source),
psum AS (
  SELECT source, CAST(SUM(p) AS BIGINT) AS p_total,
         CAST(COUNT(*) AS BIGINT) AS n_words
  FROM p GROUP BY 1),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared_words,
         CAST(SUM(abs(a.p - b.p)) AS BIGINT) AS l1_shared,
         CAST(SUM(a.p) AS BIGINT) AS shared_pa,
         CAST(SUM(b.p) AS BIGINT) AS shared_pb
  FROM p a JOIN p b ON a.w = b.w AND a.source < b.source
  GROUP BY 1, 2)
SELECT source_a, source_b,
       pa.n_words AS n_words_a, pb.n_words AS n_words_b,
       n_shared_words,
       l1_shared + (pa.p_total - shared_pa) + (pb.p_total - shared_pb)
         AS l1_micro
FROM shared
JOIN psum pa ON pa.source = source_a
JOIN psum pb ON pb.source = source_b
"""


# --------------------------------------------------------------------------
# Sort-key advisor (zone-map skip matrix: candidate key x probe dim)
# --------------------------------------------------------------------------

_SKA_FILES = 32
_SKA_PREDS = 10
_SKA_DIMS = ("u", "h", "v")  # user_id, epoch-hour, floor(value)


def layout_sort_key_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured sort-key choice for the events table: lay the table out
    three ways (value-range placement on user_id, epoch-hour, and
    floor(value) — what ORDER BY that key + a fixed file-size writer
    produces), keep full zone maps (min/max of ALL THREE dims per
    file — what parquet footers actually store), and probe every
    layout with the SAME 10-decile range workload on every dim. The
    (sort_key x probe_dim) skip matrix is the advisor table behind
    every clustering decision: the diagonal shows each key helping its
    own probes; off-diagonals measure what correlated columns ride
    along for free (the hilbert/z-order judge machinery re-read at
    single-key grain).

    Scale shape: ONE scan fans each row to its three placements with
    stack() map-side; zone maps collapse to 3 x _SKA_FILES rows; the
    probe matrix is a bounded (96 x 30) broadcast cross join over
    manifest rows."""
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "CAST(user_id AS BIGINT) AS u",
        "CAST(unix_timestamp(ts) DIV 3600 AS BIGINT) AS h",
        "CAST(floor(value) AS BIGINT) AS v",
    )
    bounds = ev.agg(
        *[
            F.expr(f"CAST(MIN({d}) AS BIGINT)").alias(f"lo_{d}")
            for d in _SKA_DIMS
        ],
        *[
            F.expr(f"CAST(MAX({d}) + 1 AS BIGINT)").alias(f"hi_{d}")
            for d in _SKA_DIMS
        ],
    ).localCheckpoint(eager=True)  # kept: 0.42 -> 0.49 s at sf0.1 without it
    place = [
        f"'{d}', CAST(({d} - lo_{d}) * {_SKA_FILES}"
        f" DIV (hi_{d} - lo_{d}) AS BIGINT)"
        for d in _SKA_DIMS
    ]
    placed = ev.crossJoin(F.broadcast(bounds)).selectExpr(
        "u",
        "h",
        "v",
        f"stack({len(_SKA_DIMS)}, {', '.join(place)})"
        " AS (sort_key, file_id)",
    )
    zones = placed.groupBy("sort_key", "file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            x
            for d in _SKA_DIMS
            for x in (
                F.expr(f"CAST(MIN({d}) AS BIGINT)").alias(f"min_{d}"),
                F.expr(f"CAST(MAX({d}) AS BIGINT)").alias(f"max_{d}"),
            )
        ],
    )
    pred_rows = ", ".join(
        f"'{d}', lo_{d} + (pred_id * (hi_{d} - lo_{d})) DIV {_SKA_PREDS},"
        f" lo_{d} + (pred_id * (hi_{d} - lo_{d})) DIV {_SKA_PREDS}"
        f" + (hi_{d} - lo_{d}) DIV 20"
        for d in _SKA_DIMS
    )
    preds = (
        spark.range(_SKA_PREDS)
        .select(F.col("id").alias("pred_id"))
        .crossJoin(F.broadcast(bounds))
        .selectExpr(
            "pred_id",
            f"stack({len(_SKA_DIMS)}, {pred_rows})"
            " AS (probe_dim, lo, hi)",
        )
    )
    scanned = " ".join(
        f"WHEN probe_dim = '{d}' THEN max_{d} >= lo AND min_{d} < hi"
        for d in _SKA_DIMS
    )
    probed = zones.crossJoin(F.broadcast(preds)).withColumn(
        "scanned", F.expr(f"CASE {scanned} END")
    )
    return (
        probed.groupBy("sort_key", "probe_dim")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_file_probes"),
            F.expr(
                "CAST(SUM(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_scanned"),
            F.expr(
                "CAST(SUM(CASE WHEN scanned THEN n_rows ELSE 0 END)"
                " AS BIGINT)"
            ).alias("rows_scanned_ub"),
        )
        .select(
            "sort_key",
            "probe_dim",
            "n_file_probes",
            "n_scanned",
            F.expr(
                "(n_file_probes - n_scanned) * 1000 DIV n_file_probes"
            ).alias("skip_permille"),
            "rows_scanned_ub",
        )
    )


def _ska_oracle_clean() -> str:
    """DuckDB twin of the advisor: the same arithmetic with UNION ALL
    branches per dim in place of Spark's stack() fan-out."""
    place_branches = " UNION ALL ".join(
        f"SELECT u, h, v, '{d}' AS sort_key,"
        f" ({d} - lo_{d}) * {_SKA_FILES} // (hi_{d} - lo_{d}) AS file_id"
        " FROM ev CROSS JOIN bounds"
        for d in _SKA_DIMS
    )
    pred_branches = " UNION ALL ".join(
        f"SELECT pred_id, '{d}' AS probe_dim,"
        f" lo_{d} + (pred_id * (hi_{d} - lo_{d})) // {_SKA_PREDS} AS lo,"
        f" lo_{d} + (pred_id * (hi_{d} - lo_{d})) // {_SKA_PREDS}"
        f" + (hi_{d} - lo_{d}) // 20 AS hi"
        " FROM ids CROSS JOIN bounds"
        for d in _SKA_DIMS
    )
    scanned = " ".join(
        f"WHEN probe_dim = '{d}' THEN max_{d} >= lo AND min_{d} < hi"
        for d in _SKA_DIMS
    )
    mins = ", ".join(
        f"CAST(MIN({d}) AS BIGINT) AS min_{d},"
        f" CAST(MAX({d}) AS BIGINT) AS max_{d}"
        for d in _SKA_DIMS
    )
    bounds_cols = ", ".join(
        f"CAST(MIN({d}) AS BIGINT) AS lo_{d},"
        f" CAST(MAX({d}) + 1 AS BIGINT) AS hi_{d}"
        for d in _SKA_DIMS
    )
    return f"""
WITH ev AS (
  SELECT CAST(user_id AS BIGINT) AS u,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
         CAST(floor(value) AS BIGINT) AS v
  FROM events),
bounds AS MATERIALIZED (SELECT {bounds_cols} FROM ev),
placed AS ({place_branches}),
zones AS MATERIALIZED (
  SELECT sort_key, file_id, COUNT(*) AS n_rows, {mins}
  FROM placed GROUP BY 1, 2),
ids AS (SELECT UNNEST(range({_SKA_PREDS})) AS pred_id),
preds AS MATERIALIZED ({pred_branches}),
probed AS (
  SELECT sort_key, probe_dim, n_rows,
         CASE {scanned} END AS scanned
  FROM zones CROSS JOIN preds)
SELECT sort_key, probe_dim,
       CAST(COUNT(*) AS BIGINT) AS n_file_probes,
       CAST(SUM(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT)
         AS n_scanned,
       (CAST(COUNT(*) AS BIGINT)
        - CAST(SUM(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT))
         * 1000 // CAST(COUNT(*) AS BIGINT) AS skip_permille,
       CAST(SUM(CASE WHEN scanned THEN n_rows ELSE 0 END) AS BIGINT)
         AS rows_scanned_ub
FROM probed GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Annotation-budget Neyman split (size x dispersion, largest remainder)
# --------------------------------------------------------------------------

_ABS_BUDGET = 10_000  # labels to allocate across strata


def curation_annotation_budget_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Neyman-style annotation-budget allocation across language
    strata: weight_s = n_docs_s x score RANGE (max - min of the
    integer-permille quality composite — the exact-integer dispersion
    proxy; true Neyman uses a standard deviation, whose sqrt the
    transcendental-free convention avoids), apportioned by Hamilton
    largest remainder so quotas sum EXACTLY to the budget; a quota
    exceeding the stratum's doc count is CAPPED with the overflow
    surfaced in its own column (the n_overflow convention — never
    silently dropped), so granted + undistributed == budget holds as
    an auditable identity.

    Scale shape: one scan collapses map-side to |langs| weight rows;
    the apportionment windows run over that bounded relation."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    per_doc = docs.select(
        "lang",
        F.expr(
            "CAST((size(regexp_extract_all(text, '([A-Za-z])', 1)) * 700"
            " + size(regexp_extract_all(text, '(\\\\s)', 1)) * 300)"
            " DIV length(text) AS BIGINT)"
        ).alias("q"),
    )
    stats = per_doc.groupBy("lang").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
        F.expr("CAST(MAX(q) - MIN(q) AS BIGINT)").alias("score_range"),
    ).select(
        "lang",
        "n_docs",
        "score_range",
        # +1 keeps a zero-spread stratum allocatable (pure size weight)
        F.expr("n_docs * (score_range + 1)").alias("weight"),
    )
    tot = stats.agg(F.expr("CAST(SUM(weight) AS BIGINT)").alias("tot"))
    base = stats.join(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "score_range",
        "weight",
        F.expr(f"CAST(({_ABS_BUDGET} * weight) DIV tot AS BIGINT)").alias(
            "base_quota"
        ),
        F.expr(f"CAST({_ABS_BUDGET} * weight % tot AS BIGINT)").alias("rem"),
    )
    alloc = base.select(
        "lang",
        "n_docs",
        "score_range",
        "weight",
        "base_quota",
        "rem",
        F.expr(
            f"base_quota + CAST(CASE WHEN CAST(row_number() OVER ("
            f"ORDER BY rem DESC, lang ASC) AS BIGINT)"
            f" <= {_ABS_BUDGET} - CAST(SUM(base_quota) OVER () AS BIGINT)"
            f" THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("quota"),
    )
    return alloc.select(
        "lang",
        "n_docs",
        "score_range",
        "weight",
        "base_quota",
        "quota",
        F.expr("least(quota, n_docs)").alias("granted"),
        F.expr("quota - least(quota, n_docs)").alias("undistributed"),
    )


def _abs_oracle() -> str:
    return f"""
WITH per_doc AS (
  SELECT lang,
         CAST((len(regexp_extract_all(text, '[A-Za-z]')) * 700
               + len(regexp_extract_all(text, '\\s')) * 300)
              // LENGTH(text) AS BIGINT) AS q
  FROM documents),
stats AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(MAX(q) - MIN(q) AS BIGINT) AS score_range,
         CAST(COUNT(*) AS BIGINT)
           * (CAST(MAX(q) - MIN(q) AS BIGINT) + 1) AS weight
  FROM per_doc GROUP BY lang),
tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS tot FROM stats),
base AS (
  SELECT lang, n_docs, score_range, weight,
         CAST(({_ABS_BUDGET} * weight) // tot AS BIGINT) AS base_quota,
         CAST({_ABS_BUDGET} * weight % tot AS BIGINT) AS rem
  FROM stats CROSS JOIN tot),
alloc AS (
  SELECT lang, n_docs, score_range, weight, base_quota,
         base_quota
         + CAST(CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, lang)
                     <= {_ABS_BUDGET} - SUM(base_quota) OVER ()
                THEN 1 ELSE 0 END AS BIGINT) AS quota
  FROM base)
SELECT lang, n_docs, score_range, weight, base_quota, quota,
       least(quota, n_docs) AS granted,
       quota - least(quota, n_docs) AS undistributed
FROM alloc
"""


QUERIES = {
    "events_power_users_pareto": events_power_users_pareto,
    "text_js_divergence_sources": text_js_divergence_sources,
    "layout_sort_key_advisor": layout_sort_key_advisor,
    "curation_annotation_budget_split": curation_annotation_budget_split,
}

ORACLES = {
    "events_power_users_pareto": PARETO_ORACLE,
    "text_js_divergence_sources": JS_DIVERGENCE_ORACLE,
    "layout_sort_key_advisor": _ska_oracle_clean(),
    "curation_annotation_budget_split": _abs_oracle(),
}
