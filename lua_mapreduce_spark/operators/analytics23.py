"""Round-16 second wave (the committed bank, SURVEY §7.4 items 66-68;
item 65, eccentricity/diameter, lives in graph.py): langid confusion
matrix, funnel time-to-convert, and the ANN recall@k report.

The reference (rohitjoshi/lua-mapreduce, 1,127 LoC of Lua TCP plumbing;
its one workload is word count, example/word-count-taskfile.lua:73-159)
has none of this surface — these queries extend the repo's text-QA,
event-analytics and similarity families per the driver brief:

* ``text_langid_confusion_matrix`` — declared lang vs the stopword-vote
  prediction, rolled to a bounded (true, predicted) grid with
  row-normalized permille — the audit that says WHERE the heuristic is
  wrong, which a scalar accuracy number cannot.
* ``events_funnel_time_to_convert`` — first-view -> first-purchase
  latency in whole seconds, percentile-profiled per first-touch event
  type — the time dimension the funnel counts flatten away.
* ``sim_recall_at_k_report`` — recall@k of the multitable-LSH and IVF
  indexes against the exact cosine top-k baseline, per k in {1, 5}, in
  exact permille — the accuracy table every ANN deployment publishes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table

# --------------------------------------------------------------------------
# Langid confusion matrix (the QA grid over the stopword-vote predictor)
# --------------------------------------------------------------------------


def text_langid_confusion_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The langid QA table: declared ``lang`` vs the stopword-vote
    prediction, rolled to a (true_lang, pred_lang) doc-count grid with
    the per-true-lang row total and row-normalized permille, plus the
    is_correct diagonal flag — the audit that says WHERE the heuristic
    is wrong (which language bleeds into which), which text_langid's
    doc-grain output and a scalar accuracy number cannot. COMPOSES
    text_langid (the same plan, not a re-derivation — the
    severity-tiers convention), so the grid can never drift from the
    predictions it audits.

    Scale shape: the predictor's one tokenize scan; the confusion
    rollup is a map-side-combinable count into <= |langs| x
    (|langs|+1) groups; the row total is a window over that bounded
    grid (no second scan, no join). Output constant in data scale."""
    from pyspark.sql import Window

    from lua_mapreduce_spark.operators.text import text_langid

    pred = text_langid(spark, sf_dir)
    grid = pred.groupBy("true_lang", "pred_lang").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs")
    )
    wr = Window.partitionBy("true_lang")
    return grid.select(
        "true_lang",
        "pred_lang",
        "n_docs",
        F.sum("n_docs").over(wr).alias("row_total"),
        F.expr("true_lang = pred_lang").alias("is_correct"),
    ).withColumn(
        "row_permille", F.expr("n_docs * 1000 DIV row_total")
    )


def _confusion_oracle() -> str:
    from lua_mapreduce_spark.operators.text import _langid_oracle

    return f"""
WITH pred AS ({_langid_oracle()}),
grid AS (
  SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY 1, 2)
SELECT true_lang, pred_lang, n_docs,
       CAST(SUM(n_docs) OVER (PARTITION BY true_lang) AS BIGINT)
         AS row_total,
       true_lang = pred_lang AS is_correct,
       CAST(n_docs * 1000 // SUM(n_docs) OVER (PARTITION BY true_lang)
            AS BIGINT) AS row_permille
FROM grid
"""


# --------------------------------------------------------------------------
# Funnel time-to-convert (latency percentiles per first-touch type)
# --------------------------------------------------------------------------


def events_funnel_time_to_convert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conversion latency: for every user whose first purchase follows
    their first view, the first-view -> first-purchase delta in WHOLE
    seconds, percentile-profiled (p50/p90/p99 — the agg_percentiles
    exact-interpolation convention, identical in both engines) per the
    user's FIRST-TOUCH event type — the time dimension
    events_funnel_conversion's counts flatten away, split by how the
    journey started (a user who lands on a purchase page converts on a
    different clock than one who starts browsing). First touch is the
    type of the user's earliest event, ties broken by type name via a
    zero-padded '<epoch-µs>|<type>' string MIN — deterministic and
    portable (no min_by tie ambiguity in either engine).

    Scale shape: ONE groupBy(user_id) with conditional min-aggregates
    (map-side combinable — the funnel-conversion shape, no event
    lists, no self-joins); the percentile rollup runs on the converts
    relation grouped into <= |event types| rows. Whole-second integer
    deltas; the only doubles are the percentile interpolations, exact
    halves on integer inputs."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.expr(
            "min(concat(lpad(CAST(unix_micros(ts) AS STRING), 20, '0'),"
            " '|', event_type))"
        ).alias("first_key"),
        F.expr(
            "min(CASE WHEN event_type = 'view' THEN ts END)"
        ).alias("t_view"),
        F.expr(
            "min(CASE WHEN event_type = 'purchase' THEN ts END)"
        ).alias("t_buy"),
    )
    converts = per_user.filter("t_view IS NOT NULL AND t_buy > t_view").select(
        F.expr("substr(first_key, 22)").alias("first_touch"),
        F.expr(
            "CAST((unix_micros(t_buy) - unix_micros(t_view)) DIV 1000000"
            " AS BIGINT)"
        ).alias("delta_s"),
    )
    return converts.groupBy("first_touch").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_converts"),
        F.expr("CAST(MIN(delta_s) AS BIGINT)").alias("min_s"),
        F.expr("percentile(delta_s, 0.5)").alias("p50_s"),
        F.expr("percentile(delta_s, 0.9)").alias("p90_s"),
        F.expr("percentile(delta_s, 0.99)").alias("p99_s"),
        F.expr("CAST(MAX(delta_s) AS BIGINT)").alias("max_s"),
    )


_TTC_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         MIN(lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
             || '|' || event_type) AS first_key,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
  FROM events GROUP BY user_id),
converts AS (
  SELECT substr(first_key, 22) AS first_touch,
         CAST((epoch_us(t_buy) - epoch_us(t_view)) // 1000000 AS BIGINT)
           AS delta_s
  FROM per_user WHERE t_view IS NOT NULL AND t_buy > t_view)
SELECT first_touch,
       CAST(COUNT(*) AS BIGINT) AS n_converts,
       CAST(MIN(delta_s) AS BIGINT) AS min_s,
       quantile_cont(delta_s, 0.5) AS p50_s,
       quantile_cont(delta_s, 0.9) AS p90_s,
       quantile_cont(delta_s, 0.99) AS p99_s,
       CAST(MAX(delta_s) AS BIGINT) AS max_s
FROM converts GROUP BY first_touch
"""


# --------------------------------------------------------------------------
# ANN recall@k report (index QA against the exact baseline)
# --------------------------------------------------------------------------

_RK_KS = (1, 5)  # recall grid; max k = similarity._TOP_K


def sim_recall_at_k_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN QA table: recall@k of the multitable-LSH and IVF indexes
    against the exact cosine top-k baseline, per k in {1, 5}, in exact
    permille — recall@k = |approx top-k ∩ exact top-k| / (queries * k),
    the standard macro-averaged reading with a fixed denominator (an
    index whose bucket starves below k pays the miss — that IS the
    recall loss). COMPOSES the three already-registered index plans
    (sim_cosine_topk, sim_ann_multitable, sim_ivf_topk) — the QA rides
    the same plans it audits, so a plan change shows up here as a
    recall change, not a silent drift.

    Scale shape: each index plan keeps its own 100 TB story (broadcast
    query set, banded LSH candidates, IVF probe cells); their outputs
    are <= queries x k rows, so the exact baseline is localCheckpoint'd
    (BOUNDED: 50 rows) and every hit join/rollup below runs on toy-size
    relations. Doubles never leave the index plans — the report is
    integer counts and permilles."""
    from lua_mapreduce_spark.operators.similarity import (
        _N_QUERIES,
        sim_ann_multitable,
        sim_cosine_topk,
        sim_ivf_topk,
    )

    exact = (
        sim_cosine_topk(spark, sf_dir)
        .select("query_id", "neighbor_id", F.col("rank").alias("e_rank"))
        .localCheckpoint(eager=True)  # kept: pins a nondeterministic relation
    )
    methods = [
        ("lsh_multitable", sim_ann_multitable),
        ("ivf", sim_ivf_topk),
    ]
    hits = None
    for mname, fn in methods:
        ap = fn(spark, sf_dir).select(
            F.lit(mname).alias("method"),
            "query_id",
            "neighbor_id",
            F.col("rank").alias("a_rank"),
        )
        j = ap.join(exact, ["query_id", "neighbor_id"])
        hits = j if hits is None else hits.unionByName(j)
    per_method = hits.groupBy("method").agg(
        *[
            F.expr(
                f"CAST(COUNT_IF(a_rank <= {k} AND e_rank <= {k}) AS BIGINT)"
            ).alias(f"hits_{k}")
            for k in _RK_KS
        ]
    )
    sides = ", ".join(
        f"struct(CAST({k} AS BIGINT) AS k, hits_{k} AS n_hits)"
        for k in _RK_KS
    )
    return (
        per_method.select(
            "method", F.explode(F.expr(f"array({sides})")).alias("p")
        )
        .select(
            "method",
            F.col("p.k").alias("k"),
            F.col("p.n_hits").alias("n_hits"),
            F.expr(f"CAST({_N_QUERIES} AS BIGINT) * p.k").alias(
                "n_possible"
            ),
            F.expr(
                f"p.n_hits * 1000 DIV (CAST({_N_QUERIES} AS BIGINT) * p.k)"
            ).alias("recall_permille"),
        )
    )


def _recall_oracle() -> str:
    from lua_mapreduce_spark.operators.similarity import (
        _N_QUERIES,
        _ivf_oracle,
        _multitable_oracle,
        SIM_TOPK_ORACLE,
    )

    hit_arms = []
    for mname, osql in (
        ("lsh_multitable", "mt"),
        ("ivf", "ivf"),
    ):
        hit_arms.append(
            f"  SELECT '{mname}' AS method, a.rank AS a_rank,"
            f" e.e_rank AS e_rank\n  FROM {osql} a JOIN ex e"
            " ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id"
        )
    hits = "\n  UNION ALL\n".join(hit_arms)
    k_arms = "\n  UNION ALL\n".join(
        f"  SELECT method, CAST({k} AS BIGINT) AS k,"
        f" CAST(COUNT(*) FILTER (WHERE a_rank <= {k} AND e_rank <= {k})"
        f" AS BIGINT) AS n_hits FROM hits GROUP BY method"
        for k in _RK_KS
    )
    return f"""
WITH ex AS MATERIALIZED (
  SELECT query_id, neighbor_id, rank AS e_rank FROM ({SIM_TOPK_ORACLE})),
mt AS (SELECT query_id, neighbor_id, rank FROM ({_multitable_oracle()})),
ivf AS (SELECT query_id, neighbor_id, rank FROM ({_ivf_oracle()})),
hits AS (
{hits}),
grid AS (
{k_arms})
SELECT method, k, n_hits,
       CAST({_N_QUERIES} AS BIGINT) * k AS n_possible,
       n_hits * 1000 // (CAST({_N_QUERIES} AS BIGINT) * k)
         AS recall_permille
FROM grid
"""


QUERIES = {
    "text_langid_confusion_matrix": text_langid_confusion_matrix,
    "events_funnel_time_to_convert": events_funnel_time_to_convert,
    "sim_recall_at_k_report": sim_recall_at_k_report,
}

ORACLES = {
    "text_langid_confusion_matrix": _confusion_oracle(),
    "events_funnel_time_to_convert": _TTC_ORACLE,
    "sim_recall_at_k_report": _recall_oracle(),
}
