"""Round-14 fifth wave (the fourth refill pulled forward, SURVEY §7.4
items 43, 44; item 42, the streaming Pareto snapshot, lives in
streaming_ops.py with the other streaming faces; item 41, Jaccard link
prediction, lives in graph.py): the bigram-surprisal perplexity proxy
and the boilerplate cluster report.

The reference (rohitjoshi/lua-mapreduce, 1,127 LoC of Lua TCP plumbing;
its one workload is word count, example/word-count-taskfile.lua:73-159)
has none of this surface — these queries extend the repo's
text-analysis and curation families per the driver brief:

* ``text_ngram_lm_perplexity_proxy`` — per-doc mean bigram surprisal
  under the corpus bigram model, with -log2 p replaced by the
  LENGTH(BIN(total DIV cnt)) doubling bucket (the transcendental-free
  convention) — the "how surprising is this doc" filter signal next
  to rarity and burstiness.
* ``curation_boilerplate_cluster_report`` — boilerplate at CLUSTER
  grain: docs grouped by their highest-DF boilerplate shingle, with
  per-cluster doc counts, source spread and mean length — the triage
  view the per-doc boilerplate flags hide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, parallelize_scan
from lua_mapreduce_spark.functions.texthash import oracle_words_expr, words_expr

# --------------------------------------------------------------------------
# Bigram-surprisal perplexity proxy (doubling buckets, no logs)
# --------------------------------------------------------------------------


def text_ngram_lm_perplexity_proxy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-document surprisal under the corpus bigram model, with the
    -log2 p term replaced by its DOUBLING BUCKET: surprisal(b) =
    LENGTH(BIN(total_bigrams DIV count(b))) ~ floor(log2(1/p)) + 1 —
    exact integers, no transcendentals (the repo's standing
    convention), monotone in true surprisal so the filter ORDERING a
    curation pass needs is preserved. surprisal_milli = the doc's mean
    bucket x1000 — template/boilerplate docs score low (their bigrams
    are corpus-common), word-soup scores high: the "how surprising"
    signal next to rarity (corpus-rare unigrams) and burstiness.

    Scale shape: one tokenize scan -> exploded (doc, bigram) rows;
    bigram counts are map-side combinable; the join back keys on
    bigram (the inverted-index shuffle every n-gram-grain statistic
    pays — the novelty-query shape); the per-doc rollup is map-side
    combinable; the 1-row total broadcasts."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    db = (
        docs.select("doc_id", F.expr(words_expr("text")).alias("l"))
        .filter(F.size("l") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(l) - 2),"
                    " i -> concat(l[i], ' ', l[i+1]))"
                )
            ).alias("bg"),
        )
    )
    counts = db.groupBy("bg").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("cnt")
    )
    tot = counts.agg(
        F.expr("CAST(SUM(cnt) AS BIGINT)").alias("total")
    )
    return (
        db.join(counts, "bg")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.expr(
                "CAST(LENGTH(BIN(total DIV cnt)) AS BIGINT)"
            ).alias("s"),
        )
        .groupBy("doc_id")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_bigrams"),
            F.expr("CAST(SUM(s) AS BIGINT)").alias("total_surprisal"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "total_surprisal",
            F.expr("total_surprisal * 1000 DIV n_bigrams").alias(
                "surprisal_milli"
            ),
        )
    )


PERPLEXITY_ORACLE = f"""
WITH db AS (
  SELECT doc_id, bg FROM (
    SELECT doc_id, {oracle_words_expr("text")} AS l FROM documents) t,
    UNNEST(list_transform(range(1, len(l)),
           i -> l[i] || ' ' || l[i+1])) AS s(bg)
  WHERE len(l) >= 2),
counts AS (
  SELECT bg, CAST(COUNT(*) AS BIGINT) AS cnt FROM db GROUP BY bg),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(CAST(LENGTH(BIN(total // cnt)) AS BIGINT)) AS BIGINT)
         AS total_surprisal,
       CAST(SUM(CAST(LENGTH(BIN(total // cnt)) AS BIGINT)) AS BIGINT)
         * 1000 // CAST(COUNT(*) AS BIGINT) AS surprisal_milli
FROM db JOIN counts USING (bg) CROSS JOIN tot
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Boilerplate cluster report (docs grouped by top boilerplate shingle)
# --------------------------------------------------------------------------


def curation_boilerplate_cluster_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Boilerplate at CLUSTER grain: each doc containing one of the
    corpus's top boilerplate shingles (text_boilerplate_ngrams'
    _BOILER_TOPK highest-DF trigrams — SHARED constants, so cluster
    report and per-doc flag can never disagree about what counts as
    boilerplate) is assigned to its highest-DF such shingle (ties:
    shingle ASC), and each cluster reports doc count, distinct-source
    spread, and mean doc length — the "which template, how widespread,
    from where" triage the per-doc boiler_frac flags hide.

    Scale shape: one tokenize scan -> DISTINCT (doc, shingle) rows;
    the boilerplate head is a bounded top-k (TakeOrderedAndProject)
    joined back by shingle; the per-doc argmax compiles to
    WindowGroupLimit; the cluster rollup is <= _BOILER_TOPK rows."""
    from lua_mapreduce_spark.operators.curation import (
        _BOILER_N,
        _BOILER_TOPK,
        _shingles_expr,
    )

    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    tg = (
        docs.select(
            "doc_id",
            "source",
            F.length("text").alias("n_chars"),
            F.expr(words_expr("text")).alias("l"),
        )
        .filter(F.size("l") >= _BOILER_N)
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.explode(F.expr(_shingles_expr(_BOILER_N))).alias("sg"),
        )
        .distinct()
    )
    top = (
        tg.groupBy("sg")
        .agg(F.expr("CAST(COUNT(DISTINCT doc_id) AS BIGINT)").alias("df"))
        .orderBy(F.desc("df"), F.asc("sg"))
        .limit(_BOILER_TOPK)
    )
    wd = Window.partitionBy("doc_id").orderBy(F.desc("df"), F.asc("sg"))
    assigned = (
        tg.join(top, "sg")
        .withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
    )
    return (
        assigned.groupBy("sg", "df")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
            F.expr("CAST(COUNT(DISTINCT source) AS BIGINT)").alias(
                "n_sources"
            ),
            F.expr("CAST(SUM(n_chars) AS BIGINT)").alias("total_chars"),
        )
        .select(
            F.col("sg").alias("shingle"),
            "df",
            "n_docs",
            "n_sources",
            "total_chars",
            F.expr("total_chars DIV n_docs").alias("mean_chars"),
        )
    )


def _bcr_oracle() -> str:
    from lua_mapreduce_spark.operators.curation import (
        _BOILER_N,
        _BOILER_TOPK,
        _oracle_shingles_expr,
    )

    return f"""
WITH toks AS (
  SELECT doc_id, source, LENGTH(text) AS n_chars,
         {oracle_words_expr("text")} AS l
  FROM documents),
tg AS (
  SELECT DISTINCT doc_id, source, n_chars, s.sg
  FROM toks, UNNEST({_oracle_shingles_expr(_BOILER_N)}) AS s(sg)
  WHERE len(l) >= {_BOILER_N}),
top AS (
  SELECT sg, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM tg GROUP BY sg
  ORDER BY df DESC, sg LIMIT {_BOILER_TOPK}),
assigned AS (
  SELECT tg.doc_id, tg.source, tg.n_chars, tg.sg, top.df
  FROM tg JOIN top ON tg.sg = top.sg
  QUALIFY ROW_NUMBER() OVER (PARTITION BY tg.doc_id
                             ORDER BY top.df DESC, tg.sg) = 1)
SELECT sg AS shingle, df,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
         AS mean_chars
FROM assigned
GROUP BY sg, df
"""


QUERIES = {
    "text_ngram_lm_perplexity_proxy": text_ngram_lm_perplexity_proxy,
    "curation_boilerplate_cluster_report": curation_boilerplate_cluster_report,
}

ORACLES = {
    "text_ngram_lm_perplexity_proxy": PERPLEXITY_ORACLE,
    "curation_boilerplate_cluster_report": _bcr_oracle(),
}
