"""Analytics wave 2 (round 7): community detection, market-basket rules,
n-gram count-of-counts, index delta encoding, and key-skew diagnostics.

Classic distributed-analytics workloads the wave-1 module (analytics.py)
doesn't cover, each with a full DuckDB value oracle:

- **Label propagation (LPA)**: synchronous min-tie-break label
  propagation over the capped part co-purchase graph — community
  detection, the third member of the iterative-graph family next to
  PageRank and k-core. Fixed unrolled rounds (the PageRank convention)
  keep the plan finite and the oracle an unrolled CTE chain; the
  mode-label update with a deterministic (count DESC, label ASC) tie
  rule makes every round integer-exact in both engines.
- **Market-basket association rules**: pair support / confidence / lift
  over parts sharing an order — the A-priori first pass as one
  self-join + three aggregations. Reuses the per-order fan-out cap from
  the graph edge build, so a pathological hot basket cannot explode the
  pair shuffle; all rule metrics are integer permille (truncating
  division) for cross-engine exactness.
- **Count-of-counts**: frequency-of-frequencies N_c for unigrams and
  bigrams — the sufficient statistic for Good-Turing / Kneser-Ney
  smoothing and a corpus-health fingerprint. Two map-side-combinable
  aggregations; the second input is already tiny (distinct counts).
- **Delta-gap postings**: the inverted index's posting lists re-encoded
  as first-doc + ascending gaps — the storage layout every real index
  uses (gaps are small -> varint-friendly). Gap arithmetic is a lag
  window inside each term partition; serialization follows the
  concat_ws string convention (driver-canonicalizer-safe).
- **Key-skew profile**: the diagnostic a 100 TB operator runs BEFORE
  choosing a salt factor / AQE threshold: per-key group sizes reduced to
  count/max/exact-percentiles plus the argmax hot key in one pass over
  the (already aggregated) key table.

The reference engine has no analogue for any of these (its one workload
is word count, example/word-count-taskfile.lua:73-159). Zero Python in
any row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, parallelize_scan
from lua_mapreduce_spark.functions.texthash import oracle_words_expr, words_expr
from lua_mapreduce_spark.memo import memo
from lua_mapreduce_spark.operators.analytics import (
    _capped_order_items,
    _copurchase_derived,
    _copurchase_pairs,
    _CP_CAPPED_SQL,
    _CP_PAIRS_SQL,
)

# --------------------------------------------------------------------------
# Label propagation (community detection, fixed unrolled rounds)
# --------------------------------------------------------------------------

_LPA_ROUNDS = 3


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, community): _LPA_ROUNDS synchronous LPA rounds over the
    capped co-purchase graph; label(n) <- the most frequent label among
    n's neighbors, ties to the SMALLEST label (deterministic -> exact
    unrolled-CTE oracle). Initial label = node id.

    Scale shape per round: one join of the directed edge list against the
    <= |nodes| label relation, then a map-side-combinable (node, label)
    count and a single max(struct(count, -label)) aggregation per node —
    no window sort. Unlike k-core (which references its edge relation 2-3
    times per round and NEEDS per-round localCheckpoint against the 2^r
    lineage blowup), each LPA round references the label relation exactly
    once, so lineage grows linearly and only the initial node relation is
    checkpointed — measured ~10% faster than checkpointing every round at
    sf0.1, identical results. The argmax trick: max over (count, -label)
    structs picks the highest count and, within it, the smallest label
    (labels are node ids, non-negative by schema, so the negation is a
    safe total-order flip — the same assumption the skew profile's
    -user_id argmax makes)."""
    # Shared memoized symmetrized edge list: joined once per round plus
    # the label seed, so the single materialization replaces per-round
    # re-expansion of the checkpointed pairs.
    sym = _copurchase_derived(spark, sf_dir, "sym")
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    for _ in range(_LPA_ROUNDS):
        msgs = sym.join(
            labels.select(F.col("node").alias("src"), "lbl"), "src"
        ).select(F.col("dst").alias("node"), "lbl")
        # One exchange for BOTH aggregations (r17 optimization round,
        # guide §2.4): hashpartitioning(node) satisfies the clustered
        # distribution of groupBy(node, lbl) AND groupBy(node), so the
        # explicit repartition replaces the two aggregate exchanges of
        # the previous form with one. The trade is map-side combining on
        # (node, lbl) — worth ~nothing here because a neighbor list's
        # labels are near-unique within a map task (dup factor ~1), so
        # the raw message stream crossing the single exchange is the
        # same volume the combined partials were.
        cnt = (
            msgs.repartition("node")
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            cnt.groupBy("node")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))).alias("m"))
            .select("node", (-F.col("m.nl")).alias("lbl"))
        )
    return labels.select("node", F.col("lbl").alias("community"))


def _lpa_oracle() -> str:
    ctes = [
        f"""{_CP_PAIRS_SQL},
sym AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM pairs
  UNION ALL SELECT v AS src, u AS dst FROM pairs),
l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM sym)"""
    ]
    for r in range(_LPA_ROUNDS):
        ctes.append(f"""c{r} AS MATERIALIZED (
  SELECT e.dst AS node, l.lbl, COUNT(*) AS c
  FROM sym e JOIN l{r} l ON e.src = l.node
  GROUP BY 1, 2),
l{r + 1} AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY c DESC, lbl ASC) AS rn
    FROM c{r})
  WHERE rn = 1)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, lbl AS community FROM l{_LPA_ROUNDS}\n"
    )


# --------------------------------------------------------------------------
# Market-basket association rules (pair support / confidence / lift)
# --------------------------------------------------------------------------

_MB_TOP_K = 50

@memo
def _mb_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped per-order items, materialized once — referenced by pair
    support, item support, and the order count."""
    return _capped_order_items(
        load_table(spark, sf_dir, "lineitem")
    ).localCheckpoint(eager=True)


def events_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-_MB_TOP_K association rules u -> v over parts sharing an order:
    support(u,v), support(u), support(v), confidence and lift in integer
    permille. One capped self-join produces per-order pair instances
    (support = pair row count, since items are distinct per order); item
    supports are a map-side-combinable count; n_orders is a 1-row
    broadcast. The top-k frontier orders by (lift DESC, support DESC,
    u, v) — total and deterministic, so LIMIT is stable cross-engine."""
    items = _mb_items(spark, sf_dir)
    a, b = items.alias("a"), items.alias("b")
    pair_sup = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("sup"))
    )
    item_sup = items.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).alias("isup")
    )
    tot = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    rules = (
        pair_sup.join(
            item_sup.select(F.col("p").alias("u"), F.col("isup").alias("sup_u")), "u"
        )
        .join(
            item_sup.select(F.col("p").alias("v"), F.col("isup").alias("sup_v")), "v"
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "u",
            "v",
            "sup",
            "sup_u",
            "sup_v",
            F.expr("(1000 * sup) DIV sup_u").alias("confidence_permille"),
            F.expr("(1000 * n_orders * sup) DIV (sup_u * sup_v)").alias(
                "lift_permille"
            ),
        )
    )
    w = Window.orderBy(
        F.desc("lift_permille"), F.desc("sup"), F.asc("u"), F.asc("v")
    )
    return (
        rules.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _MB_TOP_K)
        .drop("rank")
    )


MARKET_BASKET_ORACLE = f"""
WITH {_CP_CAPPED_SQL},
pair_sup AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS sup
  FROM capped a JOIN capped b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2),
item_sup AS (
  SELECT l_partkey AS p, COUNT(*) AS isup FROM capped GROUP BY 1),
tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM capped),
rules AS (
  SELECT u, v, sup, su.isup AS sup_u, sv.isup AS sup_v,
         (1000 * sup) // su.isup AS confidence_permille,
         (1000 * n_orders * sup) // (su.isup * sv.isup) AS lift_permille
  FROM pair_sup
  JOIN item_sup su ON su.p = u
  JOIN item_sup sv ON sv.p = v
  CROSS JOIN tot)
SELECT u, v, sup, sup_u, sup_v, confidence_permille, lift_permille
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY lift_permille DESC, sup DESC,
                               u ASC, v ASC) AS rank
  FROM rules)
WHERE rank <= {_MB_TOP_K}
"""


# --------------------------------------------------------------------------
# N-gram count-of-counts (Good-Turing / Kneser-Ney sufficient statistic)
# --------------------------------------------------------------------------


def text_count_of_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ngram_order, freq, n_types): how many distinct unigrams/bigrams
    occur exactly `freq` times. Two aggregations per order — the type
    count (map-side combinable over the corpus) and the tiny
    frequency-of-frequency rollup (input = distinct counts). The Zipf
    sanity built in: N_1 dominates types, high freqs are sparse."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.expr(words_expr("text")).alias("l"))
    uni = (
        toks.select(F.explode("l").alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(F.col("c").alias("freq"))
        .agg(F.count(F.lit(1)).alias("n_types"))
        .select(F.lit(1).alias("ngram_order"), "freq", "n_types")
    )
    bi = (
        toks.filter(F.size("l") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(l) - 2),"
                    " i -> concat(l[i], ' ', l[i+1]))"
                )
            ).alias("g")
        )
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(F.col("c").alias("freq"))
        .agg(F.count(F.lit(1)).alias("n_types"))
        .select(F.lit(2).alias("ngram_order"), "freq", "n_types")
    )
    return uni.unionAll(bi)


COUNT_OF_COUNTS_ORACLE = f"""
WITH toks AS (SELECT {oracle_words_expr("text")} AS l FROM documents),
uni_c AS (
  SELECT t.g, COUNT(*) AS c
  FROM toks, unnest(l) AS t(g) GROUP BY t.g),
bi_c AS (
  SELECT b.g, COUNT(*) AS c
  FROM toks, unnest(list_transform(range(1, len(l)),
                                   i -> l[i] || ' ' || l[i+1])) AS b(g)
  WHERE len(l) >= 2 GROUP BY b.g)
SELECT CAST(1 AS INT) AS ngram_order, c AS freq, COUNT(*) AS n_types
FROM uni_c GROUP BY c
UNION ALL
SELECT CAST(2 AS INT) AS ngram_order, c AS freq, COUNT(*) AS n_types
FROM bi_c GROUP BY c
"""


# --------------------------------------------------------------------------
# Delta-gap-encoded postings (index storage layout)
# --------------------------------------------------------------------------

_PD_MIN_DF = 100  # same floor as text_inverted_index (calibrated to corpus)
_PD_CAP = 16  # serialized gap prefix length (full list stays row-level)


def text_postings_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, df, first_doc, max_gap, gaps_csv): the inverted index with
    delta-gap-encoded postings — each term's sorted doc ids stored as the
    first id plus ascending gaps (gap_0 = doc_0 + 1 from the -1 origin),
    the layout that makes posting lists varint-compressible. The gap is a
    lag window inside each term partition; its word-partition exchange
    runs AFTER the (word, doc_id) tf aggregation, so only collapsed
    posting rows — not raw tokens — reach it. The serialized prefix
    follows the concat_ws convention (no top-level arrays)."""
    from lua_mapreduce_spark.operators.curation import inverted_index_postings

    tf = inverted_index_postings(spark, sf_dir)
    w = Window.partitionBy("word").orderBy("doc_id")
    gaps = tf.select(
        "word",
        "doc_id",
        (F.col("doc_id") - F.lag("doc_id", 1, -1).over(w)).alias("gap"),
        F.row_number().over(w).alias("rn"),
    )
    # Bounded collect: only the first _PD_CAP postings per term enter the
    # aggregation buffer (collect_list skips the NULLs the WHEN emits), so
    # a stopword with millions of postings cannot blow a single buffer —
    # df and max_gap still aggregate over the FULL gap stream.
    prefix = F.transform(
        F.sort_array(
            F.collect_list(
                F.when(F.col("rn") <= _PD_CAP, F.struct("rn", "gap"))
            )
        ),
        lambda s: s["gap"].cast("string"),
    )
    return (
        gaps.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.min("doc_id").alias("first_doc"),
            F.expr("CAST(MAX(gap) AS BIGINT)").alias("max_gap"),
            F.concat_ws(",", prefix).alias("gaps_csv"),
        )
        .filter(F.col("df") >= _PD_MIN_DF)
    )


POSTINGS_DELTA_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, w.word
  FROM documents, unnest({oracle_words_expr("text")}) AS w(word)),
tf AS (
  SELECT word, doc_id FROM toks GROUP BY word, doc_id),
g AS (
  SELECT word, doc_id,
         doc_id - COALESCE(LAG(doc_id) OVER (PARTITION BY word
                                             ORDER BY doc_id), -1) AS gap
  FROM tf)
SELECT word, COUNT(*) AS df, MIN(doc_id) AS first_doc,
       CAST(MAX(gap) AS BIGINT) AS max_gap,
       array_to_string(
         list_transform(list_sort(list([doc_id, gap]))[1:{_PD_CAP}],
                        p -> CAST(p[2] AS VARCHAR)), ',') AS gaps_csv
FROM g GROUP BY word HAVING COUNT(*) >= {_PD_MIN_DF}
"""


# --------------------------------------------------------------------------
# Key-skew profile (the pre-salting diagnostic)
# --------------------------------------------------------------------------


def diag_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row skew profile of the events-per-user distribution: key
    count, row count, max/exact-percentile group sizes, IEEE mean, and
    the argmax hot key — the numbers that decide whether a join on this
    key needs salting and at what factor. Exact percentiles run over the
    ALREADY-AGGREGATED key table (orders of magnitude smaller than the
    facts); at extreme key cardinality swap in approx_percentile — the
    profile is advisory, only this oracle needs exactness. The hot key
    falls out of the same aggregation via max(struct(n, -key))."""
    ev = load_table(spark, sf_dir, "events")
    sizes = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.expr("CAST(SUM(n) AS BIGINT)").alias("n_rows"),
        F.max("n").alias("max_size"),
        F.expr("percentile(n, 0.5)").alias("p50_size"),
        F.expr("percentile(n, 0.99)").alias("p99_size"),
        F.max(F.struct(F.col("n"), (-F.col("user_id")).alias("nk"))).alias("m"),
    ).select(
        "n_keys",
        "n_rows",
        "max_size",
        "p50_size",
        "p99_size",
        F.expr("CAST(n_rows AS DOUBLE) / n_keys").alias("mean_size"),
        (-F.col("m.nk")).alias("top_key"),
        F.col("m.n").alias("top_size"),
    )


KEY_SKEW_ORACLE = """
WITH sizes AS (
  SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
prof AS (
  SELECT COUNT(*) AS n_keys,
         CAST(SUM(n) AS BIGINT) AS n_rows,
         MAX(n) AS max_size,
         quantile_cont(n, 0.5) AS p50_size,
         quantile_cont(n, 0.99) AS p99_size
  FROM sizes),
top AS (
  SELECT user_id AS top_key, n AS top_size
  FROM sizes ORDER BY n DESC, user_id ASC LIMIT 1)
SELECT n_keys, n_rows, max_size, p50_size, p99_size,
       CAST(n_rows AS DOUBLE) / n_keys AS mean_size,
       top_key, top_size
FROM prof CROSS JOIN top
"""


# --------------------------------------------------------------------------
# Per-document keyword extraction (rarity-weighted top terms)
# --------------------------------------------------------------------------

_KW_TOP = 3


def text_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-_KW_TOP keywords per document by integer rarity-weighted term
    frequency: score_milli = (1000 * tf * N) DIV df — the tf-idf ranking
    with the transcendental log replaced by the monotone N/df rarity
    ratio, so every score is integer-exact in both engines.

    Shape: tokenize once; tf is a (doc, word) count; df reuses the tf
    relation (one extra map-combinable agg, no second scan); N is a 1-row
    broadcast. The per-doc frontier is a PARTITIONED row_number <= k,
    which compiles to WindowGroupLimit — each map task truncates to k
    rows per doc before the shuffle, so output is exactly k rows per
    document at any corpus size (contrast the corpus-level text_tfidf,
    curation.py, which scores globally)."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.expr(words_expr("text"))).alias("word")
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            F.expr("(1000 * tf * n_docs) DIV df").alias("score_milli"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_milli"), F.asc("word")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _KW_TOP)
    )


KEYWORD_EXTRACTION_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, t.word AS word
  FROM (SELECT doc_id, {oracle_words_expr("text")} AS l FROM documents),
       unnest(l) AS t(word)),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, tf.word AS word, tf, df,
         (1000 * tf * n_docs) // df AS score_milli
  FROM tf JOIN dfreq ON tf.word = dfreq.word CROSS JOIN n)
SELECT doc_id, word, tf, df, score_milli, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score_milli DESC, word ASC) AS rank
  FROM scored)
WHERE rank <= {_KW_TOP}
"""


# --------------------------------------------------------------------------
# RFM customer segmentation (log-width buckets, no global sort)
# --------------------------------------------------------------------------


def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/Frequency/Monetary segmentation of the events user base.

    Per-user stats are one map-combinable aggregation; each RFM dimension
    is then bucketed with the log2-width LENGTH(BIN(x)) trick
    (curation_length_buckets, scale_ops2.py) — assigned map-side, exact
    in both engines, and NOT the equal-frequency ntile formulation, whose
    global sort funnels every user through one reducer. The corpus max
    day is a 1-row broadcast. Output is bounded by the bucket cube
    (~15^3), independent of user count."""
    ev = load_table(spark, sf_dir, "events")
    day = "CAST(date_trunc('DAY', ts) AS DATE)"
    per_user = ev.groupBy("user_id").agg(
        F.expr(f"MAX({day})").alias("last_day"),
        F.count(F.lit(1)).alias("n_events"),
        F.expr(
            "CAST(SUM(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT)"
        ).alias("monetary_cents"),
    )
    maxd = ev.agg(F.expr(f"MAX({day})").alias("max_day"))
    seg = per_user.crossJoin(F.broadcast(maxd)).select(
        F.expr("LENGTH(BIN(datediff(max_day, last_day) + 1))").alias("r_bucket"),
        F.expr("LENGTH(BIN(n_events))").alias("f_bucket"),
        F.expr("LENGTH(BIN(monetary_cents + 1))").alias("m_bucket"),
        "monetary_cents",
    )
    return seg.groupBy("r_bucket", "f_bucket", "m_bucket").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.expr("CAST(SUM(monetary_cents) AS BIGINT)").alias("sum_cents"),
    )


RFM_SEGMENTS_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         MAX(CAST(date_trunc('day', ts) AS DATE)) AS last_day,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS monetary_cents
  FROM events GROUP BY 1),
mx AS (SELECT MAX(CAST(date_trunc('day', ts) AS DATE)) AS max_day FROM events),
seg AS (
  SELECT LENGTH(BIN(date_diff('day', last_day, max_day) + 1)) AS r_bucket,
         LENGTH(BIN(n_events)) AS f_bucket,
         LENGTH(BIN(monetary_cents + 1)) AS m_bucket,
         monetary_cents
  FROM per_user CROSS JOIN mx)
SELECT r_bucket, f_bucket, m_bucket,
       COUNT(*) AS n_users,
       CAST(SUM(monetary_cents) AS BIGINT) AS sum_cents
FROM seg GROUP BY 1, 2, 3
"""


QUERIES = {
    "graph_label_propagation": graph_label_propagation,
    "events_market_basket": events_market_basket,
    "text_count_of_counts": text_count_of_counts,
    "text_postings_delta": text_postings_delta,
    "diag_key_skew_profile": diag_key_skew_profile,
    "text_keyword_extraction": text_keyword_extraction,
    "events_rfm_segments": events_rfm_segments,
}

ORACLES = {
    "graph_label_propagation": _lpa_oracle(),
    "events_market_basket": MARKET_BASKET_ORACLE,
    "text_count_of_counts": COUNT_OF_COUNTS_ORACLE,
    "text_postings_delta": POSTINGS_DELTA_ORACLE,
    "diag_key_skew_profile": KEY_SKEW_ORACLE,
    "text_keyword_extraction": KEYWORD_EXTRACTION_ORACLE,
    "events_rfm_segments": RFM_SEGMENTS_ORACLE,
}
