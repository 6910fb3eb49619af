"""Advanced analytics operators: hypertable rollups, null-aware anti
joins, rolling distinct windows, n-gram shingles through a Python UDTF.

The reference's fixed map->shuffle->reduce skeleton
(lua-mapreduce-server.lua:269-317) can express each of these only as a
chain of separate jobs with driver-side state between them (its shuffle is
literally a server-memory multimap, lua-mapreduce-server.lua:173-183).
Here each is a single declarative Spark plan:

* **Hypertable rollup** — TimescaleDB-style two-level continuous
  aggregate: raw events -> hourly partials -> daily rollup that REUSES the
  hourly partials (sum-of-sums / sum-of-counts / max-of-counts). The
  daily level also reports per-hour statistics (peak hour, active hours)
  that a single-level daily aggregate cannot produce.
* **Null-aware NOT IN** — `NOT IN (subquery)` over a nullable-typed
  column is NOT an anti join: one NULL in the subquery empties the
  result. Spark plans the single-column case as a null-aware anti join
  (BroadcastHashJoin NullAwareAntiJoin) when the build side fits; here
  the build side is a DISTINCT over o_orderpriority (<= 5 rows at any
  scale), so the broadcast is provably bounded.
* **Rolling distinct count** — count of DISTINCT event types in a
  trailing row window per user. Spark has no native windowed
  count-distinct; `size(collect_set() OVER ...)` is the standard
  composition (state bounded by the frame width x type cardinality).

Scale notes: the hypertable rollup is scan -> hourly shuffle
(map-side combine) -> tiny daily shuffle over <= 24x(days) rows. The
rolling window is one shuffle+sort on user_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, load_tables
from lua_mapreduce_spark.functions.exact import dec, dsum_sql
from lua_mapreduce_spark.functions.texthash import oracle_words_expr

# --------------------------------------------------------------------------
# Hypertable rollup: events -> hourly continuous aggregate -> daily
# --------------------------------------------------------------------------

_VAL = dec("value")  # events.value sits on the 2-decimal grid


def agg_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level continuous aggregate (TimescaleDB hypertable rollup).

    Level 1 buckets raw events into hours (the materialized continuous
    aggregate); level 2 rolls hours into days by COMBINING PARTIALS —
    sum-of-sums, sum-of-counts — never re-reading raw rows, and derives
    per-hour shape statistics (peak hour load, active hours) that only a
    two-level plan can produce. The decimal value sum stays in the exact
    decimal domain across BOTH levels; one cast to double at the end.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"SUM({_VAL})").alias("sv"),  # decimal partial: stays exact
    )
    return (
        hourly.groupBy(
            F.date_format(F.date_trunc("day", "hour"), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.expr("CAST(SUM(sv) AS DOUBLE)").alias("sum_value"),
            F.count(F.lit(1)).alias("n_active_hours"),
            F.max("n").alias("peak_hour_events"),
        )
    )


HYPERTABLE_ORACLE = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n, SUM({_VAL}) AS sv
  FROM events GROUP BY 1)
SELECT strftime(date_trunc('day', hour), '%Y-%m-%d') AS day,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(SUM(sv) AS DOUBLE) AS sum_value,
       COUNT(*) AS n_active_hours,
       MAX(n) AS peak_hour_events
FROM hourly GROUP BY 1
"""


# --------------------------------------------------------------------------
# Null-aware NOT IN (single-column null-aware anti join)
# --------------------------------------------------------------------------


def subquery_not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts for priority classes that never appear among flagged
    high-value returns — expressed as `NOT IN (subquery)` over a
    NULLABLE-typed column (NULLIF keeps the type nullable while the data
    stays null-free, so the non-empty result still exercises the
    null-aware plan). The subquery is DISTINCT over o_orderpriority:
    <= 5 rows at any scale factor, so the null-aware anti join's
    build-side broadcast is provably bounded. The price threshold sits
    just under the o_totalprice domain cap so only SOME priority classes
    clear it at the driver's sf0.01 — a non-empty result that actually
    exercises the filter (at other SFs the survivor set legitimately
    shifts; both engines shift identically).
    """
    orders, li = load_tables(spark, sf_dir, "orders", "lineitem")
    orders.createOrReplaceTempView("v_orders")
    li.createOrReplaceTempView("v_lineitem")
    return spark.sql(
        f"""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       {dsum_sql(dec("o_totalprice"), "total_price")}
FROM v_orders
WHERE o_orderpriority NOT IN (
  SELECT DISTINCT NULLIF(o.o_orderpriority, '')
  FROM v_orders o JOIN v_lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE l.l_returnflag = 'R' AND o.o_totalprice > 499900)
GROUP BY o_orderpriority
"""
    )


NOT_IN_ORACLE = f"""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       {dsum_sql(dec("o_totalprice"), "total_price")}
FROM orders
WHERE o_orderpriority NOT IN (
  SELECT DISTINCT NULLIF(o.o_orderpriority, '')
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE l.l_returnflag = 'R' AND o.o_totalprice > 499900)
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Rolling distinct count (windowed count-distinct composition)
# --------------------------------------------------------------------------

_RD_FRAME = 4  # trailing frame: current row + 4 preceding


def window_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct event types seen in each user's trailing 5-row window.

    Spark window aggregates reject DISTINCT; ``size(collect_set())`` is
    the standard equivalent (set state bounded by frame x type
    cardinality). The (ts, event_id) ordering is total, so the ROWS frame
    is deterministic in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-_RD_FRAME, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.size(F.collect_set("event_type").over(w)).alias("n_distinct_types"),
    )


ROLLING_DISTINCT_ORACLE = f"""
SELECT event_id, user_id, event_type,
       CAST(COUNT(DISTINCT event_type) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN {_RD_FRAME} PRECEDING AND CURRENT ROW) AS INTEGER)
       AS n_distinct_types
FROM events
"""


# --------------------------------------------------------------------------
# Python UDTF (table function): positional n-gram shingles via LATERAL
# --------------------------------------------------------------------------

_UDTF_N = 3  # shingle width (word tokens)
_UDTF_MAX_POS = 30  # cap rows per document: bounded fan-out by contract


def _make_shingle_udtf():
    """Row -> rows Python UDTF. Defined in a factory so the class body can
    reference module constants without capturing the module in the pickle.

    The tokenizer mirrors functions/texthash.words_expr exactly
    ([A-Za-z]+ runs, lowercased — the reference's word semantics,
    word-count-taskfile.lua:118-120), so the SQL oracle reproduces the
    output verbatim."""
    import re as _re

    from pyspark.sql.functions import udtf

    n, cap = _UDTF_N, _UDTF_MAX_POS
    word_re = _re.compile(r"[A-Za-z]+")

    @udtf(returnType="pos int, shingle string")
    class _ShingleUDTF:
        def eval(self, text: str):
            toks = [t.lower() for t in word_re.findall(text or "")]
            for i in range(min(len(toks) - n + 1, cap)):
                yield i, " ".join(toks[i : i + n])

    return _ShingleUDTF


def udtf_ngram_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python UDTF surface: one input row -> many output rows via
    `LATERAL udtf(...)` — the table-function slot the reference fills with
    coroutine.yield streams in mapfn (word-count-taskfile.lua:140; a Lua
    map function IS a row-to-rows generator). Emits positional word
    trigrams, capped at _UDTF_MAX_POS rows/doc so the fan-out is bounded
    by contract.

    Scale shape: the UDTF is a pure map-side pass (no shuffle) — rows
    stream through Python workers partition-local. The same semantics are
    expressible JVM-side (posexplode over a transform — see
    text_chunk_tokens), which is why the registry keeps this entry as the
    UDTF *surface* proof, not the hot path for shingling."""
    docs = load_table(spark, sf_dir, "documents")
    spark.udtf.register("ngram_shingles_udtf", _make_shingle_udtf())
    docs.createOrReplaceTempView("v_docs_udtf")
    return spark.sql(
        """
SELECT d.doc_id, s.pos, s.shingle
FROM v_docs_udtf d, LATERAL ngram_shingles_udtf(d.text) s
"""
    )


UDTF_SHINGLES_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {{words}} AS l FROM documents),
idx AS (
  SELECT doc_id, l,
         unnest(range(1, least(len(l) - {_UDTF_N - 2}, {_UDTF_MAX_POS + 1}))) AS p
  FROM toks WHERE len(l) >= {_UDTF_N})
SELECT doc_id, CAST(p - 1 AS INTEGER) AS pos,
       l[p] || ' ' || l[p + 1] || ' ' || l[p + 2] AS shingle
FROM idx
"""


QUERIES = {
    "agg_hypertable_rollup": agg_hypertable_rollup,
    "subquery_not_in_null_aware": subquery_not_in_null_aware,
    "window_rolling_distinct": window_rolling_distinct,
    "udtf_ngram_shingles": udtf_ngram_shingles,
}

ORACLES = {
    "agg_hypertable_rollup": HYPERTABLE_ORACLE,
    "subquery_not_in_null_aware": NOT_IN_ORACLE,
    "window_rolling_distinct": ROLLING_DISTINCT_ORACLE,
    "udtf_ngram_shingles": UDTF_SHINGLES_ORACLE.format(
        words=oracle_words_expr("text")
    ),
}
