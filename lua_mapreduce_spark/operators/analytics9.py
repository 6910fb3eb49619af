"""Round-13 second wave (the r14 bank pulled forward): explicit-register
HyperLogLog, Holt double exponential smoothing, and RAKE keyword
extraction.

The reference (rohitjoshi/lua-mapreduce, 1,127 LoC of Lua TCP plumbing;
its one workload is word count, example/word-count-taskfile.lua:73-159)
has none of this surface — these queries extend the repo's sketch,
forecasting and text-analysis families per the driver brief:

* ``agg_hll_sketch`` — HyperLogLog (Flajolet et al. 2007) with EXPLICIT
  deterministic registers: unlike ``agg_approx_distinct_sketch`` (Spark's
  native approx_count_distinct, whose internal sketch cannot be
  replayed and is gated only by a boolean accuracy check), this builds
  the 64 registers from md5 bits, so the DuckDB oracle replays register
  construction, the merge, AND the harmonic-mean estimator bit-for-bit.
* ``events_holt_winters`` — Holt's double exponential smoothing (level
  + trend; Holt 1957): the forecasting complement of the CUSUM detector
  pair, expressed as the depth-truncated linear combination of lagged
  values with EXACT dyadic coefficients (the window_ewma_dyadic
  convention, extended to the coupled two-state recurrence).
* ``text_rake_keywords`` — RAKE (Rose et al. 2010): stopword-delimited
  candidate phrases scored by word degree/frequency, the phrase-level
  complement of text_keyword_extraction's unigram rarity.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, parallelize_scan
from lua_mapreduce_spark.functions.texthash import (
    md5_bigint_expr,
    oracle_md5_bigint_expr,
    oracle_words_expr,
    words_expr,
)

# --------------------------------------------------------------------------
# HyperLogLog with explicit, oracle-replayable registers
# --------------------------------------------------------------------------

_HLL_P = 6  # 2^6 = 64 registers
_HLL_M = 1 << _HLL_P
_HLL_WBITS = 60 - _HLL_P  # md5_bigint yields 60 hash bits; 54 rank bits
# alpha_64 per Flajolet et al. 2007 Table: alpha_m = 0.7213/(1+1.079/m)
# for m >= 128; m = 64 uses the published constant 0.709.
_HLL_ALPHA = 0.709


def _hll_registers_sql(set_col: str) -> list[str]:
    """Engine-shared register arithmetic over a 60-bit hash column ``h``:
    register index = top _HLL_P bits, rank = leading zeros of the
    remaining _HLL_WBITS bits + 1 (bit-length via LENGTH(BIN(w)) — the
    RFM log2-bucket idiom, identical in Spark and DuckDB; w = 0, i.e.
    all rank bits zero, has rank _HLL_WBITS + 1)."""
    return [
        f"CAST(h DIV {1 << _HLL_WBITS} AS BIGINT) AS reg",
        f"CAST(CASE WHEN h % {1 << _HLL_WBITS} = 0 THEN {_HLL_WBITS + 1}"
        f" ELSE {_HLL_WBITS} - LENGTH(BIN(h % {1 << _HLL_WBITS})) + 1 END"
        f" AS BIGINT) AS rank_bits",
        set_col,
    ]


# The harmonic-mean estimate: alpha * m^2 / (zeros * 1.0 + sum over
# PRESENT registers of 2^-rank). Every 2^-rank is a dyadic double
# (exact), the fold runs register-ascending in BOTH engines, and the
# zeros term is an exact integer-to-double conversion — so the estimate
# is bit-identical cross-engine and the floor() to BIGINT is safe.
_HLL_EST_SPARK = (
    f"CAST(floor({_HLL_ALPHA!r} * {_HLL_M} * {_HLL_M} / ("
    f"CAST({_HLL_M} - size(regs) AS DOUBLE)"
    " + aggregate(regs, CAST(0.0 AS DOUBLE),"
    " (acc, r) -> acc + 1.0 / CAST(shiftleft(CAST(1 AS BIGINT), CAST(r.rank_bits AS INT)) AS DOUBLE))"
    ")) AS BIGINT)"
)


def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count with EXPLICIT registers (Flajolet et
    al. 2007): per part-key bucket (l_partkey % 3 — three DISJOINT
    sets, so the union is a real composition, not an overlap identity),
    64 registers of max leading-zero ranks over md5(l_partkey) —
    register max is order-insensitive and mergeable by greatest(),
    which the 'merged' row PROVES by estimating the global distinct
    count from the register-wise max of the three bucket sketches
    (never rescanning the data: the HLL union property). The harmonic-mean estimate is computed from the register
    array with the same dyadic-exact left fold in both engines, so —
    unlike agg_approx_distinct_sketch, whose engine-native sketch is
    opaque — construction, merge, estimator, and the error-vs-exact
    audit are ALL value-checked by the oracle.

    Scale shape (r16 optimization round): ONE lineitem scan. The old
    form scanned lineitem four times (registers, merged registers,
    per-bucket exact, global exact); every one of those relations is a
    function of the DISTINCT key set, which is bounded by the part-key
    domain — orders of magnitude below |lineitem| — so the query now
    collapses to distinct (set_name, l_partkey) once (map-side
    combinable), checkpoints that narrow relation, and derives all four
    faces from it. MAX over registers is duplicate-insensitive and the
    hash is a function of the key, so registers over distinct keys are
    identical; the buckets PARTITION the key domain (set_name is a
    function of the key), so per-bucket exact counts are plain COUNTs
    over the distinct relation and the global exact count is their SUM —
    the oracle (unchanged, still two COUNT(DISTINCT) scans) value-checks
    both identities. The per-(set, register) max collapses to <= 3 * 64
    rows before any exchange (the fixed-size-sketch property IN the
    plan, the KMV convention); the estimate folds a 64-element array
    per output row. int64-safe: ranks <= 55, shifts stay below 2^56."""
    li = load_table(spark, sf_dir, "lineitem")
    dk = (
        li.selectExpr(
            "l_partkey",
            "concat('bucket_', CAST(l_partkey % 3 AS STRING)) AS set_name",
        )
        .distinct()
        # Kept: test_r16_single_scan_collapses pins the single lineitem pass.
        .localCheckpoint(eager=True)
    )
    h = md5_bigint_expr("concat('hll-', CAST(l_partkey AS STRING))")
    hashed = dk.selectExpr(f"{h} AS h", "set_name")
    # <= 3 * 64 rows.
    regs = (
        hashed.selectExpr(*_hll_registers_sql("set_name"))
        .groupBy("set_name", "reg")
        .agg(F.expr("CAST(MAX(rank_bits) AS BIGINT)").alias("rank_bits"))
    )
    merged = regs.groupBy("reg").agg(
        F.expr("CAST(MAX(rank_bits) AS BIGINT)").alias("rank_bits")
    ).select(F.lit("merged").alias("set_name"), "reg", "rank_bits")
    all_regs = regs.unionByName(merged)
    # <= 64 rows per set by construction (the register domain) — the
    # collect is the bounded sketch itself, array-sorted so the
    # estimate's fold order is register-ascending in both engines.
    folded = all_regs.groupBy("set_name").agg(
        F.expr(
            "array_sort(collect_list(struct(reg, rank_bits)))"
        ).alias("regs")
    )
    ests = folded.select(
        "set_name",
        F.expr("CAST(size(regs) AS BIGINT)").alias("n_regs"),
        F.expr(_HLL_EST_SPARK).alias("est_n"),
    )
    exact = dk.groupBy("set_name").agg(F.count(F.lit(1)).alias("exact_n"))
    exact_all = exact.unionByName(
        exact.agg(F.expr("CAST(SUM(exact_n) AS BIGINT)").alias("exact_n"))
        .select(F.lit("merged").alias("set_name"), "exact_n")
    )
    return ests.join(exact_all, "set_name").select(
        "set_name",
        "n_regs",
        F.expr("CAST(exact_n AS BIGINT)").alias("exact_n"),
        "est_n",
        F.expr(
            "CAST(abs(est_n - exact_n) * 1000 DIV exact_n AS BIGINT)"
        ).alias("err_permille"),
    )


def _hll_oracle() -> str:
    h = oracle_md5_bigint_expr("concat('hll-', CAST(l_partkey AS VARCHAR))")
    est = (
        f"CAST(floor({_HLL_ALPHA!r} * {_HLL_M} * {_HLL_M} / ("
        f"CAST({_HLL_M} - len(regs) AS DOUBLE)"
        " + list_sum(list_transform(regs,"
        " r -> 1.0 / CAST((CAST(1 AS BIGINT) << CAST(r.rank_bits AS INT)) AS DOUBLE)))"
        ")) AS BIGINT)"
    )
    return f"""
WITH hashed AS (
  SELECT {h} AS h,
         concat('bucket_', CAST(l_partkey % 3 AS VARCHAR)) AS set_name
  FROM lineitem),
regged AS (
  SELECT CAST(h // {1 << _HLL_WBITS} AS BIGINT) AS reg,
         CAST(CASE WHEN h % {1 << _HLL_WBITS} = 0 THEN {_HLL_WBITS + 1}
              ELSE {_HLL_WBITS} - LENGTH(BIN(h % {1 << _HLL_WBITS})) + 1 END
              AS BIGINT) AS rank_bits,
         set_name
  FROM hashed),
regs AS (
  SELECT set_name, reg, CAST(MAX(rank_bits) AS BIGINT) AS rank_bits
  FROM regged GROUP BY 1, 2),
all_regs AS (
  SELECT set_name, reg, rank_bits FROM regs
  UNION ALL
  SELECT 'merged', reg, CAST(MAX(rank_bits) AS BIGINT)
  FROM regs GROUP BY 2),
folded AS (
  SELECT set_name,
         list(struct_pack(reg := reg, rank_bits := rank_bits)
              ORDER BY reg) AS regs
  FROM all_regs GROUP BY set_name),
ests AS (
  SELECT set_name, CAST(len(regs) AS BIGINT) AS n_regs, {est} AS est_n
  FROM folded),
exact AS (
  SELECT concat('bucket_', CAST(l_partkey % 3 AS VARCHAR)) AS set_name,
         CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_n
  FROM lineitem GROUP BY 1
  UNION ALL
  SELECT 'merged', CAST(COUNT(DISTINCT l_partkey) AS BIGINT) FROM lineitem)
SELECT e.set_name, n_regs, exact_n, est_n,
       CAST(abs(est_n - exact_n) * 1000 // exact_n AS BIGINT)
         AS err_permille
FROM ests e JOIN exact x ON e.set_name = x.set_name
"""


# --------------------------------------------------------------------------
# Holt double exponential smoothing (level + trend), exact dyadic weights
# --------------------------------------------------------------------------

_HW_ALPHA = Fraction(1, 2)  # level smoothing — dyadic, the EWMA convention
_HW_BETA = Fraction(1, 4)  # trend smoothing — dyadic
_HW_DEPTH = 8  # truncation depth (the window_ewma_dyadic convention:
#                the recursion's tail beyond 8 lags carries < (1-a)^8
#                of the weight; the truncated form IS the semantics,
#                identical in both engines)


def _hw_weights() -> tuple[list[Fraction], list[Fraction], int]:
    """(level weights, trend weights, scale power S): the coefficient of
    x_{t-k} in the steady-state truncated Holt recursion, as exact
    Fractions, plus the common denominator exponent. Derivation: with
    v_t = (level_t, trend_t), the recurrences
      level_t = (1-a) level_{t-1} + (1-a) trend_{t-1} + a x_t
      trend_t = -ab level_{t-1} + (b(1-a) + 1-b) trend_{t-1} + ab x_t
    are v_t = M v_{t-1} + b x_t, so the x_{t-k} weight vector is M^k b —
    all entries dyadic because a and b are."""
    a, b = _HW_ALPHA, _HW_BETA
    m00, m01 = 1 - a, 1 - a
    m10, m11 = -a * b, b * (1 - a) + (1 - b)
    vec = (a, a * b)
    wl, wt = [], []
    for _ in range(_HW_DEPTH):
        wl.append(vec[0])
        wt.append(vec[1])
        vec = (m00 * vec[0] + m01 * vec[1], m10 * vec[0] + m11 * vec[1])
    scale = max(
        (w.denominator for w in wl + wt), default=1
    ).bit_length() - 1
    return wl, wt, scale


_HW_WL, _HW_WT, _HW_SCALE = _hw_weights()


def _hw_chain(weights: list[Fraction], lag_fmt: str) -> str:
    """Left-associated integer dot product Σ p_k * x_{t-k} at the 2^S
    scale — engine-shared text (integer multiplies and adds only)."""
    terms = [
        f"{lag_fmt.format(k=k)} * CAST({int(w * (1 << _HW_SCALE))} AS BIGINT)"
        for k, w in enumerate(weights)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = f"({out}) + {t}"
    return out


def events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + trend; Holt 1957 —
    'Winters' names the family, the seasonal third component is out of
    scope for a 5-type hourly series) over per-type hourly event counts:
    the forecasting complement of the events_changepoint_cusum /
    streaming_cusum_monitor detector pair. The coupled recursion is
    expressed in the window_ewma_dyadic way — depth-truncated
    steady-state weights M^k b computed EXACTLY as dyadic Fractions at
    import time and embedded as integer numerators at the common 2^S
    scale — so level, trend, the one-step-ahead forecast
    (level + trend), and the residual against the realized next hour
    are ALL exact int64s at the documented 2^S scale (S = _HW_SCALE,
    computed from the exact weight denominators at import), bit-identical
    in both engines with no floats anywhere.

    int64 headroom: |numerators| < 2^S, so the dot product is bounded by
    depth * 2^S * max_count — safe to per-(type, hour) counts of ~8e9
    (the AMS headroom-statement convention).

    Series semantics: the smoothed series is the OBSERVED hourly
    sequence in hr order — an hour with zero events is absent from the
    aggregate, so lags step over observed rows, not calendar hours
    (identical in engine, oracle, and the test replay; a gap-filled
    calendar variant would compose with window_gap_fill_ignore_nulls).

    Scale shape: one scan -> (type, hour) partial-agg counts (map-side
    combine), then lag/lead windows over the bounded per-type hourly
    series; output rows only where the full lag depth AND the realized
    next hour exist (no partial-window edge semantics to diverge on)."""
    ev = load_table(spark, sf_dir, "events")
    # epoch-hour integer buckets — the events_changepoint_cusum
    # convention (timezone-proof, identical in both engines)
    hourly = ev.groupBy(
        "event_type",
        F.expr("CAST(unix_timestamp(ts) DIV 3600 AS BIGINT)").alias("hr"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("hr")
    lagged = hourly.select(
        "event_type",
        "hr",
        F.expr("CAST(n_events AS BIGINT)").alias("x0"),
        *[
            F.lag("n_events", k).over(w).cast("bigint").alias(f"x{k}")
            for k in range(1, _HW_DEPTH)
        ],
        F.lead("n_events", 1).over(w).cast("bigint").alias("x_next"),
    ).filter(f"x{_HW_DEPTH - 1} IS NOT NULL AND x_next IS NOT NULL")
    level = _hw_chain(_HW_WL, "x{k}")
    trend = _hw_chain(_HW_WT, "x{k}")
    return lagged.select(
        "event_type",
        "hr",
        F.col("x0").alias("n_events"),
        F.expr(f"CAST({level} AS BIGINT)").alias("level_scaled"),
        F.expr(f"CAST({trend} AS BIGINT)").alias("trend_scaled"),
        F.expr(f"CAST(({level}) + ({trend}) AS BIGINT)").alias(
            "forecast_scaled"
        ),
        F.expr(
            f"CAST(x_next * {1 << _HW_SCALE} - (({level}) + ({trend}))"
            " AS BIGINT)"
        ).alias("residual_scaled"),
    )


def _holt_oracle() -> str:
    level = _hw_chain(_HW_WL, "x{k}")
    trend = _hw_chain(_HW_WT, "x{k}")
    lag_cols = ",\n         ".join(
        f"CAST(LAG(n_events, {k}) OVER w AS BIGINT) AS x{k}"
        for k in range(1, _HW_DEPTH)
    )
    return f"""
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2),
lagged AS (
  SELECT event_type, hr, CAST(n_events AS BIGINT) AS x0,
         {lag_cols},
         CAST(LEAD(n_events, 1) OVER w AS BIGINT) AS x_next
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hr))
SELECT event_type, hr, x0 AS n_events,
       CAST({level} AS BIGINT) AS level_scaled,
       CAST({trend} AS BIGINT) AS trend_scaled,
       CAST(({level}) + ({trend}) AS BIGINT) AS forecast_scaled,
       CAST(x_next * {1 << _HW_SCALE} - (({level}) + ({trend}))
            AS BIGINT) AS residual_scaled
FROM lagged
WHERE x{_HW_DEPTH - 1} IS NOT NULL AND x_next IS NOT NULL
"""


# --------------------------------------------------------------------------
# RAKE keyword extraction (stopword-delimited phrases, degree/frequency)
# --------------------------------------------------------------------------

# The corpus-frequency stoplist (Rose et al. 2010 §1.2.1 generate
# stoplists from high-document-frequency words — the adaptive-stoplist
# practice; this synthetic corpus has no punctuation, so stopwords are
# the only phrase delimiters and the list includes the corpus's
# function-word-like high-DF terms to keep phrases short).
_RAKE_STOP = ("a", "the", "value", "data", "key", "row", "table", "part")
_RAKE_MAXLEN = 8  # drop degenerate over-long phrases (standard RAKE cap)
_RAKE_TOPK = 3


def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free token runs; each word scores deg/freq where
    freq counts its occurrences in the document's phrases and deg adds
    the length of every phrase it appears in (co-occurrence degree); a
    phrase scores the sum of its words' scores, here in integer permille
    with per-word truncation (deg * 1000 DIV freq) identical in both
    engines. Top _RAKE_TOPK phrases per document by (score DESC, phrase,
    island id) — the phrase-level complement of
    text_keyword_extraction's corpus-rarity unigrams: RAKE is purely
    intra-document, needs no corpus statistics, and surfaces multi-word
    terms.

    Scale shape: one tokenize scan -> posexplode -> the gaps-and-islands
    run id (pos - row_number, ONE per-doc sort shuffle — the same
    shuffle the per-doc stats need anyway); phrase lengths, word stats
    and phrase scores are per-doc aggregates; the phrase-string collect
    is bounded by the _RAKE_MAXLEN filter applied BEFORE aggregation
    (only islands with k <= 8 reach the collect buffer), and the top-k
    is a WindowGroupLimit."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    stop_sql = ", ".join(f"'{s}'" for s in _RAKE_STOP)
    toks = docs.select(
        "doc_id", F.posexplode(F.expr(words_expr("text"))).alias("pos", "w")
    )
    wi = Window.partitionBy("doc_id").orderBy("pos")
    isl = (
        toks.filter(f"w NOT IN ({stop_sql})")
        .withColumn("iid", F.col("pos") - F.row_number().over(wi))
    )
    # Per-island length and per-word stats as WINDOWS riding the one
    # doc_id shuffle instead of group-then-self-join (r16 optimization
    # round): hash(doc_id) already satisfies the clustered distribution
    # of every (doc_id, ...) window below, so the joins' 3 extra
    # exchanges — and the tokenize+explode subtree replicated under
    # each self-join side (4 documents scans in the executed plan) —
    # collapse to sort-only passes over the same partitioning. Values
    # identical: COUNT/SUM OVER (PARTITION BY k) == join with the
    # k-grouped aggregate, and the k <= _RAKE_MAXLEN filter still runs
    # AFTER the unfiltered per-word stats, exactly as before.
    with_k = isl.withColumn(
        "k",
        F.expr("CAST(COUNT(*) OVER (PARTITION BY doc_id, iid) AS BIGINT)"),
    )
    rows = with_k.withColumn(
        "freq",
        F.expr("CAST(COUNT(*) OVER (PARTITION BY doc_id, w) AS BIGINT)"),
    ).withColumn(
        "deg",
        F.expr("CAST(SUM(k) OVER (PARTITION BY doc_id, w) AS BIGINT)"),
    ).filter(F.col("k") <= _RAKE_MAXLEN)
    phrases = rows.groupBy("doc_id", "iid").agg(
        F.expr(
            "concat_ws(' ', transform(array_sort(collect_list(struct(pos, w))),"
            " s -> s.w))"
        ).alias("phrase"),
        F.expr("CAST(SUM(deg * 1000 DIV freq) AS BIGINT)").alias(
            "score_milli"
        ),
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_words"),
    )
    wrank = Window.partitionBy("doc_id").orderBy(
        F.desc("score_milli"), F.asc("phrase"), F.asc("iid")
    )
    return (
        phrases.withColumn("rank", F.row_number().over(wrank))
        .filter(F.col("rank") <= _RAKE_TOPK)
        .select("doc_id", "rank", "phrase", "n_words", "score_milli")
    )


def _rake_oracle() -> str:
    stop_sql = ", ".join(f"'{s}'" for s in _RAKE_STOP)
    return f"""
WITH toks AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, l[i] AS w
  FROM (SELECT doc_id, {oracle_words_expr("text")} AS l FROM documents) t,
       UNNEST(range(1, len(l) + 1)) AS r(i)),
isl AS (
  SELECT doc_id, pos, w,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS iid
  FROM toks WHERE w NOT IN ({stop_sql})),
ph AS (
  SELECT doc_id, iid, CAST(COUNT(*) AS BIGINT) AS k
  FROM isl GROUP BY 1, 2),
with_k AS (
  SELECT i.*, p.k FROM isl i JOIN ph p USING (doc_id, iid)),
wstat AS (
  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(k) AS BIGINT) AS deg
  FROM with_k GROUP BY 1, 2),
phrases AS (
  SELECT r.doc_id, r.iid,
         string_agg(r.w, ' ' ORDER BY r.pos) AS phrase,
         CAST(SUM(s.deg * 1000 // s.freq) AS BIGINT) AS score_milli,
         CAST(COUNT(*) AS BIGINT) AS n_words
  FROM with_k r JOIN wstat s ON s.doc_id = r.doc_id AND s.w = r.w
  WHERE r.k <= {_RAKE_MAXLEN}
  GROUP BY 1, 2)
SELECT doc_id, rank, phrase, n_words, score_milli FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score_milli DESC, phrase, iid)
           AS rank
  FROM phrases)
WHERE rank <= {_RAKE_TOPK}
"""


QUERIES = {
    "agg_hll_sketch": agg_hll_sketch,
    "events_holt_winters": events_holt_winters,
    "text_rake_keywords": text_rake_keywords,
}

ORACLES = {
    "agg_hll_sketch": _hll_oracle(),
    "events_holt_winters": _holt_oracle(),
    "text_rake_keywords": _rake_oracle(),
}
