"""Round-14 sixth wave (the fifth refill pulled forward, SURVEY §7.4
items 46-48; item 45, Katz centrality, lives in graph.py): the near-dup
precision audit, lite burst detection, and the positional n-gram
profile.

The reference (rohitjoshi/lua-mapreduce, 1,127 LoC of Lua TCP plumbing;
its one workload is word count, example/word-count-taskfile.lua:73-159)
has none of this surface — these queries extend the repo's dedup-QA,
event-detection and text-analysis families per the driver brief:

* ``curation_near_dup_precision_audit`` — the dedup QA table: per
  signature-similarity band of the LSH candidates, exact-Jaccard
  confusion counts against the 0.6 gate — the measured precision curve
  an operator signs off before a destructive dedup pass.
* ``events_burst_detection_kleinberg_lite`` — two-state burst episodes
  on the hourly series (count exceeding q x the trailing-24h mean by
  integer cross-multiplication, gaps-and-islands episode grouping) —
  Kleinberg's automaton collapsed to its decision boundary,
  transcendental-free.
* ``text_anchor_ngram_profile`` — positional skew of the corpus's top
  bigrams (front/middle/back thirds of each document) — boilerplate
  headers/footers show extreme positional skew; the positional
  complement of df and burstiness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, parallelize_scan
from lua_mapreduce_spark.functions.texthash import oracle_words_expr, words_expr

# --------------------------------------------------------------------------
# Near-dup precision audit (LSH candidates vs the exact-Jaccard gate)
# --------------------------------------------------------------------------

_NPA_BAND_W = 8  # signature-match band width (32 slots -> bands 0..4)


def curation_near_dup_precision_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The dedup QA report an operator reads before approving a
    destructive near-dup pass: every banded-LSH candidate pair carries
    its 32-slot signature match count s and its EXACT Jaccard (from
    the persisted shingle arrays — the containment-query machinery);
    bucketing pairs by s DIV 8 gives the precision curve — per band,
    how many candidates clear the 0.6 exact gate (the pass's true
    positives) vs how many are LSH noise. A healthy index shows
    precision rising steeply with s; a flat curve means the banding
    parameters need the tuning-curve query.

    Scale shape: candidates come from the shared banded bucket join
    (never all pairs); the exact verify is array_intersect on the
    joined pair rows; the confusion rollup is <= 5 bands."""
    from lua_mapreduce_spark.operators.dedup import (
        _banded_keys,
        _JACCARD_THRESHOLD,
        _match_sum_expr,
        _minhash_signatures,
    )

    gate = int(_JACCARD_THRESHOLD * 1000)
    mh = _minhash_signatures(spark, sf_dir)
    banded = _banded_keys(mh)
    a, b = banded.alias("a"), banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa, sb = mh.alias("sa"), mh.alias("sb")
    paired = (
        candidates.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            F.expr(
                "CAST(size(array_intersect(sa.shingles, sb.shingles))"
                " AS BIGINT)"
            ).alias("n_common"),
            F.expr("CAST(size(sa.shingles) AS BIGINT)").alias("na"),
            F.expr("CAST(size(sb.shingles) AS BIGINT)").alias("nb"),
            F.expr(_match_sum_expr("sa", "sb", None)).alias("s"),
        )
        .select(
            F.expr(f"s DIV {_NPA_BAND_W}").alias("sig_band"),
            F.expr(
                "CAST(n_common * 1000 DIV (na + nb - n_common) >="
                f" {gate} AS INT)"
            ).alias("is_true"),
        )
    )
    return (
        paired.groupBy("sig_band")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_pairs"),
            F.expr("CAST(SUM(is_true) AS BIGINT)").alias("n_true"),
        )
        .select(
            "sig_band",
            "n_pairs",
            "n_true",
            F.expr("n_pairs - n_true").alias("n_false"),
            F.expr("n_true * 1000 DIV n_pairs").alias("precision_permille"),
        )
    )


def _npa_oracle() -> str:
    from lua_mapreduce_spark.functions.texthash import oracle_md5_bigint_expr
    from lua_mapreduce_spark.operators.dedup import (
        _BAND_ROWS,
        _JACCARD_THRESHOLD,
        _match_sum_expr,
        _minhash_exprs,
        _N_BANDS,
        _SHINGLES_ORACLE_CTE,
    )

    gate = int(_JACCARD_THRESHOLD * 1000)
    base = oracle_md5_bigint_expr("shingle")
    mins = ",\n         ".join(
        f"MIN({e}) AS m{i}" for i, e in enumerate(_minhash_exprs(f"({base})"))
    )
    band_rows = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {band} AS band_idx, "
        f"md5(concat_ws(',', {', '.join(f'm{band * _BAND_ROWS + r}' for r in range(_BAND_ROWS))})) AS band_hash FROM mh"
        for band in range(_N_BANDS)
    )
    return f"""
WITH {_SHINGLES_ORACLE_CTE},
mh AS (
  SELECT doc_id,
         {mins}
  FROM shingles GROUP BY doc_id),
banded AS (
{band_rows}
),
candidates AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
common AS (
  SELECT doc_a, doc_b, COUNT(*) AS n_common
  FROM candidates
  JOIN shingles sh_a ON sh_a.doc_id = doc_a
  JOIN shingles sh_b ON sh_b.doc_id = doc_b AND sh_a.shingle = sh_b.shingle
  GROUP BY 1, 2),
paired AS (
  SELECT ({_match_sum_expr("a", "b", None)}) // {_NPA_BAND_W} AS sig_band,
         CAST(CAST(COALESCE(cm.n_common, 0) AS BIGINT) * 1000
              // (sa.n + sb.n - COALESCE(cm.n_common, 0)) >= {gate}
              AS INT) AS is_true
  FROM candidates c
  JOIN mh a ON a.doc_id = c.doc_a
  JOIN mh b ON b.doc_id = c.doc_b
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
  LEFT JOIN common cm ON cm.doc_a = c.doc_a AND cm.doc_b = c.doc_b)
SELECT sig_band,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(is_true) AS BIGINT) AS n_true,
       CAST(COUNT(*) AS BIGINT) - CAST(SUM(is_true) AS BIGINT) AS n_false,
       CAST(SUM(is_true) AS BIGINT) * 1000 // CAST(COUNT(*) AS BIGINT)
         AS precision_permille
FROM paired GROUP BY sig_band
"""


# --------------------------------------------------------------------------
# Lite burst detection (trailing-mean threshold, episode grouping)
# --------------------------------------------------------------------------

_KB_Q = 2  # burst threshold: count > _KB_Q x trailing-24h mean
_KB_WIN = 24  # trailing window (hours)
# Widest single per-type hour gap the densifier will fill (400 days).
# Wider means a corrupt timestamp (epoch 0 / far future) — raise, don't
# materialize a billion-row grid. See burst_tail's guard note.
_BT_MAX_FILL_HOURS = 9600


def events_burst_detection_kleinberg_lite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-state burst detection on the per-type hourly series —
    Kleinberg 2002's infinite-state automaton collapsed to its decision
    boundary (the 'lite' reading production monitors actually deploy):
    an hour is BURSTING when its count exceeds _KB_Q x the trailing
    _KB_WIN-hour mean, tested by integer cross-multiplication
    (cnt x window_hours > q x window_sum — the MAD-family convention,
    no division, no floats); consecutive bursting hours group into
    EPISODES via gaps-and-islands (hr - row_number), each reporting
    span, peak and total volume. The per-type hour grid is DENSIFIED
    (zero-count hours gap-filled inside each type's [min, max] span,
    r15) so the trailing window is a true wall-clock trailing day —
    on sparse types, empty hours dilute the mean instead of silently
    stretching the window across days. Hours with no full trailing
    window (each type's first 24 wall-clock hours) are never flagged —
    both engines apply the same guard.

    Scale shape: one scan -> per-(type, hour) counts (map-side
    combinable); the gap-fill is a lead() + sequence() explode over
    the SAME per-type hour ordering the trailing sum needs (one sort
    shuffle total, no self-join, no second scan — output bounded by
    types x span-hours, a time-bounded grid, not a data-bounded one);
    the island id is a second window on that ordering; episodes are a
    bounded rollup."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr("CAST(unix_timestamp(ts) DIV 3600 AS BIGINT)").alias("hr"),
    ).agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("cnt"))
    return burst_tail(hourly)


def burst_tail(hourly: DataFrame) -> DataFrame:
    """The threshold + episode machinery over an (event_type, hr, cnt)
    relation — SHARED by the batch query above and
    streaming_burst_monitor (the seasonal_profile_tail one-
    implementation convention), so streaming and batch can never
    drift. Densifies the per-type hour grid first (lead + sequence
    gap-fill, zero counts for absent hours) so the ROWS trailing
    window equals the wall-clock trailing 24 h on sparse series.

    CORRUPT-TIMESTAMP GUARD: the gap-fill materializes every hour in
    each type's [min, max] span, so a single epoch-0 / far-future
    timestamp would make sequence() emit millions of rows for that
    type. Any single per-type gap wider than _BT_MAX_FILL_HOURS
    therefore raise_error()s loudly BEFORE the explode instead of
    OOMing the stage — a time-bounded grid is the query's scale
    contract, and a violated contract should fail, not thrash. The
    guard is semantics-free on valid data (the oracle needs none: if
    the data trips it, the Spark side errors first and the pair never
    reaches the compare)."""
    wt = Window.partitionBy("event_type").orderBy("hr")
    dense = (
        hourly.withColumn("nxt", F.lead("hr").over(wt))
        .select(
            "event_type",
            F.col("hr").alias("ohr"),
            F.col("cnt").alias("ocnt"),
            F.explode(
                F.sequence(
                    F.col("hr"),
                    F.expr(
                        f"CASE WHEN nxt - hr > {_BT_MAX_FILL_HOURS} THEN"
                        " raise_error(concat('burst_tail: per-type hour"
                        " gap ', CAST(nxt - hr AS STRING), ' exceeds"
                        f" {_BT_MAX_FILL_HOURS} — corrupt timestamp in"
                        " the hourly relation?'))"
                        " ELSE coalesce(nxt - 1, hr) END"
                    ),
                )
            ).alias("hr"),
        )
        .select(
            "event_type",
            "hr",
            F.when(F.col("hr") == F.col("ohr"), F.col("ocnt"))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("cnt"),
        )
    )
    wtrail = wt.rowsBetween(-_KB_WIN, -1)
    flagged = (
        dense.withColumn("trail_sum", F.sum("cnt").over(wtrail))
        .withColumn("trail_n", F.count(F.lit(1)).over(wtrail))
        .filter(
            f"trail_n = {_KB_WIN} AND cnt * {_KB_WIN} > {_KB_Q} * trail_sum"
        )
    )
    wi = Window.partitionBy("event_type").orderBy("hr")
    episodes = (
        flagged.withColumn(
            "iid", F.col("hr") - F.row_number().over(wi)
        )
        .groupBy("event_type", "iid")
        .agg(
            F.expr("CAST(MIN(hr) AS BIGINT)").alias("start_hr"),
            F.expr("CAST(MAX(hr) AS BIGINT)").alias("end_hr"),
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_hours"),
            F.expr("CAST(MAX(cnt) AS BIGINT)").alias("peak_count"),
            F.expr("CAST(SUM(cnt) AS BIGINT)").alias("total_events"),
        )
        .select(
            "event_type",
            "start_hr",
            "end_hr",
            "n_hours",
            "peak_count",
            "total_events",
        )
    )
    return episodes


BURST_ORACLE = f"""
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2),
gaps AS (
  SELECT event_type, hr, cnt,
         lead(hr) OVER (PARTITION BY event_type ORDER BY hr) AS nxt
  FROM hourly),
filled AS (
  SELECT event_type, hr AS ohr, cnt AS ocnt,
         unnest(generate_series(hr, coalesce(nxt - 1, hr))) AS hr
  FROM gaps),
dense AS (
  SELECT event_type, hr,
         CAST(CASE WHEN hr = ohr THEN ocnt ELSE 0 END AS BIGINT) AS cnt
  FROM filled),
trail AS (
  SELECT event_type, hr, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY hr
                        ROWS BETWEEN {_KB_WIN} PRECEDING AND 1 PRECEDING)
           AS trail_sum,
         COUNT(*) OVER (PARTITION BY event_type ORDER BY hr
                        ROWS BETWEEN {_KB_WIN} PRECEDING AND 1 PRECEDING)
           AS trail_n
  FROM dense),
flagged AS (
  SELECT event_type, hr, cnt,
         hr - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr)
           AS iid
  FROM trail
  WHERE trail_n = {_KB_WIN} AND cnt * {_KB_WIN} > {_KB_Q} * trail_sum)
SELECT event_type,
       CAST(MIN(hr) AS BIGINT) AS start_hr,
       CAST(MAX(hr) AS BIGINT) AS end_hr,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(MAX(cnt) AS BIGINT) AS peak_count,
       CAST(SUM(cnt) AS BIGINT) AS total_events
FROM flagged GROUP BY event_type, iid
"""


# --------------------------------------------------------------------------
# Positional n-gram profile (front/middle/back thirds of each document)
# --------------------------------------------------------------------------

_ANP_TOPK = 20


def text_anchor_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional skew of the corpus's top _ANP_TOPK bigrams: every
    occurrence lands in the front/middle/back THIRD of its document
    (bucket = 3 x position DIV doc_bigram_count — exact integers), and
    each top bigram reports its third counts plus front/back permilles.
    Boilerplate headers and footers show extreme positional skew
    (everything in one third), while content n-grams spread evenly —
    the POSITIONAL complement of document frequency (which can't tell
    a header from a common phrase) and burstiness.

    Scale shape: one tokenize scan -> exploded (bigram, third) rows
    with the bucket computed in the same projection (posexplode fans
    out map-side, no shuffle before the count); the top-k head is a
    bounded TakeOrderedAndProject joined back by bigram; the profile
    rollup is <= top-k x 3 rows."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    occ = (
        docs.select("doc_id", F.expr(words_expr("text")).alias("l"))
        .filter(F.size("l") >= 2)
        .select(
            F.posexplode(
                F.expr(
                    "transform(sequence(0, size(l) - 2),"
                    " i -> concat(l[i], ' ', l[i+1]))"
                )
            ).alias("pos", "bg"),
            F.expr("CAST(size(l) - 1 AS BIGINT)").alias("n_bg"),
        )
        .select("bg", F.expr("3 * pos DIV n_bg").alias("third"))
    )
    top = (
        occ.groupBy("bg")
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_occ"))
        .orderBy(F.desc("n_occ"), F.asc("bg"))
        .limit(_ANP_TOPK)
    )
    return (
        occ.join(top, "bg")
        .groupBy("bg", "n_occ")
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN third = 0 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_front"),
            F.expr(
                "CAST(SUM(CASE WHEN third = 1 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_middle"),
            F.expr(
                "CAST(SUM(CASE WHEN third = 2 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_back"),
        )
        .select(
            F.col("bg").alias("bigram"),
            "n_occ",
            "n_front",
            "n_middle",
            "n_back",
            F.expr("n_front * 1000 DIV n_occ").alias("front_permille"),
            F.expr("n_back * 1000 DIV n_occ").alias("back_permille"),
        )
    )


ANCHOR_ORACLE = f"""
WITH occ AS (
  SELECT s.bg AS bg, 3 * (s.i - 1) // (len(l) - 1) AS third FROM (
    SELECT {oracle_words_expr("text")} AS l FROM documents) t,
    UNNEST(list_transform(range(1, len(l)),
           i -> struct_pack(bg := l[i] || ' ' || l[i+1], i := i))) AS u(s)
  WHERE len(l) >= 2),
top AS (
  SELECT bg, CAST(COUNT(*) AS BIGINT) AS n_occ
  FROM occ GROUP BY bg
  ORDER BY n_occ DESC, bg LIMIT {_ANP_TOPK})
SELECT o.bg AS bigram, t.n_occ,
       CAST(SUM(CASE WHEN third = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_front,
       CAST(SUM(CASE WHEN third = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_middle,
       CAST(SUM(CASE WHEN third = 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_back,
       CAST(SUM(CASE WHEN third = 0 THEN 1 ELSE 0 END) AS BIGINT)
         * 1000 // t.n_occ AS front_permille,
       CAST(SUM(CASE WHEN third = 2 THEN 1 ELSE 0 END) AS BIGINT)
         * 1000 // t.n_occ AS back_permille
FROM occ o JOIN top t ON o.bg = t.bg
GROUP BY o.bg, t.n_occ
"""


QUERIES = {
    "curation_near_dup_precision_audit": curation_near_dup_precision_audit,
    "events_burst_detection_kleinberg_lite": events_burst_detection_kleinberg_lite,
    "text_anchor_ngram_profile": text_anchor_ngram_profile,
}

ORACLES = {
    "curation_near_dup_precision_audit": _npa_oracle(),
    "events_burst_detection_kleinberg_lite": BURST_ORACLE,
    "text_anchor_ngram_profile": ANCHOR_ORACLE,
}
