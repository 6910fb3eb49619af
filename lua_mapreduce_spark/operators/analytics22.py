"""Round-16 wave (the committed bank, SURVEY §7.4 items 61, 63-64; item
62, the local clustering coefficient, lives in graph.py): PII pattern
scan, DAU/WAU stickiness, and per-source hapax richness.

The reference (rohitjoshi/lua-mapreduce, 1,127 LoC of Lua TCP plumbing;
its one workload is word count, example/word-count-taskfile.lua:73-159)
has none of this surface — these queries extend the repo's curation,
event-analytics and text-analysis families per the driver brief:

* ``curation_pii_pattern_scan`` — the privacy-hygiene scan every corpus
  release runs: per (source, RE2-safe pattern family) the flagged doc
  count and token mass. The synthetic corpus carries no PII, so a
  deterministic injection layer (the §7.4.1 in-query synthesis pattern
  both engines replay from doc_id arithmetic) seeds each family at a
  known rate — the scan then measures real regex hits, not a vacuous
  all-zero grid.
* ``events_dau_wau_stickiness`` — the DAU/WAU engagement ratio per
  week in exact integers: sum-of-daily-actives * 1000 DIV
  (7 * weekly-actives), so no float mean ever exists — the
  product-analytics stickiness table next to retention, Pareto and
  the funnel.
* ``text_hapax_richness_by_source`` — lexical richness per source over
  the word-TYPE table: hapax-legomenon type share, type/token ratio
  and hapax token mass, all in exact permille — the richness
  complement of text_vocabulary_growth at source grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, parallelize_scan
from lua_mapreduce_spark.functions.texthash import oracle_words_expr, words_expr

# --------------------------------------------------------------------------
# PII pattern scan (deterministic injection + bounded source x pattern grid)
# --------------------------------------------------------------------------

# RE2-safe pattern families (plain character classes + quantifiers only —
# no backreferences, no lookaround, no \-escapes, so Java regex (Spark
# rlike) and RE2 (DuckDB regexp_matches) match identically and no SQL
# string-literal backslash level can diverge).
_PII_PATTERNS: list[tuple[str, str]] = [
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"),
    ("phone", "[0-9]{3}-[0-9]{3}-[0-9]{4}"),
    ("id_like", "[0-9a-f]{24,}"),
]
# Injection rates: one family per residue class, deliberately co-prime so
# families overlap on some docs (7*11, 7*13, ...) — the scan must count a
# doc once PER FLAG, and the overlap proves it does.
_PII_EMAIL_MOD = 7
_PII_PHONE_MOD = 11
_PII_ID_MOD = 13


def _pii_text_expr(dialect: str) -> str:
    """The deterministic PII injection layer (SQL, per dialect): the
    corpus text plus per-residue-class synthetic PII suffixes derived
    from doc_id arithmetic alone — the §7.4.1 in-query synthesis pattern
    (both engines derive bit-identical inputs), because the synthetic
    corpus is alphabetic word salad with no digits at all and a regex
    scan over it would verify nothing. md5 hex and lpad agree across
    engines; only the string cast spelling differs."""
    s = "STRING" if dialect == "spark" else "VARCHAR"
    return (
        "concat(text,"
        f" CASE WHEN doc_id % {_PII_EMAIL_MOD} = 0 THEN"
        f" concat(' contact user', CAST(doc_id AS {s}), '@example.com')"
        " ELSE '' END,"
        f" CASE WHEN doc_id % {_PII_PHONE_MOD} = 0 THEN"
        f" concat(' call 555-', lpad(CAST(doc_id % 1000 AS {s}), 3, '0'),"
        f" '-', lpad(CAST(doc_id % 10000 AS {s}), 4, '0'))"
        " ELSE '' END,"
        f" CASE WHEN doc_id % {_PII_ID_MOD} = 0 THEN"
        f" concat(' session key ', md5(CAST(doc_id AS {s})))"
        " ELSE '' END)"
    )


def curation_pii_pattern_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The privacy-hygiene scan every corpus release runs before
    shipping: per (source, PII pattern family) the number of flagged
    docs, the token mass those docs carry (tokens of the ORIGINAL text
    — what a removal pass would cost the corpus), and both in permille
    of the source — the redaction-vs-removal sizing table.

    The corpus is synthetic word salad, so a deterministic injection
    layer seeds each family from doc_id arithmetic (residue classes 7,
    11, 13 — co-prime, so families overlap on some docs and the scan
    provably counts a doc once per flag, not once per doc). Both
    engines derive the identical injected text, so every regex hit is
    value-verified, not assumed.

    Scale shape: ONE scan computes the three rlike booleans + the token
    count per doc; the rollup is per-source conditional aggregates
    (map-side combinable, 6 + 2 columns); the (source x pattern) grid
    unpivots AFTER the aggregate via a 3-element struct-array explode
    (the affix-productivity convention — never a union of projections,
    which would recompute the scan per family); output is
    |sources| x 3 rows, constant in data scale. Regex never anchors a
    join or a shuffle key — it is a scan-side projection only."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    pii = F.expr(_pii_text_expr("spark"))
    flags = docs.select(
        "source",
        F.expr(f"CAST(SIZE({words_expr('text')}) AS BIGINT)").alias("n_tok"),
        *[pii.rlike(pat).alias(f"m_{kind}") for kind, pat in _PII_PATTERNS],
    )
    aggs = [
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
        F.expr("CAST(SUM(n_tok) AS BIGINT)").alias("tot_tokens"),
    ]
    for kind, _ in _PII_PATTERNS:
        aggs.append(
            F.expr(f"CAST(COUNT_IF(m_{kind}) AS BIGINT)").alias(f"d_{kind}")
        )
        aggs.append(
            F.expr(
                f"CAST(COALESCE(SUM(CASE WHEN m_{kind} THEN n_tok ELSE 0"
                " END), 0) AS BIGINT)"
            ).alias(f"t_{kind}")
        )
    per = flags.groupBy("source").agg(*aggs)
    sides = ", ".join(
        f"struct('{kind}' AS pattern, d_{kind} AS n_flagged,"
        f" t_{kind} AS flagged_token_mass)"
        for kind, _ in _PII_PATTERNS
    )
    return per.select(
        "source",
        "n_docs",
        "tot_tokens",
        F.explode(F.expr(f"array({sides})")).alias("p"),
    ).select(
        "source",
        F.col("p.pattern").alias("pattern"),
        F.col("p.n_flagged").alias("n_flagged"),
        F.col("p.flagged_token_mass").alias("flagged_token_mass"),
        "n_docs",
        "tot_tokens",
        F.expr("p.n_flagged * 1000 DIV n_docs").alias("flagged_docs_permille"),
        F.expr("p.flagged_token_mass * 1000 DIV tot_tokens").alias(
            "flagged_tokens_permille"
        ),
    )


def _pii_oracle() -> str:
    pii = _pii_text_expr("duck")
    flag_cols = ",\n         ".join(
        f"regexp_matches({pii}, '{pat}') AS m_{kind}"
        for kind, pat in _PII_PATTERNS
    )
    agg_cols = ",\n         ".join(
        f"CAST(COUNT(*) FILTER (WHERE m_{kind}) AS BIGINT) AS d_{kind},\n"
        f"         CAST(COALESCE(SUM(n_tok) FILTER (WHERE m_{kind}), 0)"
        f" AS BIGINT) AS t_{kind}"
        for kind, _ in _PII_PATTERNS
    )
    arms = "\n  UNION ALL\n".join(
        f"  SELECT source, '{kind}' AS pattern, d_{kind} AS n_flagged,"
        f" t_{kind} AS flagged_token_mass, n_docs, tot_tokens FROM per"
        for kind, _ in _PII_PATTERNS
    )
    return f"""
WITH flags AS (
  SELECT source,
         CAST(len({oracle_words_expr("text")}) AS BIGINT) AS n_tok,
         {flag_cols}
  FROM documents),
per AS MATERIALIZED (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS tot_tokens,
         {agg_cols}
  FROM flags GROUP BY source),
grid AS (
{arms})
SELECT source, pattern, n_flagged, flagged_token_mass, n_docs, tot_tokens,
       n_flagged * 1000 // n_docs AS flagged_docs_permille,
       flagged_token_mass * 1000 // tot_tokens AS flagged_tokens_permille
FROM grid
"""


# --------------------------------------------------------------------------
# DAU/WAU stickiness (integer-exact engagement ratio, bounded week grid)
# --------------------------------------------------------------------------


def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DAU/WAU stickiness table: per ISO week (Monday-start
    date_trunc, identical in both engines), the weekly active users,
    the sum of daily actives, the peak day, and stickiness =
    mean-daily-actives / weekly-actives — computed as
    sum_daily * 1000 DIV (7 * weekly) so the float mean never exists
    (the no-float-mean convention; the divisor is the CALENDAR 7 even
    on edge weeks the data only partially covers — n_days is emitted
    so partial weeks are visible, not hidden in the ratio). The
    product-analytics engagement reading next to retention cohorts,
    the Pareto concentration table and the funnel.

    Scale shape: ONE scan + ONE distinct over (week, day, user) — the
    only user-grain shuffle — then both rollups (daily counts -> weekly
    sums, weekly distinct users) collapse off that relation. The triple
    is PERSISTED (the dedup.py signature-relation convention): it is
    referenced by BOTH rollup branches, and without the cache Catalyst
    re-derives the wau branch from the raw scan (RemoveRedundantAggregates
    collapses the (week,day,user) dedup into the (week,user) distinct),
    doubling the event-table scan — the duplicate-scan class the r15
    affix fix hunted. Cached it is the active user-day relation: far
    smaller than raw events, memory-and-disk so it spills, not OOMs, at
    100 TB. The week grid is time-bounded, so output is constant in
    data scale. All integers end-to-end."""
    ev = load_table(spark, sf_dir, "events")
    triple = (
        ev.select(
            F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias(
                "week"
            ),
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "day"
            ),
            "user_id",
        )
        .distinct()
        .persist()  # CacheManager dedupes repeat calls via sameResult
    )
    daily = triple.groupBy("week", "day").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("dau")
    )
    byweek = daily.groupBy("week").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_days"),
        F.expr("CAST(SUM(dau) AS BIGINT)").alias("sum_dau"),
        F.expr("CAST(MAX(dau) AS BIGINT)").alias("peak_dau"),
    )
    wau = triple.groupBy("week").agg(
        F.expr("CAST(COUNT(DISTINCT user_id) AS BIGINT)").alias("wau")
    )
    return byweek.join(wau, "week").select(
        "week",
        "n_days",
        "wau",
        "sum_dau",
        "peak_dau",
        F.expr("sum_dau * 1000 DIV (7 * wau)").alias("stickiness_permille"),
    )


_DAU_WAU_ORACLE = """
WITH triple AS MATERIALIZED (
  SELECT DISTINCT
         strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         user_id
  FROM events),
daily AS (
  SELECT week, day, CAST(COUNT(*) AS BIGINT) AS dau
  FROM triple GROUP BY 1, 2),
byweek AS (
  SELECT week,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(dau) AS BIGINT) AS sum_dau,
         CAST(MAX(dau) AS BIGINT) AS peak_dau
  FROM daily GROUP BY 1),
wk AS (
  SELECT week, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
  FROM triple GROUP BY 1)
SELECT week, n_days, wau, sum_dau, peak_dau,
       sum_dau * 1000 // (7 * wau) AS stickiness_permille
FROM byweek JOIN wk USING (week)
"""


# --------------------------------------------------------------------------
# Hapax richness by source (word-TYPE table at source grain)
# --------------------------------------------------------------------------


def text_hapax_richness_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lexical richness per source over the per-source word-TYPE table:
    type count, token count, hapax-legomenon count (types with
    within-source frequency exactly 1), and three exact-permille
    ratios — hapax type share (n_hapax / n_types), type/token ratio
    (n_types / n_tokens) and hapax token mass (n_hapax / n_tokens; each
    hapax carries exactly one token, so its type count IS its token
    mass). The richness complement of text_vocabulary_growth: a source
    whose hapax share collapses is recycling its vocabulary
    (template/boilerplate drift); one whose hapax share explodes is
    changing language or domain. Hapax status is WITHIN-source by
    construction — the per-source subcorpus is what a mixture decision
    weighs.

    Scale shape: one tokenize scan explodes to (source, word) and
    collapses to the per-source TYPE table (the Zipf/Heaps convention —
    downstream work on types, never tokens); the second rollup is
    per-source conditional aggregates off that table (map-side
    combinable, source is a prefix of the type key so the exchange is
    tiny); output is one row per source, constant in data scale."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    types = (
        docs.select(
            "source", F.explode(F.expr(words_expr("text"))).alias("w")
        )
        .groupBy("source", "w")
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("freq"))
    )
    return types.groupBy("source").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_types"),
        F.expr("CAST(SUM(freq) AS BIGINT)").alias("n_tokens"),
        F.expr("CAST(COUNT_IF(freq = 1) AS BIGINT)").alias("n_hapax"),
    ).select(
        "source",
        "n_types",
        "n_tokens",
        "n_hapax",
        F.expr("n_hapax * 1000 DIV n_types").alias("hapax_type_permille"),
        F.expr("n_types * 1000 DIV n_tokens").alias("type_token_permille"),
        F.expr("n_hapax * 1000 DIV n_tokens").alias("hapax_token_permille"),
    )


def _hapax_oracle() -> str:
    return f"""
WITH toks AS (
  SELECT source, unnest({oracle_words_expr("text")}) AS w FROM documents),
types AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM toks GROUP BY 1, 2),
per AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(freq) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) FILTER (WHERE freq = 1) AS BIGINT) AS n_hapax
  FROM types GROUP BY 1)
SELECT source, n_types, n_tokens, n_hapax,
       n_hapax * 1000 // n_types AS hapax_type_permille,
       n_types * 1000 // n_tokens AS type_token_permille,
       n_hapax * 1000 // n_tokens AS hapax_token_permille
FROM per
"""


QUERIES = {
    "curation_pii_pattern_scan": curation_pii_pattern_scan,
    "events_dau_wau_stickiness": events_dau_wau_stickiness,
    "text_hapax_richness_by_source": text_hapax_richness_by_source,
}

ORACLES = {
    "curation_pii_pattern_scan": _pii_oracle(),
    "events_dau_wau_stickiness": _DAU_WAU_ORACLE,
    "text_hapax_richness_by_source": _hapax_oracle(),
}
