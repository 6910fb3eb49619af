"""Round-14 third wave (the refilled r15 bank pulled forward, SURVEY
§7.4 items 34-36; item 33, the streaming moments sketch, lives in
streaming_ops.py with the other streaming faces): the quality-filter
interaction matrix, event-audience Jaccard overlap, and the per-doc
compressibility proxy.

The reference (rohitjoshi/lua-mapreduce, 1,127 LoC of Lua TCP plumbing;
its one workload is word count, example/word-count-taskfile.lua:73-159)
has none of this surface — these queries extend the repo's curation,
events and text-analysis families per the driver brief:

* ``curation_filter_interaction_matrix`` — for each PAIR of standard
  quality filters (min-length, alpha-ratio, exact-dup keep-first,
  repetition), the joint fail counts and the fail-set Jaccard — the
  measured answer to "which filters are redundant" before a corpus
  pass stacks them.
* ``events_user_overlap_jaccard`` — pairwise exact audience Jaccard
  between event types from distinct-user sets — composition overlap at
  event-type grain, the macro complement of the funnel/retention
  family.
* ``text_compression_ratio_proxy`` — per-doc compressibility proxies
  (distinct-bigram permille + the longest same-token run), the
  integer-exact stand-ins corpus filters use where running a real
  compressor inside SQL is impossible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, parallelize_scan
from lua_mapreduce_spark.functions.texthash import oracle_words_expr, words_expr

# --------------------------------------------------------------------------
# Quality-filter interaction matrix (pairwise fail-set overlap)
# --------------------------------------------------------------------------

_FIM_MIN_TOK = 10  # min-length filter: >= 10 tokens passes
_FIM_ALPHA_PCT = 60  # alpha-ratio filter: n_alpha * 100 >= 60 * n_chars
# repetition filter: duplicate-token fraction <= 0.80, i.e.
# (n_tok - n_distinct) * 100 <= 80 * n_tok — curation.py's
# _REP_MAX_DUP_WORD_FRAC re-expressed in integers (pinned by a test).
_FIM_REP_PCT = 80

_FIM_FILTERS = ("length", "alpha", "dup", "repetition")


def curation_filter_interaction_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise interaction of the four standard quality filters: per
    unordered filter pair the corpus size, each side's fail count, the
    joint fail count, the fail-set union, and the fail-set Jaccard in
    permille — the redundancy reading ("these two filters drop the
    same docs") that per-filter drop rates hide, and the measurement a
    curation pass consults before stacking filters. Filters: length
    (>= 10 tokens), alpha (alpha chars >= 60% of chars), dup (doc is
    removed under exact-dup keep-first), repetition (duplicate-token
    fraction > 80% — text_repetition_filter's threshold in integers).

    Scale shape: one scan computes all four flags per doc (the dup
    flag pays the one fingerprint-window shuffle keep-first already
    pays); the pairwise counts collapse in ONE global aggregate (ten
    conditional sums — map-side combinable); the 6-row matrix unpacks
    from that single row with stack(). Nothing pairwise at doc grain.
    Zero-fail unions define jaccard 0 (the skyline token-free
    convention)."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
    wfp = Window.partitionBy("fp")
    flags = (
        docs.select(
            "doc_id",
            fp.alias("fp"),
            F.expr(f"size({words_expr('text')})").alias("n_tok"),
            F.expr(
                f"size(array_distinct({words_expr('text')}))"
            ).alias("n_distinct"),
            F.expr(
                "size(regexp_extract_all(text, '([A-Za-z])', 1))"
            ).alias("n_alpha"),
            F.length("text").alias("n_chars"),
        )
        .withColumn("keeper", F.min("doc_id").over(wfp))
        .select(
            F.expr(f"CAST(n_tok < {_FIM_MIN_TOK} AS INT)").alias("f_length"),
            F.expr(
                f"CAST(n_alpha * 100 < {_FIM_ALPHA_PCT} * n_chars AS INT)"
            ).alias("f_alpha"),
            F.expr("CAST(doc_id <> keeper AS INT)").alias("f_dup"),
            F.expr(
                f"CAST((n_tok - n_distinct) * 100 > {_FIM_REP_PCT} * n_tok"
                " AS INT)"
            ).alias("f_repetition"),
        )
    )
    sums = [F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs")]
    for i, a in enumerate(_FIM_FILTERS):
        sums.append(F.expr(f"CAST(SUM(f_{a}) AS BIGINT)").alias(f"n_{a}"))
        for b in _FIM_FILTERS[i + 1 :]:
            sums.append(
                F.expr(f"CAST(SUM(f_{a} * f_{b}) AS BIGINT)").alias(
                    f"n_{a}_{b}"
                )
            )
    one = flags.agg(*sums)
    pairs = []
    for i, a in enumerate(_FIM_FILTERS):
        for b in _FIM_FILTERS[i + 1 :]:
            pairs.append(f"'{a}', '{b}', n_{a}, n_{b}, n_{a}_{b}")
    n_pairs = len(pairs)
    stacked = one.selectExpr(
        "n_docs",
        f"stack({n_pairs}, {', '.join(pairs)})"
        " AS (filter_a, filter_b, fail_a, fail_b, fail_both)",
    )
    return stacked.select(
        "filter_a",
        "filter_b",
        "n_docs",
        "fail_a",
        "fail_b",
        "fail_both",
        F.expr("fail_a + fail_b - fail_both").alias("fail_union"),
        F.expr(
            "CASE WHEN fail_a + fail_b - fail_both = 0 THEN 0"
            " ELSE fail_both * 1000 DIV (fail_a + fail_b - fail_both) END"
        ).alias("redundancy_permille"),
    )


def _fim_oracle() -> str:
    sums, selects = [], []
    for i, a in enumerate(_FIM_FILTERS):
        sums.append(f"CAST(SUM(f_{a}) AS BIGINT) AS n_{a}")
        for b in _FIM_FILTERS[i + 1 :]:
            sums.append(f"CAST(SUM(f_{a} * f_{b}) AS BIGINT) AS n_{a}_{b}")
            selects.append(
                f"SELECT '{a}' AS filter_a, '{b}' AS filter_b, n_docs,"
                f" n_{a} AS fail_a, n_{b} AS fail_b,"
                f" n_{a}_{b} AS fail_both FROM one"
            )
    return f"""
WITH flags AS (
  SELECT
    CAST(len({oracle_words_expr("text")}) < {_FIM_MIN_TOK} AS INT)
      AS f_length,
    CAST(len(regexp_extract_all(text, '[A-Za-z]')) * 100
         < {_FIM_ALPHA_PCT} * LENGTH(text) AS INT) AS f_alpha,
    CAST(doc_id <> MIN(doc_id) OVER (
      PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
    ) AS INT) AS f_dup,
    CAST((len({oracle_words_expr("text")})
          - len(list_distinct({oracle_words_expr("text")}))) * 100
         > {_FIM_REP_PCT} * len({oracle_words_expr("text")}) AS INT)
      AS f_repetition
  FROM documents),
one AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, {", ".join(sums)}
  FROM flags),
stacked AS ({" UNION ALL ".join(selects)})
SELECT filter_a, filter_b, n_docs, fail_a, fail_b, fail_both,
       fail_a + fail_b - fail_both AS fail_union,
       CASE WHEN fail_a + fail_b - fail_both = 0 THEN 0
            ELSE fail_both * 1000 // (fail_a + fail_b - fail_both) END
         AS redundancy_permille
FROM stacked
"""


# --------------------------------------------------------------------------
# Event-audience Jaccard overlap (pairwise distinct-user sets)
# --------------------------------------------------------------------------


def events_user_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types: for every unordered type
    pair the exact |A∩B| (distinct users doing both), both set sizes,
    and Jaccard |A∩B| / |A∪B| in permille — the composition statistic
    ("do purchasers also err?") the funnel reads directionally and
    this reads symmetrically.

    Scale shape: scan -> DISTINCT (user, type) pairs (map-side dedup);
    the intersection is a self-equi-join on user whose per-key fan-out
    is bounded by |types|²; sizes are a bounded rollup joined in twice
    (the source-overlap-matrix shape on the events table). The pairs
    are not materialized: the executed plan reads events twice and
    reuses the distinct's exchange for the other references."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    sizes = ut.groupBy("event_type").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_users")
    )
    a, b = ut.alias("a"), ut.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_both"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b")
    )
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.expr("n_a + n_b - n_both").alias("n_union"),
            F.expr(
                "n_both * 1000 DIV (n_a + n_b - n_both)"
            ).alias("jaccard_permille"),
        )
    )


USER_OVERLAP_ORACLE = """
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events),
sizes AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM ut GROUP BY 1),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT type_a, type_b,
       sa.n_users AS n_a, sb.n_users AS n_b, n_both,
       sa.n_users + sb.n_users - n_both AS n_union,
       n_both * 1000 // (sa.n_users + sb.n_users - n_both)
         AS jaccard_permille
FROM inter
JOIN sizes sa ON sa.event_type = type_a
JOIN sizes sb ON sb.event_type = type_b
"""


# --------------------------------------------------------------------------
# Per-doc compressibility proxy (distinct-bigram ratio + longest run)
# --------------------------------------------------------------------------


def text_compression_ratio_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document compressibility proxies — the integer stand-ins
    corpus filters use for "would gzip crush this doc" (template/
    boilerplate text compresses far better than prose; a real
    compressor can't run inside a SQL plan): the distinct-bigram share
    of all bigrams in permille (low = repetitive), and the longest run
    of one repeated token (gaps-and-islands over the token sequence —
    the RAKE island machinery keyed by (doc, word)). Docs with < 2
    tokens are absent (no bigrams — the shingles-CTE convention).

    Scale shape: one tokenize scan; bigram totals/distincts are
    array-lambda work in the projection (no explode, no shuffle); the
    run detection pays ONE per-doc sort shuffle (posexplode + the
    pos - row_number island id), then two bounded rollups."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.expr(words_expr("text")).alias("l")
    ).filter(F.size("l") >= 2)
    big = toks.select(
        "doc_id",
        F.expr("CAST(size(l) - 1 AS BIGINT)").alias("n_bigrams"),
        F.expr(
            "CAST(size(array_distinct(transform(sequence(0, size(l) - 2),"
            " i -> concat(l[i], ' ', l[i+1])))) AS BIGINT)"
        ).alias("n_distinct_bigrams"),
    )
    pos = toks.select(
        "doc_id", F.posexplode("l").alias("pos", "w")
    )
    wi = Window.partitionBy("doc_id", "w").orderBy("pos")
    runs = (
        pos.withColumn("iid", F.col("pos") - F.row_number().over(wi))
        .groupBy("doc_id", "w", "iid")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .groupBy("doc_id")
        .agg(F.expr("CAST(MAX(run_len) AS BIGINT)").alias("max_token_run"))
    )
    return big.join(runs, "doc_id").select(
        "doc_id",
        "n_bigrams",
        "n_distinct_bigrams",
        F.expr("n_distinct_bigrams * 1000 DIV n_bigrams").alias(
            "distinct_permille"
        ),
        "max_token_run",
    )


def _crp_oracle() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, {oracle_words_expr("text")} AS l FROM documents),
filtered AS (
  SELECT * FROM toks WHERE len(l) >= 2),
big AS (
  SELECT doc_id,
         CAST(len(l) - 1 AS BIGINT) AS n_bigrams,
         CAST(len(list_distinct(list_transform(range(1, len(l)),
              i -> l[i] || ' ' || l[i+1]))) AS BIGINT)
           AS n_distinct_bigrams
  FROM filtered),
pos AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, l[i] AS w
  FROM filtered, UNNEST(range(1, len(l) + 1)) AS r(i)),
runs AS (
  SELECT doc_id, CAST(MAX(run_len) AS BIGINT) AS max_token_run FROM (
    SELECT doc_id, w, iid, COUNT(*) AS run_len FROM (
      SELECT doc_id, w,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id, w
                                      ORDER BY pos) AS iid
      FROM pos)
    GROUP BY 1, 2, 3)
  GROUP BY doc_id)
SELECT b.doc_id, n_bigrams, n_distinct_bigrams,
       n_distinct_bigrams * 1000 // n_bigrams AS distinct_permille,
       max_token_run
FROM big b JOIN runs r ON b.doc_id = r.doc_id
"""


QUERIES = {
    "curation_filter_interaction_matrix": curation_filter_interaction_matrix,
    "events_user_overlap_jaccard": events_user_overlap_jaccard,
    "text_compression_ratio_proxy": text_compression_ratio_proxy,
}

ORACLES = {
    "curation_filter_interaction_matrix": _fim_oracle(),
    "events_user_overlap_jaccard": USER_OVERLAP_ORACLE,
    "text_compression_ratio_proxy": _crp_oracle(),
}
