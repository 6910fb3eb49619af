"""Round-16 third wave (the committed bank, SURVEY §7.4 items 69-72):
train/eval split leakage audit, seasonality-aware anomaly flags,
readability profile, and the IVF probe-count recall curve.

The reference (rohitjoshi/lua-mapreduce, 1,127 LoC of Lua TCP plumbing;
its one workload is word count, example/word-count-taskfile.lua:73-159)
has none of this surface — these queries extend the repo's curation,
event-analytics, text and similarity families per the driver brief:

* ``curation_split_leakage_audit`` — the train/eval hygiene check every
  LLM pipeline ships: a deterministic md5 split, then near-dup pairs
  STRADDLING the split surfaced from the existing banded-LSH
  candidates, per signature band with leaked eval-doc and token mass.
* ``events_anomaly_seasonal_residual`` — MAD-thresholded flags on the
  hour-of-day residual from events_seasonal_decompose: catches the 3am
  spike the trailing 3-sigma test normalizes away and un-flags the 9am
  rush it false-positives on.
* ``text_readability_by_source`` — integer-exact readability per
  source (mean word length, long/short-word permilles, tokens per
  doc) — the stopword-free curation signal next to quality score.
* ``sim_ivf_probe_recall_curve`` — recall@5 AND candidate cost vs
  n_probe in {1, 2, 4}: the accuracy-vs-cost knob sim_recall_at_k_report
  fixes at one point, swept.
"""

from __future__ import annotations

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
# Train/eval split leakage audit (rides the banded-LSH candidates)
# --------------------------------------------------------------------------

_SLA_EVAL_MOD = 10  # md5(doc_id) % 10 == 0 -> eval split (~10%)


def _split_is_eval(dialect: str, col: str) -> str:
    """Deterministic md5 split flag, identical in both engines — content
    hashing (not doc_id % k) so the split survives re-ingestion order
    changes, the production convention."""
    h = (
        md5_bigint_expr(f"concat('split-', CAST({col} AS STRING))")
        if dialect == "spark"
        else oracle_md5_bigint_expr(f"concat('split-', CAST({col} AS VARCHAR))")
    )
    return f"({h} % {_SLA_EVAL_MOD} = 0)"


def curation_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The train/eval hygiene check every LLM pipeline ships before a
    benchmark claim: assign every doc to train/eval by a deterministic
    md5 split, then surface near-dup pairs that STRADDLE the split —
    an eval doc with a train-side near-duplicate is contamination BY
    CONSTRUCTION, no benchmark table needed. Per signature-match band
    (the precision-audit bucketing): straddling candidate pairs, pairs
    whose EXACT Jaccard clears the dedup gate (true leaks), distinct
    leaked eval docs, and their token mass — the cost of the cleanup
    re-split. The audit rides the PERSISTED signature/banding machinery
    (candidates only, never all pairs; the one-scan artifact every
    dedup-family query shares).

    Scale shape: banded bucket join -> candidate pairs (bounded by
    bucket collisions); split flags are md5 arithmetic on the pair row
    (no extra scan); the exact verify is array_intersect on the joined
    signature rows; leaked-doc token masses join ONE slim (doc_id,
    n_tok) projection against the tiny leaked-doc set; output <= 5
    bands."""
    from lua_mapreduce_spark.operators.analytics18 import _NPA_BAND_W
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
            "doc_a",
            "doc_b",
            F.expr(
                "CAST(size(array_intersect(sa.shingles, sb.shingles))"
                " AS BIGINT)"
            ).alias("n_common"),
            F.expr("CAST(size(sa.shingles) AS BIGINT)").alias("na"),
            F.expr("CAST(size(sb.shingles) AS BIGINT)").alias("nb"),
            F.expr(_match_sum_expr("sa", "sb", None)).alias("s"),
            F.expr(_split_is_eval("spark", "doc_a")).alias("eval_a"),
            F.expr(_split_is_eval("spark", "doc_b")).alias("eval_b"),
        )
        .filter("eval_a <> eval_b")  # straddling pairs only
        .select(
            F.expr(f"s DIV {_NPA_BAND_W}").alias("sig_band"),
            F.expr("IF(eval_a, doc_a, doc_b)").alias("eval_doc"),
            F.expr(
                "CAST(n_common * 1000 DIV (na + nb - n_common) >="
                f" {gate} AS INT)"
            ).alias("is_leak"),
        )
        # Kept: 0.72 -> 1.17 s at sf0.01 without it (tools/checkpoint_sweep.py).
        .localCheckpoint(eager=True)
    )
    pair_grid = paired.groupBy("sig_band").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_straddling"),
        F.expr("CAST(SUM(is_leak) AS BIGINT)").alias("n_leaked"),
    )
    toks = parallelize_scan(spark, load_table(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("eval_doc"),
        F.expr(f"CAST(SIZE({words_expr('text')}) AS BIGINT)").alias("n_tok"),
    )
    leaked_docs = (
        paired.filter("is_leak = 1")
        .select("sig_band", "eval_doc")
        .distinct()
        .join(toks, "eval_doc")
        .groupBy("sig_band")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_eval_docs_leaked"),
            F.expr("CAST(SUM(n_tok) AS BIGINT)").alias("leaked_token_mass"),
        )
    )
    return pair_grid.join(leaked_docs, "sig_band", "left").select(
        "sig_band",
        "n_straddling",
        "n_leaked",
        F.expr("CAST(COALESCE(n_eval_docs_leaked, 0) AS BIGINT)").alias(
            "n_eval_docs_leaked"
        ),
        F.expr("CAST(COALESCE(leaked_token_mass, 0) AS BIGINT)").alias(
            "leaked_token_mass"
        ),
        F.expr("n_leaked * 1000 DIV n_straddling").alias("leak_permille"),
    )


def _sla_oracle() -> str:
    from lua_mapreduce_spark.operators.analytics18 import _NPA_BAND_W
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
    ev_a = _split_is_eval("duck", "c.doc_a")
    ev_b = _split_is_eval("duck", "c.doc_b")
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
paired AS MATERIALIZED (
  SELECT ({_match_sum_expr("a", "b", None)}) // {_NPA_BAND_W} AS sig_band,
         CASE WHEN {ev_a} THEN c.doc_a ELSE c.doc_b END AS eval_doc,
         CAST(CAST(COALESCE(cm.n_common, 0) AS BIGINT) * 1000
              // (sa.n + sb.n - COALESCE(cm.n_common, 0)) >= {gate}
              AS INT) AS is_leak
  FROM candidates c
  JOIN mh a ON a.doc_id = c.doc_a
  JOIN mh b ON b.doc_id = c.doc_b
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
  LEFT JOIN common cm ON cm.doc_a = c.doc_a AND cm.doc_b = c.doc_b
  WHERE ({ev_a}) <> ({ev_b})),
pair_grid AS (
  SELECT sig_band,
         CAST(COUNT(*) AS BIGINT) AS n_straddling,
         CAST(SUM(is_leak) AS BIGINT) AS n_leaked
  FROM paired GROUP BY sig_band),
toks AS (
  SELECT doc_id AS eval_doc,
         CAST(len({oracle_words_expr("text")}) AS BIGINT) AS n_tok
  FROM documents),
leaked AS (
  SELECT sig_band,
         CAST(COUNT(*) AS BIGINT) AS n_eval_docs_leaked,
         CAST(SUM(n_tok) AS BIGINT) AS leaked_token_mass
  FROM (SELECT DISTINCT sig_band, eval_doc FROM paired WHERE is_leak = 1)
  JOIN toks USING (eval_doc)
  GROUP BY sig_band)
SELECT sig_band, n_straddling, n_leaked,
       CAST(COALESCE(n_eval_docs_leaked, 0) AS BIGINT) AS n_eval_docs_leaked,
       CAST(COALESCE(leaked_token_mass, 0) AS BIGINT) AS leaked_token_mass,
       n_leaked * 1000 // n_straddling AS leak_permille
FROM pair_grid LEFT JOIN leaked USING (sig_band)
"""


# --------------------------------------------------------------------------
# Seasonality-aware anomaly flags (MAD on the hour-of-day residual)
# --------------------------------------------------------------------------

_ASR_K = 6  # flag when 2*|deviation| > _ASR_K * (2*MAD), i.e. |dev| > 3*MAD


def events_anomaly_seasonal_residual(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonality-aware anomaly detection: flag hours whose deviation
    from the HOUR-OF-DAY seasonal profile is a robust outlier —
    2*|deviation_milli| > _ASR_K * mad2 where mad2 = 2*MAD of the
    hod's residuals (median() of integers lands on whole or half
    integers, both exact doubles, so 2x is an exact BIGINT — no float
    ever compares). Catches the 3am spike the trailing 3-sigma test
    (events_anomaly_hours) normalizes away into its window mean, and
    un-flags the 9am rush it false-positives on. COMPOSES
    events_seasonal_decompose (the same plan, not a re-derivation —
    the confusion-matrix convention), so the residuals can never drift
    from the decomposition they score. A degenerate hod (constant
    counts, MAD 0) flags any nonzero deviation — the strictest honest
    reading of 'deviates from an otherwise perfectly regular hour'.
    Every hour is emitted with its flag (not just anomalies), so the
    result verifies values even on a quiet series.

    Scale shape: the decomposition's one map-side-combined hourly
    shuffle; the MAD is a 24-group aggregate over the already-tiny
    hourly table joined back on hod; output bounded by observed hours
    (time-bounded, not data-bounded)."""
    from lua_mapreduce_spark.operators.events import events_seasonal_decompose

    dec = events_seasonal_decompose(spark, sf_dir)
    mad = dec.groupBy("hod").agg(
        F.expr(
            "CAST(2 * median(abs(deviation_milli)) AS BIGINT)"
        ).alias("mad2_milli")
    )
    return dec.join(mad, "hod").select(
        "hr_epoch",
        "hour_str",
        "hod",
        "n",
        "deviation_milli",
        "mad2_milli",
        F.expr(
            f"2 * abs(deviation_milli) > {_ASR_K} * mad2_milli"
        ).alias("is_anomaly"),
        F.expr(
            f"deviation_milli > 0 AND 2 * abs(deviation_milli) >"
            f" {_ASR_K} * mad2_milli"
        ).alias("is_spike"),
    )


def _asr_oracle() -> str:
    from lua_mapreduce_spark.operators.events import SEASONAL_ORACLE

    return f"""
WITH dec AS ({SEASONAL_ORACLE}),
mad AS (
  SELECT hod, CAST(2 * median(abs(deviation_milli)) AS BIGINT) AS mad2_milli
  FROM dec GROUP BY hod)
SELECT hr_epoch, hour_str, hod, n, deviation_milli, mad2_milli,
       2 * abs(deviation_milli) > {_ASR_K} * mad2_milli AS is_anomaly,
       deviation_milli > 0 AND 2 * abs(deviation_milli) >
         {_ASR_K} * mad2_milli AS is_spike
FROM dec JOIN mad USING (hod)
"""


# --------------------------------------------------------------------------
# Readability profile by source (one scan, zero explode)
# --------------------------------------------------------------------------

_RB_LONG = 7  # long-word threshold (chars)
_RB_SHORT = 3  # short-word threshold (chars)


def text_readability_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact readability profile per source: mean word length
    in milli-chars, long-word (>= 7 chars) and short-word (<= 3 chars)
    permilles, and tokens per doc in milli — the curation signal next
    to quality score that needs no stopword list (word-length mix is
    the cheapest register/language-drift indicator there is). All
    ratios are truncating integer arithmetic over exact sums.

    Scale shape: ONE scan, ZERO explode — per-doc token count, total
    char mass and long/short counts come from size/filter/aggregate
    higher-order folds on the token array (JVM codegen, no
    row-multiplication), then a per-source map-side-combinable rollup.
    Output is one row per source."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    w = words_expr("text")
    per_doc = docs.select(
        "source",
        F.expr(f"CAST(SIZE({w}) AS BIGINT)").alias("n_tok"),
        F.expr(
            f"CAST(aggregate({w}, 0L, (acc, x) -> acc + length(x))"
            " AS BIGINT)"
        ).alias("char_mass"),
        F.expr(
            f"CAST(SIZE(filter({w}, x -> length(x) >= {_RB_LONG}))"
            " AS BIGINT)"
        ).alias("n_long"),
        F.expr(
            f"CAST(SIZE(filter({w}, x -> length(x) <= {_RB_SHORT}))"
            " AS BIGINT)"
        ).alias("n_short"),
    )
    return per_doc.groupBy("source").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
        F.expr("CAST(SUM(n_tok) AS BIGINT)").alias("n_tokens"),
        F.expr(
            "CAST(SUM(char_mass) * 1000 DIV SUM(n_tok) AS BIGINT)"
        ).alias("mean_word_len_milli"),
        F.expr("CAST(SUM(n_long) * 1000 DIV SUM(n_tok) AS BIGINT)").alias(
            "long_word_permille"
        ),
        F.expr("CAST(SUM(n_short) * 1000 DIV SUM(n_tok) AS BIGINT)").alias(
            "short_word_permille"
        ),
        F.expr("CAST(SUM(n_tok) * 1000 DIV COUNT(*) AS BIGINT)").alias(
            "tokens_per_doc_milli"
        ),
    )


def _rb_oracle() -> str:
    w = oracle_words_expr("text")
    return f"""
WITH per_doc AS (
  SELECT source,
         CAST(len({w}) AS BIGINT) AS n_tok,
         CAST(list_sum(list_transform({w}, x -> len(x))) AS BIGINT)
           AS char_mass,
         CAST(len(list_filter({w}, x -> len(x) >= {_RB_LONG})) AS BIGINT)
           AS n_long,
         CAST(len(list_filter({w}, x -> len(x) <= {_RB_SHORT})) AS BIGINT)
           AS n_short
  FROM documents)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(char_mass) * 1000 // SUM(n_tok) AS BIGINT)
         AS mean_word_len_milli,
       CAST(SUM(n_long) * 1000 // SUM(n_tok) AS BIGINT)
         AS long_word_permille,
       CAST(SUM(n_short) * 1000 // SUM(n_tok) AS BIGINT)
         AS short_word_permille,
       CAST(SUM(n_tok) * 1000 // COUNT(*) AS BIGINT)
         AS tokens_per_doc_milli
FROM per_doc GROUP BY source
"""


# --------------------------------------------------------------------------
# IVF probe-count recall curve (accuracy vs candidate cost, swept)
# --------------------------------------------------------------------------

_PRC_PROBES = (1, 2, 4)  # n_probe grid; max < similarity._N_PROBE


def sim_ivf_probe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve: recall@_TOP_K AND candidate cost vs
    n_probe in {1, 2, 4} against the exact cosine baseline — the
    accuracy-vs-cost knob sim_recall_at_k_report fixes at one point
    (_N_PROBE), swept. A candidate is reachable at n_probe = p iff the
    rank of ITS home cell among the query's nearest centroids is <= p,
    so the whole sweep derives from ONE assignment relation (the same
    Lloyd's-centroid broadcast ranking sim_ivf_topk builds): per p,
    rank reachable candidates by cosine and intersect the top-_TOP_K
    with the exact baseline. n_candidates is the cost column — the
    pairs a cluster actually scores at that probe setting; recall
    rises with p exactly as candidates do, and the curve says whether
    the next probe is worth its scan.

    Scale shape: centroids broadcast (fixed k); the probe grid joins
    as a 3-row broadcast against the candidate relation (the
    allowlisted tiny-side nested-loop class); the exact baseline is
    the localCheckpoint'd 50-row relation; all rollups are per-p
    grids. The candidate relation is what IVF scores anyway. Neither
    the cell assignment nor the scored candidates are materialized, so
    the executed plan reads the embeddings 4 times."""
    from lua_mapreduce_spark.operators.similarity import (
        _km_centroids,
        _N_QUERIES,
        _TOP_K,
        sim_cosine_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cent = _km_centroids(spark, sf_dir)
    corpus = parallelize_scan(spark, emb)
    cos_to_cent = (
        "aggregate(zip_with(embedding, cemb,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        " / (sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
        " * sqrt(aggregate(cemb, CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"
    )
    rank_w = Window.partitionBy("vec_id").orderBy(
        F.desc("ccos"), F.asc("cent_id")
    )
    max_p = max(_PRC_PROBES)
    assign = (
        corpus.crossJoin(F.broadcast(cent))
        .select(
            "vec_id", "embedding", "cent_id", F.expr(cos_to_cent).alias("ccos")
        )
        .withColumn("crank", F.row_number().over(rank_w))
        # Keep only the rows either consumer can use.
        .filter(
            (F.col("crank") == 1)
            | ((F.col("vec_id") < _N_QUERIES) & (F.col("crank") <= max_p))
        )
        .select("vec_id", "embedding", "cent_id", "crank")
    )
    cells = assign.filter(F.col("crank") == 1).select(
        "vec_id", "embedding", "cent_id"
    )
    probes = assign.filter(
        (F.col("vec_id") < _N_QUERIES) & (F.col("crank") <= max_p)
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        "cent_id",
        F.col("crank").alias("probe_rank"),
    )
    cand = (
        probes.alias("a")
        .join(cells.alias("b"), "cent_id")
        .filter(F.col("a.q_id") != F.col("b.vec_id"))
        .select(
            F.col("a.q_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.col("a.probe_rank").alias("probe_rank"),
            F.expr(
                "aggregate(zip_with(a.q_emb, b.embedding,"
                " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
                " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
                " / (sqrt(aggregate(a.q_emb, CAST(0.0 AS DOUBLE),"
                " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
                " * sqrt(aggregate(b.embedding, CAST(0.0 AS DOUBLE),"
                " (acc, v) -> acc + CAST(v AS DOUBLE)"
                " * CAST(v AS DOUBLE))))"
            ).alias("cosine"),
        )
    )
    grid = spark.createDataFrame(
        [(p,) for p in _PRC_PROBES], "n_probe int"
    )
    swept = cand.join(
        F.broadcast(grid), F.col("probe_rank") <= F.col("n_probe")
    )
    wr = Window.partitionBy("n_probe", "query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    ranked = swept.withColumn("a_rank", F.row_number().over(wr))
    exact = (
        sim_cosine_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)  # kept: pins a nondeterministic relation
    )
    costs = swept.groupBy("n_probe").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_candidates")
    )
    hits = (
        ranked.filter(F.col("a_rank") <= _TOP_K)
        .join(exact, ["query_id", "neighbor_id"])
        .groupBy("n_probe")
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_hits"))
    )
    return costs.join(hits, "n_probe", "left").select(
        F.col("n_probe").cast("bigint").alias("n_probe"),
        "n_candidates",
        F.expr("CAST(COALESCE(n_hits, 0) AS BIGINT)").alias("n_hits"),
        F.expr(f"CAST({_N_QUERIES} * {_TOP_K} AS BIGINT)").alias(
            "n_possible"
        ),
        F.expr(
            f"COALESCE(n_hits, 0) * 1000 DIV {_N_QUERIES * _TOP_K}"
        ).alias("recall_permille"),
    )


def _prc_oracle() -> str:
    from lua_mapreduce_spark.operators.similarity import (
        _km_oracle_ctes,
        _N_QUERIES,
        _TOP_K,
        SIM_TOPK_ORACLE,
    )

    cos_ab = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
        " / (sqrt(list_sum(list_transform({a},"
        " v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"
        " * sqrt(list_sum(list_transform({b},"
        " v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))"
    )
    max_p = max(_PRC_PROBES)
    probe_vals = ", ".join(f"({p})" for p in _PRC_PROBES)
    return f"""
WITH {_km_oracle_ctes()},
assign AS (
  SELECT e.vec_id, e.embedding, c.cent_id,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {cos_ab.format(a="e.embedding", b="c.cemb")} DESC,
                                     c.cent_id ASC) AS crank
  FROM embeddings e CROSS JOIN cent c),
cells AS (SELECT vec_id, embedding, cent_id FROM assign WHERE crank = 1),
probes AS (
  SELECT vec_id AS q_id, embedding AS q_emb, cent_id, crank AS probe_rank
  FROM assign WHERE vec_id < {_N_QUERIES} AND crank <= {max_p}),
cand AS MATERIALIZED (
  SELECT a.q_id AS query_id, b.vec_id AS neighbor_id, a.probe_rank,
         {cos_ab.format(a="a.q_emb", b="b.embedding")} AS cosine
  FROM probes a JOIN cells b ON a.cent_id = b.cent_id
  WHERE a.q_id != b.vec_id),
grid(n_probe) AS (VALUES {probe_vals}),
swept AS MATERIALIZED (
  SELECT g.n_probe, c.query_id, c.neighbor_id, c.cosine
  FROM cand c JOIN grid g ON c.probe_rank <= g.n_probe),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY n_probe, query_id
                               ORDER BY cosine DESC, neighbor_id ASC)
              AS a_rank
  FROM swept),
ex AS (SELECT query_id, neighbor_id FROM ({SIM_TOPK_ORACLE})),
costs AS (
  SELECT n_probe, CAST(COUNT(*) AS BIGINT) AS n_candidates
  FROM swept GROUP BY n_probe),
hits AS (
  SELECT n_probe, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM ranked r JOIN ex ON r.query_id = ex.query_id
                       AND r.neighbor_id = ex.neighbor_id
  WHERE r.a_rank <= {_TOP_K}
  GROUP BY n_probe)
SELECT CAST(c.n_probe AS BIGINT) AS n_probe, n_candidates,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST({_N_QUERIES * _TOP_K} AS BIGINT) AS n_possible,
       COALESCE(h.n_hits, 0) * 1000 // {_N_QUERIES * _TOP_K}
         AS recall_permille
FROM costs c LEFT JOIN hits h USING (n_probe)
"""


QUERIES = {
    "curation_split_leakage_audit": curation_split_leakage_audit,
    "events_anomaly_seasonal_residual": events_anomaly_seasonal_residual,
    "text_readability_by_source": text_readability_by_source,
    "sim_ivf_probe_recall_curve": sim_ivf_probe_recall_curve,
}

ORACLES = {
    "curation_split_leakage_audit": _sla_oracle(),
    "events_anomaly_seasonal_residual": _asr_oracle(),
    "text_readability_by_source": _rb_oracle(),
    "sim_ivf_probe_recall_curve": _prc_oracle(),
}
