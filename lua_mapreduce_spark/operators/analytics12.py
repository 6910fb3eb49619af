"""Round-13 sixth wave: cross-source duplicate overlap, inter-arrival
burstiness profile, and the Heaps vocabulary-growth curve.

The reference (rohitjoshi/lua-mapreduce, 1,127 LoC of Lua TCP plumbing;
its one workload is word count, example/word-count-taskfile.lua:73-159)
has none of this surface — these queries extend the repo's provenance,
event-traffic and corpus-statistics families per the driver brief:

* ``curation_source_overlap_matrix`` — cross-source contamination: the
  pairwise matrix of exact-duplicate fingerprints shared between
  sources, the provenance leakage a corpus-level dup rate hides.
* ``events_inter_arrival_profile`` — per-type inter-event gap doubling
  histogram plus the exact median gap — the traffic-burstiness
  diagnostic on the ingestion side.
* ``text_vocabulary_growth`` — Heaps' law: vocabulary size after each
  decile prefix of the corpus — the growth complement of the Zipf
  profile (text_zipf_fit) and the measured answer to "how much new
  vocabulary does more data buy".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, parallelize_scan
from lua_mapreduce_spark.functions.texthash import oracle_words_expr, words_expr

# --------------------------------------------------------------------------
# Cross-source exact-duplicate overlap matrix (provenance leakage)
# --------------------------------------------------------------------------


def curation_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every DISTINCT pair
    (source_a < source_b), how many exact-duplicate FINGERPRINTS appear
    in both sources — the provenance leakage a corpus-level dup rate
    hides (two 'independent' crawls sharing boilerplate inflate every
    mixture weight computed from them). Off-diagonal only: after the
    DISTINCT (fingerprint, source) projection a diagonal row's
    n_shared_fp always equals n_fp_a (identically 1000 permille, zero
    signal — r13 ADVICE), and WITHIN-source duplication is already the
    dedup family's reading (dedup_exact_hash / curation_dataset_card).
    overlap_permille normalizes by the smaller side's
    distinct-fingerprint count — the containment-style reading, so a
    small source fully swallowed by a big one reads 1000.

    Scale shape: one scan -> DISTINCT (fingerprint, source) pairs
    (map-side dedup); the matrix is a self-equi-join on fingerprint
    whose per-key fan-out is bounded by |sources|^2; per-source totals
    are a bounded rollup broadcast into the final projection."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
    fs = (
        docs.select(fp.alias("fingerprint"), "source")
        .distinct()
        # Kept: 0.27 -> 0.38 s at sf0.01 without it (tools/checkpoint_sweep.py).
        .localCheckpoint(eager=True)
    )
    totals = fs.groupBy("source").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_fp")
    )
    a, b = fs.alias("a"), fs.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_shared_fp"))
    )
    ta = totals.select(
        F.col("source").alias("source_a"), F.col("n_fp").alias("n_fp_a")
    )
    tb = totals.select(
        F.col("source").alias("source_b"), F.col("n_fp").alias("n_fp_b")
    )
    return (
        shared.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared_fp",
            "n_fp_a",
            "n_fp_b",
            F.expr(
                "n_shared_fp * 1000 DIV least(n_fp_a, n_fp_b)"
            ).alias("overlap_permille"),
        )
    )


SOURCE_OVERLAP_ORACLE = r"""
WITH fs AS (
  SELECT DISTINCT
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
           AS fingerprint,
         source
  FROM documents),
totals AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_fp FROM fs GROUP BY source),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared_fp
  FROM fs a JOIN fs b
    ON a.fingerprint = b.fingerprint AND a.source < b.source
  GROUP BY 1, 2)
SELECT source_a, source_b, n_shared_fp,
       ta.n_fp AS n_fp_a, tb.n_fp AS n_fp_b,
       n_shared_fp * 1000 // least(ta.n_fp, tb.n_fp) AS overlap_permille
FROM shared
JOIN totals ta ON ta.source = source_a
JOIN totals tb ON tb.source = source_b
"""


# --------------------------------------------------------------------------
# Inter-arrival gap profile (traffic burstiness, doubling buckets)
# --------------------------------------------------------------------------


def events_inter_arrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-event arrival gaps — the ingestion-side
    burstiness diagnostic (text_burstiness reads content burstiness;
    this reads TRAFFIC burstiness): consecutive same-type events'
    second gaps (one lag window, the EWMA ordering convention ts then
    event_id for a total order), bucketed by LENGTH(BIN(gap + 1)) (the
    doubling idiom), with the per-type EXACT median gap carried on
    every row — median from the cumulative distinct-gap histogram (the
    AUC convention: the window runs over the bounded distinct-gap
    domain, never the event count; median = the smallest gap value
    whose doubled cumulative count reaches the total).

    Scale shape: one scan -> one per-type lag window (the shuffle any
    per-type sequence analysis needs) -> map-side bucket projection ->
    two bounded rollups; output is |types| x ~32 buckets."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "event_type",
            "event_id",
            "ts",  # the window orders on full-precision ts (sub-second
            #        ties broken by event_id, the EWMA convention)
            F.expr("CAST(unix_timestamp(ts) AS BIGINT)").alias("sec"),
        )
        .withColumn("prev", F.lag("sec").over(w))
        .filter("prev IS NOT NULL")
        .select("event_type", F.expr("sec - prev").alias("gap"))
    )
    hist = gaps.groupBy("event_type", "gap").agg(
        F.count(F.lit(1)).alias("n")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    med = (
        hist.withColumn("cum", F.sum("n").over(wcum))
        .withColumn(
            "tot", F.sum("n").over(Window.partitionBy("event_type"))
        )
        .filter("2 * cum >= tot")
        .groupBy("event_type")
        .agg(F.expr("CAST(MIN(gap) AS BIGINT)").alias("median_gap_sec"))
    )
    prof = gaps.groupBy(
        "event_type",
        F.expr("CAST(LENGTH(BIN(gap + 1)) AS BIGINT)").alias("gap_bucket"),
    ).agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_gaps"),
        F.expr("CAST(MIN(gap) AS BIGINT)").alias("min_gap_sec"),
        F.expr("CAST(MAX(gap) AS BIGINT)").alias("max_gap_sec"),
    )
    return prof.join(F.broadcast(med), "event_type").select(
        "event_type",
        "gap_bucket",
        "n_gaps",
        "min_gap_sec",
        "max_gap_sec",
        "median_gap_sec",
    )


INTER_ARRIVAL_ORACLE = """
WITH gaps AS (
  SELECT event_type, sec - prev AS gap FROM (
    SELECT event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS sec,
           LAG(CAST(floor(epoch(ts)) AS BIGINT))
             OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev
    FROM events)
  WHERE prev IS NOT NULL),
hist AS (
  SELECT event_type, gap, COUNT(*) AS n FROM gaps GROUP BY 1, 2),
med AS (
  SELECT event_type, CAST(MIN(gap) AS BIGINT) AS median_gap_sec FROM (
    SELECT event_type, gap,
           SUM(n) OVER (PARTITION BY event_type ORDER BY gap
                        ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(n) OVER (PARTITION BY event_type) AS tot
    FROM hist)
  WHERE 2 * cum >= tot GROUP BY event_type),
prof AS (
  SELECT event_type,
         CAST(LENGTH(BIN(gap + 1)) AS BIGINT) AS gap_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(MIN(gap) AS BIGINT) AS min_gap_sec,
         CAST(MAX(gap) AS BIGINT) AS max_gap_sec
  FROM gaps GROUP BY 1, 2)
SELECT p.event_type, gap_bucket, n_gaps, min_gap_sec, max_gap_sec,
       median_gap_sec
FROM prof p JOIN med m ON p.event_type = m.event_type
"""


# --------------------------------------------------------------------------
# Heaps vocabulary-growth curve (decile corpus prefixes)
# --------------------------------------------------------------------------

_VG_STEPS = 10


def text_vocabulary_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps' law measured: vocabulary size after each decile prefix of
    the corpus (prefix = doc_id < k/10 of the id domain — the
    deterministic corpus order), with the token mass of the prefix and
    the NEW words each decile contributes — the growth complement of
    text_zipf_fit's rank-frequency profile, and the measured answer to
    "how much new vocabulary does more data buy" (a flattening curve
    says more of the same source adds tokens, not diversity).

    Scale shape: one tokenize scan -> per-word MIN(doc_id) (the word-
    TYPE table again) + per-doc token counts; both cross the bounded
    10-row threshold grid as conditional aggregates — no per-prefix
    rescan; the new-words delta is one lag over the 10-row curve."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    mx = docs.agg(F.expr("CAST(MAX(doc_id) + 1 AS BIGINT)").alias("mx"))
    firsts = (
        docs.select(
            "doc_id", F.explode(F.expr(words_expr("text"))).alias("w")
        )
        .groupBy("w")
        .agg(F.expr("CAST(MIN(doc_id) AS BIGINT)").alias("first_doc"))
    )
    doc_toks = docs.select(
        "doc_id",
        F.expr(f"CAST(size({words_expr('text')}) AS BIGINT)").alias("n_tok"),
    )
    ks = (
        spark.range(1, _VG_STEPS + 1)
        .select(F.col("id").alias("k"))
        .crossJoin(F.broadcast(mx))
        .selectExpr("CAST(k AS BIGINT) AS k", f"k * mx DIV {_VG_STEPS} AS cut")
    )
    vocab = (
        firsts.crossJoin(F.broadcast(ks))
        .groupBy("k", "cut")
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN first_doc < cut THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("vocab_size")
        )
    )
    toks = (
        doc_toks.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN doc_id < cut THEN n_tok ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_tokens"),
            F.expr(
                "CAST(SUM(CASE WHEN doc_id < cut THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_docs"),
        )
    )
    wlag = Window.orderBy("k")  # 10-row curve
    return (
        vocab.join(toks, "k")
        .select("k", "n_docs", "n_tokens", "vocab_size")
        .withColumn(
            "new_words",
            F.col("vocab_size")
            - F.coalesce(
                F.lag("vocab_size").over(wlag), F.lit(0).cast("bigint")
            ),
        )
    )


VOCAB_GROWTH_ORACLE = f"""
WITH mx AS (SELECT CAST(MAX(doc_id) + 1 AS BIGINT) AS mx FROM documents),
firsts AS (
  SELECT w, CAST(MIN(doc_id) AS BIGINT) AS first_doc FROM (
    SELECT doc_id, UNNEST({oracle_words_expr("text")}) AS w
    FROM documents)
  GROUP BY w),
doc_toks AS (
  SELECT doc_id,
         CAST(len({oracle_words_expr("text")}) AS BIGINT) AS n_tok
  FROM documents),
ks AS (
  SELECT CAST(k AS BIGINT) AS k, k * mx // {_VG_STEPS} AS cut
  FROM (SELECT UNNEST(range(1, {_VG_STEPS + 1})) AS k), mx),
vocab AS (
  SELECT k, CAST(SUM(CASE WHEN first_doc < cut THEN 1 ELSE 0 END)
                 AS BIGINT) AS vocab_size
  FROM firsts CROSS JOIN ks GROUP BY k),
toks AS (
  SELECT k,
         CAST(SUM(CASE WHEN doc_id < cut THEN n_tok ELSE 0 END)
              AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN doc_id < cut THEN 1 ELSE 0 END)
              AS BIGINT) AS n_docs
  FROM doc_toks CROSS JOIN ks GROUP BY k)
SELECT v.k, n_docs, n_tokens, vocab_size,
       vocab_size - COALESCE(LAG(vocab_size) OVER (ORDER BY v.k),
                             CAST(0 AS BIGINT)) AS new_words
FROM vocab v JOIN toks t ON v.k = t.k
"""




# --------------------------------------------------------------------------
# Per-document n-gram novelty (incremental-ingest duplication reading)
# --------------------------------------------------------------------------


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document shingle NOVELTY: the fraction of a doc's distinct
    word-3-grams whose corpus-wide FIRST occurrence (MIN doc_id, the
    deterministic corpus order) is this document — the incremental-
    ingest reading of duplication the pairwise dedup family does not
    give (a doc can evade every near-dup pair yet contribute nothing
    new), and the document-grain complement of text_vocabulary_growth's
    corpus curve. Uses the SHARED shingle machinery (dedup's 3-gram
    distinct sets, docs with < 3 tokens absent — the shingles-CTE
    convention), so the novelty definition can never drift from the
    dedup family's shingle universe.

    Scale shape: exploded (doc, shingle) rows come from the PERSISTED
    signature relation (`_minhash_signatures`), not a raw re-scan —
    `sh` is referenced twice below (the firsts aggregate AND the join
    back), and deriving it from the raw table re-ran the
    tokenize+explode subtree per reference (the same double-pass
    dedup_ngram_jaccard's docstring rules out; its fix measured
    13.5 -> 2.1 s at sf0.1). Per-shingle MIN(doc_id) is a map-side-
    combinable aggregate; the join back keys on shingle (the
    inverted-index shuffle every shingle-grain statistic pays); the
    per-doc rollup is map-side combinable. Nothing pairwise, nothing
    quadratic."""
    from lua_mapreduce_spark.operators.dedup import _minhash_signatures

    sh = _minhash_signatures(spark, sf_dir).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    firsts = sh.groupBy("shingle").agg(
        F.expr("CAST(MIN(doc_id) AS BIGINT)").alias("first_doc")
    )
    return (
        sh.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_shingles"),
            F.expr(
                "CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("n_novel * 1000 DIV n_shingles").alias(
                "novelty_permille"
            ),
        )
    )


def _novelty_oracle() -> str:
    from lua_mapreduce_spark.operators.dedup import _SHINGLES_ORACLE_CTE

    return f"""
WITH {_SHINGLES_ORACLE_CTE},
firsts AS (
  SELECT shingle, CAST(MIN(doc_id) AS BIGINT) AS first_doc
  FROM shingles GROUP BY shingle)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN first_doc = s.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN first_doc = s.doc_id THEN 1 ELSE 0 END) * 1000
            // COUNT(*) AS BIGINT) AS novelty_permille
FROM shingles s JOIN firsts f ON s.shingle = f.shingle
GROUP BY s.doc_id
"""


QUERIES = {
    "curation_source_overlap_matrix": curation_source_overlap_matrix,
    "events_inter_arrival_profile": events_inter_arrival_profile,
    "text_vocabulary_growth": text_vocabulary_growth,
    "text_ngram_novelty": text_ngram_novelty,
}

ORACLES = {
    "curation_source_overlap_matrix": SOURCE_OVERLAP_ORACLE,
    "events_inter_arrival_profile": INTER_ARRIVAL_ORACLE,
    "text_vocabulary_growth": VOCAB_GROWTH_ORACLE,
    "text_ngram_novelty": _novelty_oracle(),
}
