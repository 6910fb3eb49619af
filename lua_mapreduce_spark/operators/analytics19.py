"""Round-14 seventh wave (the sixth refill pulled forward, SURVEY §7.4
items 51-52; item 49, the streaming burst monitor, lives in
streaming_ops.py with the other streaming faces, and item 50, SimRank-lite
node similarity, in graph.py): the quota-sampling executor and
duplicated-sentence mass.

The reference (rohitjoshi/lua-mapreduce, 1,127 LoC of Lua TCP plumbing;
its one workload is word count, example/word-count-taskfile.lua:73-159)
has none of this surface — these queries extend the repo's curation
and dedup families per the driver brief:

* ``curation_quota_sampling_executor`` — EXECUTE the token-budget
  allocation: per source, docs in deterministic md5 order until the
  granted quota is exhausted, each doc stamped take/cut/skip — the
  executable face of curation_token_budget_allocation.
* ``text_duplicate_sentence_mass`` — per-doc token mass sitting in
  corpus-duplicated fixed-width chunks ("sentences" in the
  punctuation-free corpus) — the fine-grain complement of exact-doc
  dedup and substring windows.
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
# Quota-sampling executor (run the token-budget allocation)
# --------------------------------------------------------------------------

_QSE_SALT = "quota:"


def curation_quota_sampling_executor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXECUTE curation_token_budget_allocation's quotas: per source,
    documents are taken in deterministic md5 order (the stratified-
    sampler convention) with a running token sum; each doc is stamped
    'take' (fits entirely), 'cut' (the single doc straddling the quota
    boundary — a real packer truncates it), or 'skip' (quota already
    exhausted). take + cut + skip partitions the corpus, Σ take-mass
    <= quota < Σ take+cut mass per source — the executable face of the
    allocation table, sharing its weights verbatim so the plan an
    operator approved is the plan that runs.

    Scale shape: one scan + the allocation's bounded aggregate; the
    per-source cumulative sum is one window over the md5-ranked docs
    (the same sort-shuffle the stratified sampler pays); the
    <= |sources|-row quota relation broadcasts."""
    from lua_mapreduce_spark.operators.analytics14 import (
        curation_token_budget_allocation,
    )

    quota = curation_token_budget_allocation(spark, sf_dir).select(
        "source", "quota_tokens"
    )
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    key = F.expr(
        md5_bigint_expr(f"concat('{_QSE_SALT}', CAST(doc_id AS STRING))")
    )
    w = Window.partitionBy("source").orderBy(key.asc(), F.col("doc_id").asc())
    ranked = docs.select(
        "doc_id",
        "source",
        F.expr(f"CAST(size({words_expr('text')}) AS BIGINT)").alias("n_tok"),
    ).withColumn("rn", F.row_number().over(w).cast("bigint")).withColumn(
        "cum_tokens",
        F.sum("n_tok").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return ranked.join(F.broadcast(quota), "source").select(
        "doc_id",
        "source",
        "rn",
        "n_tok",
        F.expr("CAST(cum_tokens AS BIGINT)").alias("cum_tokens"),
        "quota_tokens",
        F.expr(
            "CASE WHEN cum_tokens <= quota_tokens THEN 'take'"
            " WHEN cum_tokens - n_tok < quota_tokens THEN 'cut'"
            " ELSE 'skip' END"
        ).alias("decision"),
    )


def _qse_oracle() -> str:
    from lua_mapreduce_spark.operators.analytics14 import _tba_oracle

    key = oracle_md5_bigint_expr(
        f"concat('{_QSE_SALT}', CAST(doc_id AS VARCHAR))"
    )
    return f"""
WITH alloc AS ({_tba_oracle()}),
quota AS (SELECT source, quota_tokens FROM alloc),
ranked AS (
  SELECT doc_id, source,
         CAST(len({oracle_words_expr("text")}) AS BIGINT) AS n_tok,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
                                 ORDER BY {key}, doc_id) AS BIGINT) AS rn,
         CAST(SUM(CAST(len({oracle_words_expr("text")}) AS BIGINT))
              OVER (PARTITION BY source
                    ORDER BY {key}, doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM documents)
SELECT doc_id, r.source, rn, n_tok, cum_tokens, quota_tokens,
       CASE WHEN cum_tokens <= quota_tokens THEN 'take'
            WHEN cum_tokens - n_tok < quota_tokens THEN 'cut'
            ELSE 'skip' END AS decision
FROM ranked r JOIN quota q ON r.source = q.source
"""


# --------------------------------------------------------------------------
# Duplicated-sentence mass (fixed-width chunk hashing)
# --------------------------------------------------------------------------

_DSM_W = 8  # chunk width (tokens) — "sentences" in the punctuation-free
#             synthetic corpus; non-overlapping, tail shorter than W
#             ignored (deterministic in both engines)


def text_duplicate_sentence_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-SENTENCE mass: split each doc into
    non-overlapping _DSM_W-token chunks (the sentence stand-in for the
    punctuation-free corpus; the tail shorter than W is ignored,
    identically in both engines), count each chunk string corpus-wide,
    and report per doc how many of its chunks — and what share of its
    token mass — sits in chunks appearing >= 2 times ANYWHERE in the
    corpus. Catches the partial-duplication reading exact-doc dedup
    misses and substring-window dedup only samples: a doc that is 40%
    recycled paragraphs scores 400 permille here while evading every
    whole-doc fingerprint.

    Scale shape: one tokenize scan -> non-overlapping chunk explode
    (size/W rows per doc — LESS than the token count, unlike shingle
    explodes); chunk counts are map-side combinable; the join back
    keys on chunk (the inverted-index shuffle); the per-doc rollup is
    map-side combinable."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    chunks = (
        docs.select("doc_id", F.expr(words_expr("text")).alias("l"))
        .filter(F.size("l") >= _DSM_W)
        .select(
            "doc_id",
            F.expr("CAST(size(l) AS BIGINT)").alias("n_tokens"),
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(l) DIV {_DSM_W} - 1),"
                    f" c -> concat_ws(' ', slice(l, c * {_DSM_W} + 1,"
                    f" {_DSM_W})))"
                )
            ).alias("chunk"),
        )
        # Kept: 0.50 -> 0.59 s at sf0.1 without it (tools/checkpoint_sweep.py).
        .localCheckpoint(eager=True)
    )
    counts = chunks.groupBy("chunk").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_occ")
    )
    return (
        chunks.join(counts, "chunk")
        .groupBy("doc_id", "n_tokens")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_chunks"),
            F.expr(
                "CAST(SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_dup_chunks"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_chunks",
            "n_dup_chunks",
            F.expr(f"n_dup_chunks * {_DSM_W}").alias("dup_token_mass"),
            F.expr(
                f"n_dup_chunks * {_DSM_W} * 1000 DIV n_tokens"
            ).alias("dup_mass_permille"),
        )
    )


DUP_SENTENCE_ORACLE = f"""
WITH chunks AS (
  SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens, c.chunk
  FROM (SELECT doc_id, {oracle_words_expr("text")} AS l FROM documents) t,
       UNNEST(list_transform(range(0, len(l) // {_DSM_W}),
              c -> array_to_string(l[c * {_DSM_W} + 1 : c * {_DSM_W} + {_DSM_W}], ' ')))
         AS c(chunk)
  WHERE len(l) >= {_DSM_W}),
counts AS (
  SELECT chunk, CAST(COUNT(*) AS BIGINT) AS n_occ
  FROM chunks GROUP BY chunk)
SELECT doc_id, n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       CAST(SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         * {_DSM_W} AS dup_token_mass,
       CAST(SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         * {_DSM_W} * 1000 // n_tokens AS dup_mass_permille
FROM chunks JOIN counts USING (chunk)
GROUP BY doc_id, n_tokens
"""


QUERIES = {
    "curation_quota_sampling_executor": curation_quota_sampling_executor,
    "text_duplicate_sentence_mass": text_duplicate_sentence_mass,
}

ORACLES = {
    "curation_quota_sampling_executor": _qse_oracle(),
    "text_duplicate_sentence_mass": DUP_SENTENCE_ORACLE,
}
