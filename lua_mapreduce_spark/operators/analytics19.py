"""Round-14 seventh wave (the sixth refill pulled forward, SURVEY §7.4
items 50-52; item 49, the streaming burst monitor, lives in
streaming_ops.py with the other streaming faces): SimRank-lite node
similarity, the quota-sampling executor, and duplicated-sentence mass.

The reference (rohitjoshi/lua-mapreduce, 1,127 LoC of Lua TCP plumbing;
its one workload is word count, example/word-count-taskfile.lua:73-159)
has none of this surface — these queries extend the repo's graph,
curation and dedup families per the driver brief:

* ``graph_node_similarity_simrank_lite`` — one SimRank iteration
  (Jeh & Widom 2002) from the identity base case: s(u,v) = C x
  |I(u) ∩ I(v)| / (|I(u)| x |I(v)|) with C = 1/2 dyadic — structural
  equivalence ("similar because similar nodes point at both"), the
  normalization Jaccard's union denominator doesn't give.
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
# SimRank-lite (one iteration from the identity base case)
# --------------------------------------------------------------------------


def graph_node_similarity_simrank_lite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One SimRank iteration (Jeh & Widom 2002) on the directed trade
    graph, from the identity base case s0(a,b) = [a = b]: s1(u,v) =
    C / (|I(u)| |I(v)|) x Σ_{a in I(u), b in I(v)} s0(a,b) =
    C x |I(u) ∩ I(v)| / (|I(u)| x |I(v)|), C = 1/2 (dyadic, so the
    permille is the exact integer 500 x n_common DIV (indeg_u x
    indeg_v)). Structural equivalence — two nations are similar when
    the SAME exporters feed both — normalized by the in-degree PRODUCT,
    which separates it from graph_jaccard_link_prediction's union
    denominator (SimRank punishes hub pairs harder). All unordered
    pairs with a common in-neighbor are scored, existing edges
    included (SimRank is a similarity, not a link predictor).

    Scale shape: the in-neighbor join keys on the shared <= 50-row
    edge relation; the pair relation is schema-bounded (<= 300 rows);
    nothing grows with data volume after the edge build."""
    from lua_mapreduce_spark.operators.analytics7 import _trade_edges_ck

    edges = _trade_edges_ck(spark, sf_dir)
    inn = edges.select(F.col("dst").alias("u"), F.col("src").alias("a"))
    ind = inn.groupBy("u").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("indeg")
    )
    x, y = inn.alias("x"), inn.alias("y")
    common = (
        x.join(
            y,
            (F.col("x.a") == F.col("y.a")) & (F.col("x.u") < F.col("y.u")),
        )
        .groupBy(
            F.col("x.u").alias("node_a"), F.col("y.u").alias("node_b")
        )
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_common_in"))
    )
    da = ind.select(F.col("u").alias("node_a"), F.col("indeg").alias("indeg_a"))
    db = ind.select(F.col("u").alias("node_b"), F.col("indeg").alias("indeg_b"))
    return (
        common.join(da, "node_a")
        .join(db, "node_b")
        .select(
            "node_a",
            "node_b",
            "n_common_in",
            "indeg_a",
            "indeg_b",
            F.expr(
                "500 * n_common_in DIV (indeg_a * indeg_b)"
            ).alias("simrank_permille"),
        )
    )


def _simrank_oracle() -> str:
    from lua_mapreduce_spark.operators.analytics7 import _SCC_FANOUT

    return f"""
WITH trade AS (
  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS n_lines
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE cn.n_name <> sn.n_name
  GROUP BY 1, 2),
edges AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                                 ORDER BY n_lines DESC, dst) AS rn
    FROM trade)
  WHERE rn <= {_SCC_FANOUT}),
inn AS MATERIALIZED (SELECT dst AS u, src AS a FROM edges),
ind AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS indeg FROM inn GROUP BY u),
common AS (
  SELECT x.u AS node_a, y.u AS node_b,
         CAST(COUNT(*) AS BIGINT) AS n_common_in
  FROM inn x JOIN inn y ON x.a = y.a AND x.u < y.u
  GROUP BY 1, 2)
SELECT node_a, node_b, n_common_in,
       da.indeg AS indeg_a, db.indeg AS indeg_b,
       500 * n_common_in // (da.indeg * db.indeg) AS simrank_permille
FROM common
JOIN ind da ON da.u = node_a
JOIN ind db ON db.u = node_b
"""


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
    "graph_node_similarity_simrank_lite": graph_node_similarity_simrank_lite,
    "curation_quota_sampling_executor": curation_quota_sampling_executor,
    "text_duplicate_sentence_mass": text_duplicate_sentence_mass,
}

ORACLES = {
    "graph_node_similarity_simrank_lite": _simrank_oracle(),
    "curation_quota_sampling_executor": _qse_oracle(),
    "text_duplicate_sentence_mass": DUP_SENTENCE_ORACLE,
}
