"""Round-14 first wave (the committed r14 bank, SURVEY §7.4 items
25-28): pair-grain decontamination evidence, TextRank keyphrases, and
the near-dup cluster triage report.

The reference (rohitjoshi/lua-mapreduce, 1,127 LoC of Lua TCP plumbing;
its one workload is word count, example/word-count-taskfile.lua:73-159)
has none of this surface — these queries extend the repo's curation
and text-analysis families per the driver brief:

* ``curation_contamination_pairs_report`` — the decontamination
  family's pair-grain face: for every (corpus doc, benchmark doc) pair
  sharing n-gram shingles, the shared count, both sizes, and both
  containment directions — the evidence table a removal decision
  audits, with bounded per-doc top-k truncation.
* ``text_keyphrase_textrank`` — TextRank (Mihalcea & Tarau 2004): the
  window-2 word co-occurrence graph walked with the repo's fixed-point
  integer PageRank machinery (analytics.py conventions), top words per
  corpus — the graph-ranking complement of RAKE's degree/frequency
  scores.
* ``curation_dedup_cluster_stats`` — the cluster-level triage report
  over the connected components the pipeline already computes:
  cluster-size doubling histogram, removable-row mass, per-bucket
  largest-cluster ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, parallelize_scan
from lua_mapreduce_spark.functions.texthash import oracle_words_expr, words_expr

# --------------------------------------------------------------------------
# Contamination evidence pairs (decontamination at pair grain)
# --------------------------------------------------------------------------

_CPR_TOPK = 5  # benchmark partners kept per corpus doc (top-k truncation)
_CPR_MIN_SHARED = 1  # overlap floor (>= 1 shared shingle = evidence row)


def curation_contamination_pairs_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Decontamination EVIDENCE at (corpus doc, benchmark doc) pair
    grain — text_decontaminate answers "is this doc contaminated";
    this answers "by WHICH benchmark doc, and how much of each side":
    per pair above the overlap floor, the shared distinct-shingle
    count, both docs' distinct-shingle sizes, and both containment
    directions in integer permille (cont_doc = how much of the corpus
    doc is benchmark material — the removal signal; cont_bench = how
    much of the benchmark leaked — the eval-integrity signal). Per
    corpus doc only the top _CPR_TOPK partners by (n_shared DESC,
    bench_doc ASC) are kept — the bounded-truncation contract that
    keeps the report linear in contaminated docs, not pairs.

    Shares text_decontaminate's _DECON_N/_DECON_BENCH_MOD constants so
    the pair report can never drift from the doc-grain flag.

    Scale shape: one tokenize scan -> DISTINCT (doc, shingle) rows;
    the benchmark side is tiny and bounded in production (eval suites
    — auto-broadcasts under AQE; here it derives from documents, so
    it stays an unhinted key join per the broadcast policy); per-doc
    sizes are map-side-combinable aggregates; the top-k rank compiles
    to WindowGroupLimit (per-doc groups pruned map-side before the
    final shuffle)."""
    from lua_mapreduce_spark.operators.curation import (
        _DECON_BENCH_MOD,
        _DECON_N,
        _shingles_expr,
    )

    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    sh = (
        docs.select("doc_id", F.expr(words_expr("text")).alias("l"))
        .filter(F.size("l") >= _DECON_N)
        .select(
            "doc_id", F.explode(F.expr(_shingles_expr(_DECON_N))).alias("sg")
        )
        .distinct()
        # Kept: 0.60 -> 0.76 s at sf0.01 without it (tools/checkpoint_sweep.py).
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("doc_id").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_sg")
    )
    bench = sh.filter(F.col("doc_id") % _DECON_BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_doc"), "sg"
    )
    corpus = sh.filter(F.col("doc_id") % _DECON_BENCH_MOD != 0)
    pairs = (
        corpus.join(bench, "sg")
        .groupBy("doc_id", "bench_doc")
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_shared"))
        .filter(F.col("n_shared") >= _CPR_MIN_SHARED)
    )
    wr = Window.partitionBy("doc_id").orderBy(
        F.desc("n_shared"), F.asc("bench_doc")
    )
    top = (
        pairs.withColumn("pair_rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("pair_rank") <= _CPR_TOPK)
    )
    sz_d = sizes.select("doc_id", F.col("n_sg").alias("n_sg_doc"))
    sz_b = sizes.select(
        F.col("doc_id").alias("bench_doc"), F.col("n_sg").alias("n_sg_bench")
    )
    return (
        top.join(sz_d, "doc_id")
        .join(sz_b, "bench_doc")
        .select(
            "doc_id",
            "bench_doc",
            "pair_rank",
            "n_shared",
            "n_sg_doc",
            "n_sg_bench",
            F.expr("n_shared * 1000 DIV n_sg_doc").alias("cont_doc_permille"),
            F.expr("n_shared * 1000 DIV n_sg_bench").alias(
                "cont_bench_permille"
            ),
        )
    )


def _cpr_oracle() -> str:
    from lua_mapreduce_spark.operators.curation import (
        _DECON_BENCH_MOD,
        _DECON_N,
        _oracle_shingles_expr,
    )

    return f"""
WITH toks AS (
  SELECT doc_id, {oracle_words_expr("text")} AS l FROM documents),
sh AS (
  SELECT DISTINCT doc_id, s.sg
  FROM toks, unnest({_oracle_shingles_expr(_DECON_N)}) AS s(sg)
  WHERE len(l) >= {_DECON_N}),
sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sg FROM sh GROUP BY 1),
pairs AS (
  SELECT c.doc_id, b.doc_id AS bench_doc,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM sh c JOIN sh b ON c.sg = b.sg
  WHERE c.doc_id % {_DECON_BENCH_MOD} <> 0
    AND b.doc_id % {_DECON_BENCH_MOD} = 0
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_CPR_MIN_SHARED}),
top AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY n_shared DESC, bench_doc)
                 AS BIGINT) AS pair_rank
  FROM pairs QUALIFY pair_rank <= {_CPR_TOPK})
SELECT t.doc_id, t.bench_doc, t.pair_rank, t.n_shared,
       sd.n_sg AS n_sg_doc, sb.n_sg AS n_sg_bench,
       t.n_shared * 1000 // sd.n_sg AS cont_doc_permille,
       t.n_shared * 1000 // sb.n_sg AS cont_bench_permille
FROM top t
JOIN sizes sd ON sd.doc_id = t.doc_id
JOIN sizes sb ON sb.doc_id = t.bench_doc
"""


# --------------------------------------------------------------------------
# TextRank keyphrases (window-2 co-occurrence graph, integer PageRank)
# --------------------------------------------------------------------------

_TR_SCALE = 1_000_000  # fixed-point denominator (graph_pagerank_nations
#                        convention; widen if a vocabulary approaches it)
_TR_ITERS = 3
_TR_TOPK = 20

# Engine-shared update rule — _PR_STEP with the word graph's node count:
#   r' = (15 * SCALE) div (100 * n) + (85 * (m div SCALE)) div 100
_TR_STEP = (
    f"(15 * {_TR_SCALE}) {{div}} (100 * n)"
    f" + (85 * (COALESCE(m, CAST(0 AS BIGINT)) {{div}} {_TR_SCALE})) {{div}} 100"
)


def text_keyphrase_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keywords (Mihalcea & Tarau 2004): the corpus word
    co-occurrence graph — adjacent pairs in the stopword-filtered token
    sequence (window 2, the paper's best-performing setting),
    symmetrized with occurrence counts as weights — walked with
    _TR_ITERS fixed-point integer PageRank iterations (d = 0.85, the
    graph_pagerank_nations arithmetic verbatim: transition = w * SCALE
    DIV out_weight, every step exact in both engines); the top
    _TR_TOPK words by (score DESC, word ASC) with their neighbor count
    and co-occurrence mass — the graph-ranking complement of RAKE's
    intra-document degree/frequency scores (shared _RAKE_STOP list, so
    the two keyword readings can never disagree about stopwords).

    int64 bounds: transitions <= SCALE = 1e6; per-node rank mass sums
    to ~SCALE across the graph, so each in-mass m = SUM(t * r) <=
    SCALE * SCALE = 1e12 — far inside int64.

    Scale shape: one tokenize scan -> adjacent-pair projection (array
    transform, no posexplode) -> pair counts (map-side combinable);
    each PR iteration is one hash join + one aggregate on the
    vocabulary-keyed edge relation (hash-partitioned, no single-
    partition anything); the 1-row node count broadcasts; top-k
    compiles to TakeOrderedAndProject (per-partition heaps)."""
    from lua_mapreduce_spark.operators.analytics9 import _RAKE_STOP

    stop_sql = ", ".join(f"'{s}'" for s in _RAKE_STOP)
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    pairs = (
        docs.select(
            F.expr(
                f"filter({words_expr('text')}, x -> x NOT IN ({stop_sql}))"
            ).alias("l")
        )
        .filter(F.size("l") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(l) - 2),"
                    " i -> struct(l[i] AS a, l[i+1] AS b))"
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    und = pairs.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        pairs.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    w_edges = (
        und.groupBy("u", "v")
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("w"))
        # Kept: 1.21 -> 2.03 s at sf0.01 without it (tools/checkpoint_sweep.py).
        .localCheckpoint(eager=True)
    )
    outw = w_edges.groupBy("u").agg(
        F.expr("CAST(SUM(w) AS BIGINT)").alias("ow"),
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_neighbors"),
    )
    trans = w_edges.join(outw.select("u", "ow"), "u").select(
        "u", "v", F.expr(f"(w * {_TR_SCALE}) DIV ow").alias("t")
    )
    nodes = outw.select(F.col("u").alias("node"))
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))  # 1-row node count
    r = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.expr(f"CAST({_TR_SCALE} DIV n AS BIGINT)").alias("r"), "n"
    )
    step = _TR_STEP.format(div="DIV")
    for _ in range(_TR_ITERS):
        inm = (
            trans.join(r.select(F.col("node").alias("u"), "r"), "u")
            .groupBy("v")
            .agg(F.expr("CAST(SUM(t * r) AS BIGINT)").alias("m"))
        )
        r = (
            r.select("node", "n")
            .join(inm, F.col("node") == F.col("v"), "left")
            .select("node", F.expr(f"CAST({step} AS BIGINT)").alias("r"), "n")
        )
    top = (
        r.orderBy(F.desc("r"), F.asc("node"))
        .limit(_TR_TOPK)
        .select(F.col("node").alias("word"), F.col("r").alias("pr_scaled"))
    )
    return top.join(
        outw.select(
            F.col("u").alias("word"),
            "n_neighbors",
            F.col("ow").alias("cooc_total"),
        ),
        "word",
    ).select("word", "pr_scaled", "n_neighbors", "cooc_total")


def _textrank_oracle() -> str:
    from lua_mapreduce_spark.operators.analytics9 import _RAKE_STOP

    stop_sql = ", ".join(f"'{s}'" for s in _RAKE_STOP)
    ctes = [
        f"""toks AS (
  SELECT list_filter({oracle_words_expr("text")},
                     x -> x NOT IN ({stop_sql})) AS l
  FROM documents),
pairs AS (
  SELECT p.s['a'] AS a, p.s['b'] AS b
  FROM toks, unnest(list_transform(range(1, len(l)),
       i -> struct_pack(a := l[i], b := l[i+1]))) AS p(s)
  WHERE len(l) >= 2 AND p.s['a'] <> p.s['b']),
w_edges AS MATERIALIZED (
  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS w FROM (
    SELECT a AS u, b AS v FROM pairs
    UNION ALL SELECT b, a FROM pairs)
  GROUP BY 1, 2),
outw AS MATERIALIZED (
  SELECT u, CAST(SUM(w) AS BIGINT) AS ow,
         CAST(COUNT(*) AS BIGINT) AS n_neighbors
  FROM w_edges GROUP BY u),
trans AS MATERIALIZED (
  SELECT e.u, e.v, (e.w * {_TR_SCALE}) // o.ow AS t
  FROM w_edges e JOIN outw o USING (u)),
nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM outw),
r0 AS MATERIALIZED (
  SELECT u AS node, CAST({_TR_SCALE} // n AS BIGINT) AS r
  FROM outw CROSS JOIN nn)"""
    ]
    for k in range(1, _TR_ITERS + 1):
        ctes.append(f"""
m{k} AS MATERIALIZED (
  SELECT t.v, CAST(SUM(t.t * r.r) AS BIGINT) AS m
  FROM trans t JOIN r{k - 1} r ON t.u = r.node GROUP BY t.v),
r{k} AS MATERIALIZED (
  SELECT o.u AS node, CAST({_TR_STEP.format(div="//")} AS BIGINT) AS r
  FROM outw o CROSS JOIN nn
  LEFT JOIN m{k} ON o.u = m{k}.v)""")
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
SELECT r.node AS word, r.r AS pr_scaled, o.n_neighbors,
       o.ow AS cooc_total
FROM r{_TR_ITERS} r JOIN outw o ON o.u = r.node
ORDER BY r.r DESC, r.node LIMIT {_TR_TOPK}
"""
    )


# --------------------------------------------------------------------------
# Near-dup cluster triage report (over the pipeline's components)
# --------------------------------------------------------------------------


def curation_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level triage over the near-dup connected components the
    pipeline already computes (dedup_cluster_components — shared
    machinery, so the triage can never disagree with the dedup pass it
    approves): per cluster-size doubling bucket (LENGTH(BIN(size)), the
    RFM idiom) the cluster count, total docs, removable docs under the
    keep-first policy (size - 1 per cluster), the removable mass in
    permille of the WHOLE corpus, and the bucket's largest cluster
    (size DESC, id ASC — the ids an operator spot-checks before
    approving the pass; the top bucket's row carries the global
    largest).

    Scale shape: components come from the alternating large-star/
    small-star rounds (the pipeline's scale path); cluster sizes are
    one map-side-combinable aggregate over (doc, cluster) rows; the
    bucket rollup and per-bucket argmax run over the cluster-grain
    relation (already orders of magnitude smaller than docs); the
    1-row corpus count broadcasts."""
    from lua_mapreduce_spark.operators.pipeline import dedup_cluster_components

    comp = dedup_cluster_components(spark, sf_dir)
    sizes = comp.groupBy("cluster_id").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("sz")
    )
    sb = sizes.withColumn(
        "size_bucket", F.expr("CAST(LENGTH(BIN(sz)) AS BIGINT)")
    )
    wtop = Window.partitionBy("size_bucket").orderBy(
        F.desc("sz"), F.asc("cluster_id")
    )
    tops = (
        sb.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") == 1)
        .select(
            "size_bucket",
            F.col("cluster_id").alias("top_cluster_id"),
            F.col("sz").alias("top_cluster_size"),
        )
    )
    agg = sb.groupBy("size_bucket").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_clusters"),
        F.expr("CAST(SUM(sz) AS BIGINT)").alias("n_docs"),
        F.expr("CAST(SUM(sz - 1) AS BIGINT)").alias("n_removable"),
    )
    docs = load_table(spark, sf_dir, "documents")
    tot = docs.agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_corpus")
    )
    return (
        agg.join(tops, "size_bucket")
        .crossJoin(F.broadcast(tot))
        .select(
            "size_bucket",
            "n_clusters",
            "n_docs",
            "n_removable",
            F.expr("n_removable * 1000 DIV n_corpus").alias(
                "removable_permille"
            ),
            "top_cluster_id",
            "top_cluster_size",
        )
    )


def _cluster_stats_oracle() -> str:
    from lua_mapreduce_spark.operators.pipeline import CLUSTER_ORACLE

    return f"""
WITH comp AS MATERIALIZED (SELECT * FROM ({CLUSTER_ORACLE}) c),
sizes AS MATERIALIZED (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
  FROM comp GROUP BY 1),
sb AS MATERIALIZED (
  SELECT *, CAST(LENGTH(BIN(sz)) AS BIGINT) AS size_bucket FROM sizes),
tops AS (
  SELECT size_bucket, cluster_id AS top_cluster_id,
         sz AS top_cluster_size
  FROM sb
  QUALIFY ROW_NUMBER() OVER (PARTITION BY size_bucket
                             ORDER BY sz DESC, cluster_id) = 1),
agg AS (
  SELECT size_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_clusters,
         CAST(SUM(sz) AS BIGINT) AS n_docs,
         CAST(SUM(sz - 1) AS BIGINT) AS n_removable
  FROM sb GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM documents)
SELECT a.size_bucket, n_clusters, n_docs, n_removable,
       n_removable * 1000 // n_corpus AS removable_permille,
       top_cluster_id, top_cluster_size
FROM agg a JOIN tops t USING (size_bucket) CROSS JOIN tot
"""


QUERIES = {
    "curation_contamination_pairs_report": curation_contamination_pairs_report,
    "text_keyphrase_textrank": text_keyphrase_textrank,
    "curation_dedup_cluster_stats": curation_dedup_cluster_stats,
}

ORACLES = {
    "curation_contamination_pairs_report": _cpr_oracle(),
    "text_keyphrase_textrank": _textrank_oracle(),
    "curation_dedup_cluster_stats": _cluster_stats_oracle(),
}
