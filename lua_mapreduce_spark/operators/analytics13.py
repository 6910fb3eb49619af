"""Round-14 first wave (the committed r14 bank, SURVEY §7.4 items
25-28): pair-grain decontamination evidence, one Girvan-Newman edge-
betweenness step, TextRank keyphrases, and the near-dup cluster triage
report.

The reference (rohitjoshi/lua-mapreduce, 1,127 LoC of Lua TCP plumbing;
its one workload is word count, example/word-count-taskfile.lua:73-159)
has none of this surface — these queries extend the repo's curation,
graph and text-analysis families per the driver brief:

* ``curation_contamination_pairs_report`` — the decontamination
  family's pair-grain face: for every (corpus doc, benchmark doc) pair
  sharing n-gram shingles, the shared count, both sizes, and both
  containment directions — the evidence table a removal decision
  audits, with bounded per-doc top-k truncation.
* ``graph_edge_betweenness_communities`` — one Girvan-Newman step
  (Girvan & Newman 2002): edge betweenness from the SHARED sigma DP
  (analytics9._bc_base), the top edge removed, weak-component counts
  before/after carried on every row.
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
# One Girvan-Newman step: edge betweenness + component split
# --------------------------------------------------------------------------

_GN_DOUBLING = 5  # reach-doubling rounds: 2^5 = 32 >= 25 nodes (nation
#                   domain is schema-bounded, the SCC/MST convention)


def _weak_component_counts_tagged(
    nodes: DataFrame, sym_by_tag: list[tuple[int, DataFrame]]
) -> DataFrame:
    """(g, n) component counts for SEVERAL symmetrized edge relations in
    ONE doubling loop: every relation is tagged with its graph id g and
    the reach join keys on (g, node), so the before/after closures the
    Girvan-Newman step needs share each round's shuffle and
    localCheckpoint instead of paying the per-level scheduling overhead
    twice (measured ~half the fixed cost at sf0.1). Component rep = MIN
    reachable node; _GN_DOUBLING rounds cover 2^5 = 32 >= 25 hops."""
    selfs = [
        nodes.select(
            F.lit(g).alias("g"),
            F.col("node").alias("u"),
            F.col("node").alias("v"),
        )
        for g, _ in sym_by_tag
    ]
    tagged = [
        df.select(F.lit(g).alias("g"), "u", "v") for g, df in sym_by_tag
    ]
    reach = selfs[0]
    for extra in selfs[1:] + tagged:
        reach = reach.unionByName(extra)
    reach = reach.distinct()
    for _ in range(_GN_DOUBLING):
        step = (
            reach.alias("a")
            .join(
                reach.alias("b"),
                (F.col("a.v") == F.col("b.u"))
                & (F.col("a.g") == F.col("b.g")),
            )
            .select("a.g", F.col("a.u").alias("u"), F.col("b.v").alias("v"))
        )
        reach = reach.unionByName(step).distinct().localCheckpoint(eager=True)
    comp = reach.groupBy("g", "u").agg(F.min("v").alias("c"))
    return (
        comp.groupBy("g")
        .agg(F.expr("CAST(COUNT(DISTINCT c) AS BIGINT)").alias("n"))
    )


def graph_edge_betweenness_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One Girvan-Newman community-detection step (Girvan & Newman
    2002) on the directed nation trade graph: edge betweenness EB(u,v)
    = sum over (s, t) pairs of sigma_su * sigma_vt / sigma_st for every
    shortest s->t path crossing the edge (d(s,u) + 1 + d(v,t) =
    d(s,t)), in the node query's integer-permille per-term truncation;
    the top edge by (EB DESC, src, dst) is removed and the weak-
    component counts before/after ride on every row — the measured
    community-splitting step, and the edge-grain complement of
    graph_betweenness_centrality's node brokerage.

    Reuses the node query's memoized (edges, dists, sigma) DP verbatim
    (analytics9._bc_base — one 12-level sigma build serves both
    queries per process), extended with d=0 self rows so s=u / t=v
    endpoint terms count (every edge is its own length-1 shortest
    path, so every edge scores >= 1000).

    Scale shape: every relation after the shared edge build is schema-
    bounded (<= 625 sigma rows, <= 25^3 join intermediates); the
    before/after component counts share ONE tagged doubling loop
    (_GN_DOUBLING rounds — half the per-level scheduling overhead of
    two separate closures); the 1-row counts broadcast-cross-join onto
    the <= 50 output rows."""
    from lua_mapreduce_spark.operators.analytics9 import _bc_base

    edges, _dists, sigma = _bc_base(spark, sf_dir)
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    sigma0 = sigma.unionByName(
        nodes.select(
            F.col("node").alias("src"),
            F.col("node").alias("dst"),
            F.lit(1).cast("bigint").alias("sigma"),
            F.lit(0).cast("bigint").alias("d"),
        )
    )
    su = sigma0.select(
        F.col("src").alias("s"),
        F.col("dst").alias("u"),
        F.col("sigma").alias("s_su"),
        F.col("d").alias("d_su"),
    )
    vt = sigma0.select(
        F.col("src").alias("v"),
        F.col("dst").alias("t"),
        F.col("sigma").alias("s_vt"),
        F.col("d").alias("d_vt"),
    )
    st = sigma.select(
        F.col("src").alias("s"),
        F.col("dst").alias("t"),
        F.col("sigma").alias("s_st"),
        F.col("d").alias("d_st"),
    )
    eb = (
        e.join(su, "u")
        .join(vt, "v")
        .join(st, ["s", "t"])
        .filter("d_su + 1 + d_vt = d_st")
        .groupBy("u", "v")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_pairs_through"),
            F.expr(
                "CAST(SUM(1000 * s_su * s_vt DIV s_st) AS BIGINT)"
            ).alias("edge_betweenness_milli"),
        )
        # Kept: with this query's other four checkpoints deleted, 1.73 ->
        # 2.47 s at sf0.01 without it (tools/checkpoint_sweep.py).
        .localCheckpoint(eager=True)
    )
    top = (
        eb.orderBy(
            F.desc("edge_betweenness_milli"), F.asc("u"), F.asc("v")
        )
        .limit(1)
        .select("u", "v")
    )
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    # remove BOTH orientations of the top edge (GN operates on the
    # underlying undirected graph)
    top_sym = top.unionByName(
        top.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    sym_after = sym.join(top_sym, ["u", "v"], "left_anti")
    counts = _weak_component_counts_tagged(
        nodes, [(0, sym), (1, sym_after)]
    )
    nb = counts.filter("g = 0").select(F.col("n").alias("n_comp_before"))
    na = counts.filter("g = 1").select(F.col("n").alias("n_comp_after"))
    return (
        e.join(eb, ["u", "v"], "left")
        .join(
            top.select("u", "v", F.lit(True).alias("rm")), ["u", "v"], "left"
        )
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(na))
        .select(
            F.col("u").alias("src"),
            F.col("v").alias("dst"),
            F.expr("CAST(COALESCE(n_pairs_through, 0) AS BIGINT)").alias(
                "n_pairs_through"
            ),
            F.expr(
                "CAST(COALESCE(edge_betweenness_milli, 0) AS BIGINT)"
            ).alias("edge_betweenness_milli"),
            F.expr("COALESCE(rm, FALSE)").alias("is_removed"),
            "n_comp_before",
            "n_comp_after",
        )
    )


def _gn_oracle() -> str:
    from lua_mapreduce_spark.operators.analytics9 import _bc_oracle_prefix

    return f"""
WITH RECURSIVE {_bc_oracle_prefix()},
e AS MATERIALIZED (SELECT src AS u, dst AS v FROM edges),
nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT u AS node FROM e UNION ALL SELECT v FROM e)),
sigma0 AS MATERIALIZED (
  SELECT src, dst, sigma, d FROM sigma
  UNION ALL
  SELECT node, node, CAST(1 AS BIGINT), CAST(0 AS BIGINT) FROM nodes),
eb AS MATERIALIZED (
  SELECT e.u, e.v,
         CAST(COUNT(*) AS BIGINT) AS n_pairs_through,
         CAST(SUM(1000 * su.sigma * vt.sigma // st.sigma) AS BIGINT)
           AS edge_betweenness_milli
  FROM e
  JOIN sigma0 su ON su.dst = e.u
  JOIN sigma0 vt ON vt.src = e.v
  JOIN sigma st ON st.src = su.src AND st.dst = vt.dst
  WHERE su.d + 1 + vt.d = st.d
  GROUP BY 1, 2),
top AS MATERIALIZED (
  SELECT u, v FROM eb
  ORDER BY edge_betweenness_milli DESC, u, v LIMIT 1),
sym_b AS MATERIALIZED (
  SELECT DISTINCT u, v FROM (
    SELECT u, v FROM e UNION ALL SELECT v, u FROM e
    UNION ALL SELECT node, node FROM nodes)),
sym_a AS MATERIALIZED (
  SELECT s.u, s.v FROM sym_b s
  WHERE NOT EXISTS (SELECT 1 FROM top t
                    WHERE (s.u = t.u AND s.v = t.v)
                       OR (s.u = t.v AND s.v = t.u))),
reach_b(u, v) AS (
  SELECT u, v FROM sym_b
  UNION
  SELECT r.u, s.v FROM reach_b r JOIN sym_b s ON r.v = s.u),
reach_a(u, v) AS (
  SELECT u, v FROM sym_a
  UNION
  SELECT r.u, s.v FROM reach_a r JOIN sym_a s ON r.v = s.u),
nb AS (SELECT CAST(COUNT(DISTINCT c) AS BIGINT) AS n_comp_before
       FROM (SELECT u, MIN(v) AS c FROM reach_b GROUP BY u)),
na AS (SELECT CAST(COUNT(DISTINCT c) AS BIGINT) AS n_comp_after
       FROM (SELECT u, MIN(v) AS c FROM reach_a GROUP BY u))
SELECT e.u AS src, e.v AS dst,
       CAST(COALESCE(eb.n_pairs_through, 0) AS BIGINT) AS n_pairs_through,
       CAST(COALESCE(eb.edge_betweenness_milli, 0) AS BIGINT)
         AS edge_betweenness_milli,
       COALESCE(t.u IS NOT NULL, FALSE) AS is_removed,
       nb.n_comp_before, na.n_comp_after
FROM e
LEFT JOIN eb ON eb.u = e.u AND eb.v = e.v
LEFT JOIN top t ON t.u = e.u AND t.v = e.v
CROSS JOIN nb CROSS JOIN na
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
    "graph_edge_betweenness_communities": graph_edge_betweenness_communities,
    "text_keyphrase_textrank": text_keyphrase_textrank,
    "curation_dedup_cluster_stats": curation_dedup_cluster_stats,
}

ORACLES = {
    "curation_contamination_pairs_report": _cpr_oracle(),
    "graph_edge_betweenness_communities": _gn_oracle(),
    "text_keyphrase_textrank": _textrank_oracle(),
    "curation_dedup_cluster_stats": _cluster_stats_oracle(),
}
