"""Composite pipeline operators: TPC-H Q15 and the LLM-corpus curation
shapes that chain the text/dedup building blocks into end-to-end jobs
(SURVEY.md §2.4 north-star rows).

* q15_top_supplier        — aggregate-then-argmax against a derived view
  (the one remaining partsupp-free TPC-H shape not yet covered).
* text_corpus_curation    — the standard pre-training data curation pass:
  per-doc quality features + exact-dedup keep-first + threshold filters,
  all in one plan with a single fingerprint shuffle.
* dedup_cluster_components — connected components over the verified
  near-dup pair graph (MinHash-LSH output as edges) via the
  large-star/small-star algorithm: O(log diameter) rounds, so arbitrarily
  long near-dup chains converge. The loop is driver-ORCHESTRATED (scalar
  edge counts per round) but every step is a distributed join+agg; no row
  data ever reaches the driver. Oracle: DuckDB recursive CTE computing
  min-reachable-id per vertex — full value-level parity for an iterative
  graph algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, parallelize_scan
from lua_mapreduce_spark.functions.exact import REVENUE, dsum_expr, dsum_sql
from lua_mapreduce_spark.functions.texthash import oracle_words_expr, words_expr
from lua_mapreduce_spark.memo import memo
from lua_mapreduce_spark.operators.dedup import _minhash_oracle, dedup_minhash_lsh

# --------------------------------------------------------------------------
# TPC-H Q15: top supplier by quarterly revenue. The revenue relation is
# aggregated once and reused for both the max and the join (Spark reuses
# the exchange; the scalar max broadcasts). Ties on the max revenue return
# every tied supplier, per the spec.
# --------------------------------------------------------------------------


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum_expr(REVENUE, "total_revenue"))
    )
    max_rev = rev.agg(F.max("total_revenue").alias("max_rev"))
    return (
        supplier.join(rev, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("max_rev"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q15_ORACLE = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, {dsum_sql(REVENUE, "total_revenue")}
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


# --------------------------------------------------------------------------
# Corpus curation: quality features + exact-dedup keep-first + thresholds.
# One text scan computes fingerprint and all features in a single
# projection; keep-first is one window over the fingerprint shuffle; the
# quality thresholds are plain column predicates. This is the composition
# a real pre-training pipeline runs before tokenization.
# --------------------------------------------------------------------------

_MIN_ALPHA_RATIO = 0.6
_MIN_TOKENS = 20


def text_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    normalized = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    feats = docs.select(
        "doc_id",
        "lang",
        F.md5(normalized).alias("fingerprint"),
        F.size(F.expr("regexp_extract_all(text, '([A-Za-z])', 1)")).alias("n_alpha"),
        F.length("text").alias("n_chars"),
        F.size(F.expr(words_expr("text"))).alias("n_toks"),
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    alpha_ratio = F.col("n_alpha").cast("double") / F.col("n_chars").cast("double")
    return (
        feats.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)  # exact-dedup representative
        .filter((alpha_ratio >= _MIN_ALPHA_RATIO) & (F.col("n_toks") >= _MIN_TOKENS))
        .select("doc_id", "lang", "n_toks", alpha_ratio.alias("alpha_ratio"))
    )


CURATION_ORACLE = rf"""
WITH feats AS (
  SELECT doc_id, lang,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
         CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS INT) AS n_alpha,
         LENGTH(text) AS n_chars,
         CAST(len({oracle_words_expr("text")}) AS INT) AS n_toks
  FROM documents),
kept AS (
  SELECT * FROM feats
  QUALIFY ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1)
SELECT doc_id, lang, n_toks,
       CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE) AS alpha_ratio
FROM kept
WHERE CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE) >= {_MIN_ALPHA_RATIO}
  AND n_toks >= {_MIN_TOKENS}
"""


# --------------------------------------------------------------------------
# Near-dup clustering: connected components over MinHash-LSH pairs, via the
# large-star / small-star algorithm (Kiveris, Lattanzi, Mirrokni, Rastogi,
# Vassilvitskii — "Connected Components in MapReduce and Beyond", SoCC'14).
# Chosen over plain min-label propagation because its round count is
# O(log d) in the component diameter d (path-doubling), not O(d): real
# near-dup corpora contain chains of transitive near-dups far longer than
# any fixed propagation cap, and a diameter-2^30 component — beyond any
# physical corpus — still converges inside _MAX_STAR_ROUNDS.
#
# 100 TB shape: every step is a groupBy-min (partial-aggregatable, so
# map-side combine collapses a hot vertex's edges before the shuffle) plus
# an equi-join on the vertex key. A celebrity root with 10^9 members is
# exactly the case large-star handles: strictly-larger neighbors re-attach
# directly to the component min, halving star depth per round, and the
# min-agg never materializes the full neighborhood on one task. Per-round
# localCheckpoint truncates the lineage so the iterative plan can't blow up
# the analyzer; the only driver-side values are scalar edge counts.
# --------------------------------------------------------------------------

_MAX_STAR_ROUNDS = 30


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round. Input/output edges are canonical (u > v).

    For each vertex u with m = min(N(u) ∪ {u}): connect every strictly
    larger neighbor v > u directly to m. Output pairs keep u > v because
    the emitted edge (v, m) has v > u >= m.
    """
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("nmin"))
        .select("u", F.least("u", "nmin").alias("m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round. Input/output edges are canonical (u > v).

    For each vertex u over its smaller neighbors (all of N(u) here, since
    edges arrive canonical): m = min(N(u)); re-attach every smaller
    neighbor and u itself to m.
    """
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    joined = edges.join(mins, "u")
    smaller = joined.where(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    center = joined.select("u", F.col("m").alias("v"))
    return smaller.union(center).distinct()


def connected_components(pairs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id = min id in the component) for every vertex of
    the undirected graph given as (doc_a, doc_b) pairs.

    Alternates large-star and small-star until the edge set is a fixpoint,
    at which point the edges form disjoint stars (child > root = component
    min); labels are read straight off the stars. Convergence is detected
    by a set CHECKSUM — count plus two independently-seeded 36-bit
    hash-sums, all computed in ONE aggregate job per round (the r10
    exceptAll form re-scanned both edge sets on top of the count; the
    checksum halves the per-round actions). The edge sets are DISTINCT
    relations, so equal signatures mean set equality up to a ~2^-72
    two-checksum collision; a false fixpoint would need both seeded sums
    to collide simultaneously. Only scalars reach the driver.
    """
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        # Kept: it runs only inside the memoized dedup_cluster_components build.
        .localCheckpoint(eager=True)
    )
    def _signature(e: DataFrame) -> tuple[int, int, int]:
        # One job: (count, hash-sum seeded 0, hash-sum seeded 1). 36-bit
        # summands keep the BIGINT sum overflow-free (ANSI mode) up to
        # ~2^27 edges per set — far above any candidate-pair relation here.
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1 << 36))), F.lit(0)
            ).alias("h1"),
            F.coalesce(
                F.sum(F.pmod(F.xxhash64(F.lit(1), "u", "v"), F.lit(1 << 36))),
                F.lit(0),
            ).alias("h2"),
        ).first()
        return (int(row["n"]), int(row["h1"]), int(row["h2"]))

    sig = _signature(edges)
    for _ in range(_MAX_STAR_ROUNDS):
        if sig[0] == 0:
            break  # no edges at all: every vertex was a self-pair
        new_edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        new_sig = _signature(new_edges)
        converged = new_sig == sig
        edges, sig = new_edges, new_sig
        if converged:
            break
    else:
        # Cannot happen for any physical graph (would need diameter ~2^30);
        # loud failure beats silently-wrong cluster ids.
        raise RuntimeError(
            f"connected_components did not converge in {_MAX_STAR_ROUNDS} "
            "large-star/small-star rounds"
        )
    # At the fixpoint each u appears exactly once and roots never appear as
    # children, so the union below is disjoint — no distinct needed.
    roots = (
        edges.select(F.col("v").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
    )
    children = edges.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    return children.union(roots)


@memo
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) for every document in a verified near-dup pair;
    cluster_id = the minimum doc_id in the connected component.

    Memoized (r16 optimization round): the triage rollup
    (curation_dedup_cluster_stats) consumes the SAME labels, and each
    call otherwise re-runs the full large-star/small-star iteration
    (one checkpoint + signature job per round) on top of the memoized
    LSH candidate pairs."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(pairs).localCheckpoint(eager=True)


CLUSTER_ORACLE = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_minhash_oracle()}) mh_pairs),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
FROM reach GROUP BY u
"""


QUERIES = {
    "q15_top_supplier": q15_top_supplier,
    "text_corpus_curation": text_corpus_curation,
    "dedup_cluster_components": dedup_cluster_components,
}

ORACLES = {
    "q15_top_supplier": Q15_ORACLE,
    "text_corpus_curation": CURATION_ORACLE,
    "dedup_cluster_components": CLUSTER_ORACLE,
}
