"""Corpus-hygiene operators: substring-level dedup, semantic dedup, PII scrub.

Three passes an LLM pre-training pipeline runs that the dedup/curation
modules don't yet cover (north star; SURVEY.md §2.4 — the reference's one
workload is word count, example/word-count-taskfile.lua:73-159, so none of
these have a reference analogue; they extend the pipeline surface the same
way curation.py does):

* **Substring (window) dedup** — Lee et al. 2021 ("Deduplicating Training
  Data Makes Language Models Better") deduplicates at the *substring*
  level, not the document level: a document is flagged when a large
  fraction of its token windows also appear in other documents. Exact
  suffix arrays don't distribute; the standard scalable approximation is
  hashed fixed-width token windows (here word ``_SUB_N``-grams through the
  portable 60-bit md5, functions/texthash.py) → window-frequency join.
* **Semantic dedup** — SemDeDup (Abbas et al. 2023): cluster embeddings
  with k-means, then compare pairs only WITHIN a cluster and drop every
  vector that has a higher-similarity twin there. Reuses the deterministic
  bounded-sample k-means from similarity.py (one `applyInPandas` task,
  bit-identical to the SQL replay), so the whole operator carries a full
  DuckDB value oracle — including the clustering.
* **PII scrub** — regex detectors (email / IPv4 / long digit runs) plus a
  broadcast dictionary of sensitive terms, with per-document match counts
  and a fully masked output text. Map-side only: zero shuffles, and the
  regexes are restricted to the RE2-safe subset (no backrefs, no
  lookaround) so Spark's Java regex and DuckDB's RE2 agree byte-for-byte.

Scale notes: substring dedup is explode + two co-partitioned hash
shuffles on the 8-byte window hash (never the window text); SemDeDup's
within-cluster self-join is O(sum c_i^2) — the point of the algorithm is
that clustering BOUNDS the pair space, and production runs raise
``_N_CENTROIDS`` with corpus size to cap cluster width (fixed at the
similarity.py training constants here so the oracle replay stays exact);
the PII pass touches each row exactly once with built-in functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, parallelize_scan
from lua_mapreduce_spark.functions.texthash import (
    md5_bigint_expr,
    oracle_md5_bigint_expr,
    oracle_words_expr,
    words_expr,
)
from lua_mapreduce_spark.memo import memo
from lua_mapreduce_spark.operators.similarity import (
    _DOT,
    _ORACLE_COS,
    _km_centroids,
    _km_oracle_ctes,
)

# --------------------------------------------------------------------------
# Substring-window dedup
# --------------------------------------------------------------------------

_SUB_N = 8  # window width (word tokens)
_SUB_DUP_PERMILLE = 500  # flag docs with >= 50% duplicated windows


def _sub_gram_concat_spark(base: str, i0: str) -> str:
    """Spark SQL: the _SUB_N-token window of array ``base`` at 0-based ``i0``."""
    parts = ", ' ', ".join(f"{base}[{i0} + {j}]" for j in range(_SUB_N))
    return f"concat({parts})"


def _sub_gram_concat_oracle(base: str, i1: str) -> str:
    """DuckDB twin (1-based list indexing)."""
    return " || ' ' || ".join(f"{base}[{i1} + {j}]" for j in range(_SUB_N))


def _substring_window_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, gh): the DISTINCT hashed _SUB_N-token windows per document.

    Built in one projection (tokenize once, window + hash inside array
    lambdas), exploded to long form IN THE SAME select. Only the 8-byte
    hash ever reaches a shuffle — the window TEXT stays inside the scan
    projection, which is what keeps the shuffle volume independent of
    window width at 100 TB.

    Plan-shape trap (cost a 15x slowdown before the plan test below
    caught it): explode() must consume the window expression DIRECTLY.
    With an intermediate `select(ghs)` + later `select(explode(ghs))`,
    CollapseProject inlines `ghs` into the Generate and then collapses
    the token-array projection into every `l[...]` subscript — the
    regexp tokenizer re-runs per window element (~20 copies in the
    optimized plan; tests/test_hygiene.py::test_substring_plan_tokenizes_once
    pins the 2-copy shape: one in the pushed size() filter, one here).
    """
    gram = _sub_gram_concat_spark("l", "i")
    # CASE-guarded: sequence(0, n) DESCENDS when n < 0, so without the
    # guard a short doc indexes past the array end (ANSI error) even
    # behind the size() filter once Catalyst collapses the projections.
    ghs = (
        f"CASE WHEN size(l) >= {_SUB_N} THEN"
        f" array_distinct(transform(sequence(0, size(l) - {_SUB_N}),"
        f" i -> {md5_bigint_expr(gram)}))"
        f" ELSE array() END"
    )
    return (
        docs.select("doc_id", F.expr(words_expr("text")).alias("l"))
        .filter(F.size("l") >= _SUB_N)
        .select("doc_id", F.explode(F.expr(ghs)).alias("gh"))
    )


def substring_dup_stats(docs: DataFrame) -> DataFrame:
    """Per-document duplicated-window fraction + dup flag over any
    (doc_id, text) frame.

    Pipeline: distinct window hashes per doc → window document frequency
    (one hash shuffle, map-side combinable count) → join back on the same
    hash key (co-partitioned with the agg — no extra exchange of the big
    side) → per-doc counts. ``dup_permille`` is pure integer arithmetic so
    the value oracle is exact; docs shorter than _SUB_N tokens carry no
    window signal and are excluded by contract.
    """
    grams = _substring_window_hashes(docs)
    hot = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
    )
    return (
        grams.join(hot, "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count("nd").alias("n_dup_windows"),
        )
        .selectExpr(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            "(n_dup_windows * 1000) DIV n_windows AS dup_permille",
            f"(n_dup_windows * 1000) DIV n_windows >= {_SUB_DUP_PERMILLE} AS is_dup",
        )
    )


def dedup_substring_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    return substring_dup_stats(docs)


SUBSTRING_DEDUP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {oracle_words_expr("text")} AS l FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         {oracle_md5_bigint_expr(_sub_gram_concat_oracle("l", "i"))} AS gh
  FROM toks, unnest(range(1, len(l) - {_SUB_N - 2})) AS t(i)
  WHERE len(l) >= {_SUB_N}),
hot AS (SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) >= 2),
perdoc AS (
  SELECT g.doc_id, COUNT(*) AS n_windows, COUNT(h.gh) AS n_dup_windows
  FROM grams g LEFT JOIN hot h ON g.gh = h.gh
  GROUP BY g.doc_id)
SELECT doc_id, n_windows, n_dup_windows,
       (n_dup_windows * 1000) // n_windows AS dup_permille,
       (n_dup_windows * 1000) // n_windows >= {_SUB_DUP_PERMILLE} AS is_dup
FROM perdoc
"""


# --------------------------------------------------------------------------
# Semantic dedup (SemDeDup)
# --------------------------------------------------------------------------

_SEM_COS_THRESHOLD = 0.40  # same scale as dedup.py's embedding near-dup

# Assignment cosine (embedding vs 1e6-scaled centroid — scale cancels),
# the exact expression text sim_ivf_topk uses, so bit-parity with the
# k-means oracle replay is already proven by that query's green history.
_CENT_COS_SPARK = (
    "aggregate(zip_with(embedding, cemb,"
    " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    " / (sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE),"
    " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    " * sqrt(aggregate(cemb, CAST(0.0 AS DOUBLE),"
    " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"
)
_CENT_COS_ORACLE = (
    "list_sum(list_transform(list_zip(e.embedding, c.cemb),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform(e.embedding,"
    " v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"
    " * sqrt(list_sum(list_transform(c.cemb,"
    " v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))"
)


# The assignment relation is referenced three times by SemDeDup alone
# (both pair sides + the final verdict join) and again by the
# cluster-balanced sampler; persisting it turns 3-4 centroid-assignment
# passes over the corpus into one.
@memo
def _semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, cent_id, nrm): nearest-centroid assignment, the
    shared front half of SemDeDup (identical to sim_ivf_topk's cells).

    ``nrm`` is the vector's L2 norm, computed ONCE per vector here so the
    O(sum c_i^2) pair stage below pays one 64-dim fold per pair (the dot)
    instead of three — the norm is the same IEEE double either way
    (identical expression on identical input), so the oracle, which
    recomputes norms inline, still matches bit-for-bit."""
    from pyspark.sql import Window

    emb = parallelize_scan(spark, load_table(spark, sf_dir, "embeddings"))
    cent = _km_centroids(spark, sf_dir)
    rank_w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cent_id"))
    return (
        emb.crossJoin(F.broadcast(cent))
        .select("vec_id", "embedding", "cent_id", F.expr(_CENT_COS_SPARK).alias("ccos"))
        .withColumn("crank", F.row_number().over(rank_w))
        .filter(F.col("crank") == 1)
        .select(
            "vec_id",
            "embedding",
            "cent_id",
            F.expr(
                "sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE),"
                " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
            ).alias("nrm"),
        )
        .persist()
    )


def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: keep/remove verdict per vector.

    A vector is removed when some LOWER-id vector in the SAME cluster has
    cosine >= _SEM_COS_THRESHOLD with it (the deterministic greedy rule —
    lowest id of a near-dup group survives). Pairs are generated per
    cent_id bucket, never all-pairs: the cluster assignment is the
    candidate filter, exactly the SemDeDup cost model. Output is the full
    corpus verdict (vec_id, cent_id, kept).
    """
    cells = _semdedup_cells(spark, sf_dir)
    a, b = cells.alias("a"), cells.alias("b")
    removed = (
        a.join(
            b,
            (F.col("a.cent_id") == F.col("b.cent_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(
            F.expr(_DOT) / (F.col("a.nrm") * F.col("b.nrm")) >= _SEM_COS_THRESHOLD
        )
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("rm", F.lit(True))
    )
    return (
        cells.join(removed, "vec_id", "left")
        .select("vec_id", "cent_id", F.col("rm").isNull().alias("kept"))
    )


SEMDEDUP_ORACLE = f"""
WITH {_km_oracle_ctes()},
assign AS (
  SELECT e.vec_id, e.embedding, c.cent_id,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {_CENT_COS_ORACLE} DESC,
                                     c.cent_id ASC) AS crank
  FROM embeddings e CROSS JOIN cent c),
cells AS (SELECT vec_id, embedding, cent_id FROM assign WHERE crank = 1),
removed AS (
  SELECT DISTINCT b.vec_id
  FROM cells a JOIN cells b
    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
  WHERE {_ORACLE_COS} >= {_SEM_COS_THRESHOLD})
SELECT c.vec_id, c.cent_id, r.vec_id IS NULL AS kept
FROM cells c LEFT JOIN removed r ON c.vec_id = r.vec_id
"""


# --------------------------------------------------------------------------
# Cluster-balanced (diversity) sampling
# --------------------------------------------------------------------------

# Per-cell sample cap: at most this many vectors survive per k-means cell.
_CB_KEEP_PER_CELL = 32


def curation_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced sampling: cap every k-means cell at
    ``_CB_KEEP_PER_CELL`` vectors, chosen by a deterministic per-vector
    md5 rank — the curation step that runs right after SemDeDup to
    flatten cluster mass, so dense embedding regions don't dominate the
    sampled training mix (the document-level analogue of domain
    balancing). The md5 rank is a seeded pseudo-random draw both engines
    compute identically, so the "random" sample is fully oracle-checked.

    Scale shape: centroid assignment is the shared bounded broadcast
    cross join (one scan of ``embeddings``); ranking is ONE shuffle
    partitioned by ``cent_id`` with a ``row_number`` window. Cell width
    is what production bounds by raising ``_N_CENTROIDS`` with corpus
    size (fixed here at the training constants so the k-means oracle
    replay stays exact) — the per-cell sort is then always a bounded
    partition, never a global sort. Output is the full corpus verdict
    (vec_id, cent_id, cell_rank, sampled), same contract as SemDeDup.

    No reference analogue (north star; its one workload is word count,
    example/word-count-taskfile.lua:73-159).
    """
    from pyspark.sql import Window

    cells = _semdedup_cells(spark, sf_dir).select("vec_id", "cent_id")
    draw = md5_bigint_expr("CAST(vec_id AS STRING)")
    cell_w = Window.partitionBy("cent_id").orderBy(
        F.expr(draw).asc(), F.col("vec_id").asc()
    )
    return cells.select(
        "vec_id",
        "cent_id",
        F.row_number().over(cell_w).alias("cell_rank"),
    ).withColumn("sampled", F.col("cell_rank") <= _CB_KEEP_PER_CELL)


CLUSTER_BALANCED_SAMPLE_ORACLE = f"""
WITH {_km_oracle_ctes()},
assign AS (
  SELECT e.vec_id, c.cent_id,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {_CENT_COS_ORACLE} DESC,
                                     c.cent_id ASC) AS crank
  FROM embeddings e CROSS JOIN cent c),
cells AS (SELECT vec_id, cent_id FROM assign WHERE crank = 1),
ranked AS (
  SELECT vec_id, cent_id,
         ROW_NUMBER() OVER (
           PARTITION BY cent_id
           ORDER BY {oracle_md5_bigint_expr("CAST(vec_id AS VARCHAR)")} ASC,
                    vec_id ASC) AS cell_rank
  FROM cells)
SELECT vec_id, cent_id, CAST(cell_rank AS INT) AS cell_rank,
       cell_rank <= {_CB_KEEP_PER_CELL} AS sampled
FROM ranked
"""


# --------------------------------------------------------------------------
# Unigram rarity scoring
# --------------------------------------------------------------------------

# A token is "rare" when its corpus frequency is below 1 permille.
_RARE_PERMILLE = 1


def text_unigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical rarity from corpus unigram statistics — the
    transcendental-free cousin of unigram-LM surprisal (score contribution
    ``N DIV cnt(word)`` is order-isomorphic to ``-log p(word)``), a
    standard quality/outlier signal for corpus filtering.

    Scale shape: tokens are PRE-AGGREGATED to (doc_id, word, tf) before
    any join — the map-side-combinable reduction means the word-keyed
    join shuffles one row per (doc, distinct word), not one per token
    occurrence (the hot-stopword skew killer). The vocabulary table is
    derived FROM that same tf relation (no second text scan), and the
    corpus total N is a 1-row broadcast like TF-IDF's n_docs. All
    arithmetic is integer -> exact value oracle.
    """
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    return unigram_rarity_stats(docs)


def unigram_rarity_stats(docs: DataFrame) -> DataFrame:
    tf = (
        docs.select("doc_id", F.explode(F.expr(words_expr("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        # Kept: 0.58 -> 0.78 s at sf0.1 without it (tools/checkpoint_sweep.py).
        .localCheckpoint(eager=True)
    )
    vocab = tf.groupBy("word").agg(F.sum("tf").alias("cnt"))
    n = vocab.agg(F.sum("cnt").alias("n_total"))
    return (
        tf.join(vocab, "word")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.expr("sum(tf)").alias("n_tokens"),
            F.expr("sum(tf * (n_total DIV cnt))").alias("rarity_sum"),
            F.expr("max(n_total DIV cnt)").alias("rarity_max"),
            F.expr(
                f"sum(CASE WHEN cnt * 1000 <= n_total * {_RARE_PERMILLE}"
                f" THEN tf ELSE 0 END)"
            ).alias("n_rare"),
        )
    )


UNIGRAM_RARITY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, t.word AS word
  FROM (SELECT doc_id, {oracle_words_expr("text")} AS l FROM documents),
       unnest(l) AS t(word)),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY doc_id, word),
vocab AS (SELECT word, SUM(tf) AS cnt FROM tf GROUP BY word),
n AS (SELECT SUM(cnt) AS n_total FROM vocab)
SELECT t.doc_id,
       CAST(SUM(t.tf) AS BIGINT) AS n_tokens,
       CAST(SUM(t.tf * (n.n_total // v.cnt)) AS BIGINT) AS rarity_sum,
       CAST(MAX(n.n_total // v.cnt) AS BIGINT) AS rarity_max,
       CAST(SUM(CASE WHEN v.cnt * 1000 <= n.n_total * {_RARE_PERMILLE}
                     THEN t.tf ELSE 0 END) AS BIGINT) AS n_rare
FROM tf t JOIN vocab v USING (word) CROSS JOIN n
GROUP BY t.doc_id
"""


# --------------------------------------------------------------------------
# PII scrub
# --------------------------------------------------------------------------

# RE2-safe patterns (no backrefs / lookaround) — identical semantics under
# Java regex (Spark) and RE2 (DuckDB). Counts are measured on the ORIGINAL
# text per pattern; masking applies them in this order.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b[0-9]{1,3}(?:\.[0-9]{1,3}){3}\b"
_PII_LONGNUM = r"\b[0-9]{7,}\b"
# Broadcast dictionary of sensitive terms (stands in for a name/NER list;
# a real deployment swaps the alternation for its own list — the plan
# shape is identical because the compiled regex ships inside the task
# binary, not as data).
_PII_TERMS = ("customer", "supplier", "part")
_PII_TERM_RE = r"\b(?:" + "|".join(_PII_TERMS) + r")\b"

_PII_MASKS = (
    (_PII_EMAIL, "[EMAIL]"),
    (_PII_IPV4, "[IP]"),
    (_PII_LONGNUM, "[NUM]"),
    (_PII_TERM_RE, "[ENT]"),
)


def scrub_pii(docs: DataFrame) -> DataFrame:
    """Per-document PII match counts + fully masked text. Map-side only."""
    masked = F.col("text")
    for pat, repl in _PII_MASKS:
        masked = F.regexp_replace(masked, pat, repl)
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_EMAIL), F.lit(0))).alias("n_email"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_IPV4), F.lit(0))).alias("n_ipv4"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_LONGNUM), F.lit(0))).alias("n_longnum"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_TERM_RE), F.lit(0))).alias("n_terms"),
        masked.alias("masked_text"),
    )


def curation_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    return scrub_pii(docs)


def _pii_oracle() -> str:
    masked = "text"
    for pat, repl in _PII_MASKS:
        masked = f"regexp_replace({masked}, '{pat}', '{repl}', 'g')"
    return f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(text, '{_PII_IPV4}')) AS INT) AS n_ipv4,
       CAST(len(regexp_extract_all(text, '{_PII_LONGNUM}')) AS INT) AS n_longnum,
       CAST(len(regexp_extract_all(text, '{_PII_TERM_RE}')) AS INT) AS n_terms,
       {masked} AS masked_text
FROM documents
"""


QUERIES = {
    "dedup_substring_windows": dedup_substring_windows,
    "dedup_semantic_semdedup": dedup_semantic_semdedup,
    "curation_pii_scrub": curation_pii_scrub,
    "text_unigram_rarity": text_unigram_rarity,
    "curation_cluster_balanced_sample": curation_cluster_balanced_sample,
}

ORACLES = {
    "dedup_substring_windows": SUBSTRING_DEDUP_ORACLE,
    "dedup_semantic_semdedup": SEMDEDUP_ORACLE,
    "curation_pii_scrub": _pii_oracle(),
    "text_unigram_rarity": UNIGRAM_RARITY_ORACLE,
    "curation_cluster_balanced_sample": CLUSTER_BALANCED_SAMPLE_ORACLE,
}
