"""Round-15 wave (the committed bank, SURVEY §7.4 items 59-60):
contamination severity tiers and affix productivity. (Item 57, the
streaming session-depth snapshot, lives with the other streaming faces
in streaming_ops/stateful; item 58, resource-allocation link
prediction, in graph.py.)

The reference (rohitjoshi/lua-mapreduce, 1,127 LoC of Lua TCP plumbing;
its one workload is word count, example/word-count-taskfile.lua:73-159)
has none of this surface — these queries extend the repo's curation
and text-analysis families per the driver brief:

* ``curation_contamination_severity_tiers`` — the decontamination
  ACTION grid: corpus docs tiered by their worst benchmark containment
  (full / partial / quote / clean) with per-tier doc and token mass —
  the remove-vs-flag decision table, composed from
  curation_contamination_pairs_report so tiers can never drift from
  the evidence they adjudicate.
* ``text_affix_productivity`` — morphological productivity: per 3-char
  prefix/suffix class the word-TYPE count, token mass and the
  type/token productivity permille — language-mix drift shows up here
  before perplexity moves (a new language's affix classes arrive with
  high type counts at low token mass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, parallelize_scan
from lua_mapreduce_spark.functions.texthash import oracle_words_expr, words_expr

# --------------------------------------------------------------------------
# Contamination severity tiers (the remove-vs-flag action grid)
# --------------------------------------------------------------------------

_CST_FULL = 800  # worst containment >= 800 permille: the doc IS benchmark
_CST_PARTIAL = 300  # >= 300: a substantial span leaked -> human review


def curation_contamination_severity_tiers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The decontamination ACTION grid: every corpus doc tiered by its
    WORST benchmark containment — full (>= 800 permille of the doc is
    benchmark material -> remove), partial (>= 300 -> flag for
    review), quote (any evidence below that -> keep, it's a citation),
    clean (no evidence row at all) — with per-tier doc count, token
    mass, and both masses in permille of the corpus, so the grid
    states up front what a removal pass would cost.

    COMPOSES curation_contamination_pairs_report (the same plan, not a
    re-derivation — the quota-executor convention), so the tiers can
    never drift from the pair evidence they adjudicate. The worst
    containment survives the report's top-k truncation exactly:
    cont_doc_permille = n_shared * 1000 DIV n_sg_doc is monotone in
    n_shared for a fixed doc, and the report ranks partners by
    n_shared DESC — so the report's rank-1 partner carries the true
    per-doc maximum.

    Scale shape: the pair report's one tokenize scan + bounded-fanout
    join; the severity rollup is a per-doc max (map-side combinable);
    the token-mass side is one more projection of the same corpus scan
    (SIZE of the token list, no explode); the grid is <= 4 rows, and
    the corpus totals ride in on a broadcast 1-row aggregate."""
    from lua_mapreduce_spark.operators.analytics13 import (
        curation_contamination_pairs_report,
    )
    from lua_mapreduce_spark.operators.curation import _DECON_BENCH_MOD

    pairs = curation_contamination_pairs_report(spark, sf_dir)
    sev = pairs.groupBy("doc_id").agg(
        F.expr("CAST(MAX(cont_doc_permille) AS BIGINT)").alias("max_cont")
    )
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    toks = docs.filter(F.col("doc_id") % _DECON_BENCH_MOD != 0).select(
        "doc_id",
        F.expr(f"CAST(SIZE({words_expr('text')}) AS BIGINT)").alias("n_tok"),
    )
    tiered = (
        toks.join(sev, "doc_id", "left")
        .select(
            "n_tok",
            F.expr(
                "CASE WHEN max_cont IS NULL THEN 'clean'"
                f" WHEN max_cont >= {_CST_FULL} THEN 'full'"
                f" WHEN max_cont >= {_CST_PARTIAL} THEN 'partial'"
                " ELSE 'quote' END"
            ).alias("tier"),
        )
        # Kept: 1.33 -> 1.55 s at sf0.1 without it (tools/checkpoint_sweep.py).
        .localCheckpoint(eager=True)
    )
    grid = tiered.groupBy("tier").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
        F.expr("CAST(COALESCE(SUM(n_tok), 0) AS BIGINT)").alias(
            "token_mass"
        ),
    )
    tot = tiered.agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("tot_docs"),
        F.expr("CAST(COALESCE(SUM(n_tok), 0) AS BIGINT)").alias("tot_toks"),
    )
    return grid.crossJoin(F.broadcast(tot)).select(
        "tier",
        F.expr(
            "CASE tier WHEN 'full' THEN 'remove'"
            " WHEN 'partial' THEN 'flag' ELSE 'keep' END"
        ).alias("action"),
        "n_docs",
        "token_mass",
        F.expr("n_docs * 1000 DIV tot_docs").alias("docs_permille"),
        F.expr("token_mass * 1000 DIV tot_toks").alias("tokens_permille"),
    )


def _cst_oracle() -> str:
    from lua_mapreduce_spark.operators.analytics13 import _cpr_oracle
    from lua_mapreduce_spark.operators.curation import _DECON_BENCH_MOD

    return f"""
WITH pr AS ({_cpr_oracle()}),
sev AS (
  SELECT doc_id, CAST(MAX(cont_doc_permille) AS BIGINT) AS max_cont
  FROM pr GROUP BY 1),
toks AS (
  SELECT doc_id,
         CAST(len({oracle_words_expr("text")}) AS BIGINT) AS n_tok
  FROM documents WHERE doc_id % {_DECON_BENCH_MOD} <> 0),
tiered AS (
  SELECT t.n_tok,
         CASE WHEN s.max_cont IS NULL THEN 'clean'
              WHEN s.max_cont >= {_CST_FULL} THEN 'full'
              WHEN s.max_cont >= {_CST_PARTIAL} THEN 'partial'
              ELSE 'quote' END AS tier
  FROM toks t LEFT JOIN sev s USING (doc_id)),
grid AS (
  SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) AS token_mass
  FROM tiered GROUP BY 1),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS tot_docs,
         CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) AS tot_toks
  FROM tiered)
SELECT tier,
       CASE tier WHEN 'full' THEN 'remove'
            WHEN 'partial' THEN 'flag' ELSE 'keep' END AS action,
       n_docs, token_mass,
       n_docs * 1000 // tot_docs AS docs_permille,
       token_mass * 1000 // tot_toks AS tokens_permille
FROM grid CROSS JOIN tot
"""


# --------------------------------------------------------------------------
# Affix productivity (3-char prefix/suffix morphology profile)
# --------------------------------------------------------------------------

_AFX_LEN = 3  # affix length (chars)
_AFX_MINLEN = 4  # only words strictly longer than the affix participate
_AFX_TOPK = 25  # affix classes kept per kind, by token mass


def text_affix_productivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morphological productivity per 3-char affix class (Baayen's
    type-based productivity reading, in exact integers): for each
    3-char prefix and suffix over words of length >= 4, the word-TYPE
    count, the token mass, and the productivity permille = types *
    1000 DIV tokens — a productive affix spreads its mass across many
    rare types (high permille); a frozen one concentrates in a few
    frequent words (low). Language-mix drift shows up here before
    perplexity moves: a new language's affix classes arrive with high
    type counts at low token mass. Top _AFX_TOPK classes per kind by
    (token_mass DESC, affix ASC) — the bounded-truncation contract.

    Scale shape: one tokenize scan collapses to the word-TYPE table
    (the Zipf/burstiness convention — all downstream work is on types,
    never tokens); each type row EXPLODES into its two (kind, affix)
    sides in the same pass (a 2-element struct array, NOT a union of
    two projections — a union would recompute the tokenize scan and
    the type aggregate once per branch, doubling the dominant cost at
    100 TB); the affix rollup is <= 2 * 26^3 rows and the top-k rank
    compiles to WindowGroupLimit (per-kind groups pruned map-side)."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    types = (
        docs.select(F.explode(F.expr(words_expr("text"))).alias("w"))
        .filter(F.length("w") >= _AFX_MINLEN)
        .groupBy("w")
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("freq"))
    )
    sides = types.select(
        F.explode(
            F.expr(
                "array("
                f"struct('prefix' AS kind, substr(w, 1, {_AFX_LEN}) AS affix),"
                f"struct('suffix' AS kind, substr(w, length(w) - {_AFX_LEN - 1},"
                f" {_AFX_LEN}) AS affix))"
            )
        ).alias("s"),
        "freq",
    ).select(F.col("s.kind").alias("kind"), F.col("s.affix").alias("affix"), "freq")
    aff = sides.groupBy("kind", "affix").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_types"),
        F.expr("CAST(SUM(freq) AS BIGINT)").alias("token_mass"),
    )
    wr = Window.partitionBy("kind").orderBy(
        F.desc("token_mass"), F.asc("affix")
    )
    return (
        aff.withColumn("mass_rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("mass_rank") <= _AFX_TOPK)
        .select(
            "kind",
            "affix",
            "mass_rank",
            "n_types",
            "token_mass",
            F.expr("n_types * 1000 DIV token_mass").alias(
                "productivity_permille"
            ),
        )
    )


def _afx_oracle() -> str:
    return f"""
WITH toks AS (
  SELECT unnest({oracle_words_expr("text")}) AS w FROM documents),
types AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM toks WHERE len(w) >= {_AFX_MINLEN} GROUP BY 1),
affsides AS (
  SELECT 'prefix' AS kind, substr(w, 1, {_AFX_LEN}) AS affix, freq
  FROM types
  UNION ALL
  SELECT 'suffix', substr(w, len(w) - {_AFX_LEN - 1}, {_AFX_LEN}), freq
  FROM types),
aff AS (
  SELECT kind, affix,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(freq) AS BIGINT) AS token_mass
  FROM affsides GROUP BY 1, 2),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY kind
                                    ORDER BY token_mass DESC, affix)
                 AS BIGINT) AS mass_rank
  FROM aff QUALIFY mass_rank <= {_AFX_TOPK})
SELECT kind, affix, mass_rank, n_types, token_mass,
       n_types * 1000 // token_mass AS productivity_permille
FROM ranked
"""


QUERIES = {
    "curation_contamination_severity_tiers": (
        curation_contamination_severity_tiers
    ),
    "text_affix_productivity": text_affix_productivity,
}

ORACLES = {
    "curation_contamination_severity_tiers": _cst_oracle(),
    "text_affix_productivity": _afx_oracle(),
}
