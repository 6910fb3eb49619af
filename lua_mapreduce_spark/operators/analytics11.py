"""Round-13 fifth wave: LSH banding tuning curve, Church-Gale word
burstiness, and the min-length filter tuning sweep.

The reference (rohitjoshi/lua-mapreduce, 1,127 LoC of Lua TCP plumbing;
its one workload is word count, example/word-count-taskfile.lua:73-159)
has none of this surface — these queries extend the repo's dedup-index,
corpus-statistics and curation-tuning families per the driver brief:

* ``dedup_lsh_tuning_curve`` — the (bands x rows) parameter sweep an
  LSH index operator reads before picking a configuration: candidate
  volume (cost) vs verified-pair yield (benefit) per configuration over
  the SAME stored signatures.
* ``text_burstiness`` — Church & Gale (1995): variance-to-mean of
  per-document word counts separates content words (bursty, VMR >> 1)
  from function words (Poisson-like, VMR ~ 1) — a signal document
  frequency alone cannot give.
* ``curation_length_filter_tuning`` — the threshold sweep behind every
  corpus's min-length filter: docs dropped, tokens retained, exact-dup
  rate among survivors, per candidate cutoff.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, parallelize_scan
from lua_mapreduce_spark.functions.texthash import oracle_words_expr, words_expr

# --------------------------------------------------------------------------
# LSH banding tuning curve (bands x rows sweep over shared signatures)
# --------------------------------------------------------------------------

# (bands, rows) with bands*rows = 32 (the signature width): the S-curve
# threshold ~ (1/b)^(1/r) moves from ~0.18 (16x2, high recall / high
# cost) through the production 8x4 to ~0.42 (4x8, low cost / low
# recall at the 0.6 working point).
_LTC_CONFIGS = ((16, 2), (8, 4), (4, 8))
_LTC_J = 600  # verified-pair working point (Jaccard permille)


def dedup_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banding tuning report an LSH index operator actually reads:
    over the SAME stored 32-slot MinHash signatures
    (dedup._minhash_signatures — no re-hash per configuration), replay
    three (bands x rows) configurations and report each one's candidate
    count (the cost axis), its exact-verified J >= 0.6 pair yield (the
    benefit axis), precision, and recall RELATIVE TO THE UNION of all
    tested configurations' verified pairs — the denominator is stated
    in-column (union_true), so the report never claims absolute recall
    it did not measure (16x2's S-curve threshold ~0.18 makes its miss
    probability at J >= 0.6 about (1 - 0.6^2)^16 ~ 1e-3, which is why
    the union is a faithful tuning denominator in practice).

    Scale shape: one persisted signature scan; per configuration the
    banded bucket equi-join (candidates only), one array_intersect
    verify per candidate pair, and bounded per-config rollups; the
    union is a distinct over the three verified-pair sets (each already
    small)."""
    from lua_mapreduce_spark.operators.dedup import (
        _minhash_signatures,
        _N_HASHES,
    )

    mh = _minhash_signatures(spark, sf_dir)
    per_config = []
    for bands, rows in _LTC_CONFIGS:
        assert bands * rows == _N_HASHES
        band_cols = [
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[F.col(f"m{b * rows + r}") for r in range(rows)],
                    )
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
        banded = mh.select(
            "doc_id", F.explode(F.array(*band_cols)).alias("b")
        ).select(
            "doc_id",
            F.col("b.band_idx").alias("band_idx"),
            F.col("b.band_hash").alias("band_hash"),
        )
        a, b2 = banded.alias("a"), banded.alias("b")
        cand = (
            a.join(
                b2,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        sa = mh.select(
            F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
        )
        sb = mh.select(
            F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
        )
        verified = (
            cand.join(sa, "doc_a")
            .join(sb, "doc_b")
            .select(
                "doc_a",
                "doc_b",
                F.expr(
                    "CAST(size(array_intersect(sh_a, sh_b)) AS BIGINT)"
                ).alias("i"),
                F.expr(
                    "CAST(size(sh_a) + size(sh_b) AS BIGINT)"
                ).alias("ab"),
            )
            .select(
                "doc_a",
                "doc_b",
                F.expr(f"i * 1000 >= {_LTC_J} * (ab - i)").alias("is_true"),
            )
            .localCheckpoint(eager=True)
        )
        per_config.append((bands, rows, verified))

    union_true = (
        per_config[0][2]
        .filter("is_true")
        .select("doc_a", "doc_b")
        .unionByName(
            per_config[1][2].filter("is_true").select("doc_a", "doc_b")
        )
        .unionByName(
            per_config[2][2].filter("is_true").select("doc_a", "doc_b")
        )
        .distinct()
        .agg(F.count(F.lit(1)).alias("union_true"))
    )
    stats = None
    for bands, rows, verified in per_config:
        s = verified.agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_candidates"),
            F.expr(
                "CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_true_found"),
        ).select(
            F.lit(f"{bands}x{rows}").alias("config"),
            F.lit(bands).cast("bigint").alias("bands"),
            F.lit(rows).cast("bigint").alias("rows_per_band"),
            "n_candidates",
            "n_true_found",
        )
        stats = s if stats is None else stats.unionByName(s)
    return stats.crossJoin(F.broadcast(union_true)).select(
        "config",
        "bands",
        "rows_per_band",
        "n_candidates",
        "n_true_found",
        F.expr("CAST(union_true AS BIGINT)").alias("union_true"),
        F.expr(
            "CASE WHEN union_true = 0 THEN NULL"
            " ELSE n_true_found * 1000 DIV union_true END"
        ).alias("recall_vs_union_permille"),
        F.expr(
            "CASE WHEN n_candidates = 0 THEN NULL"
            " ELSE n_true_found * 1000 DIV n_candidates END"
        ).alias("precision_permille"),
    )


def _ltc_oracle() -> str:
    from lua_mapreduce_spark.functions.texthash import oracle_md5_bigint_expr
    from lua_mapreduce_spark.operators.dedup import (
        _minhash_exprs,
        _SHINGLES_ORACLE_CTE,
    )

    base = oracle_md5_bigint_expr("shingle")
    mins = ",\n         ".join(
        f"MIN({e}) AS m{i}" for i, e in enumerate(_minhash_exprs(f"({base})"))
    )
    cfg_ctes, cfg_selects = [], []
    for bands, rows in _LTC_CONFIGS:
        tag = f"{bands}x{rows}"
        band_rows = "\n    UNION ALL\n".join(
            f"    SELECT doc_id, {b} AS band_idx, "
            f"md5(concat_ws(',', {', '.join(f'm{b * rows + r}' for r in range(rows))})) AS band_hash FROM mh"
            for b in range(bands)
        )
        cfg_ctes.append(f"""banded_{bands}_{rows} AS MATERIALIZED (
{band_rows}
),
cand_{bands}_{rows} AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded_{bands}_{rows} a JOIN banded_{bands}_{rows} b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id),
ver_{bands}_{rows} AS MATERIALIZED (
  SELECT c.doc_a, c.doc_b,
         (SELECT COUNT(*) FROM shingles x JOIN shingles y
            ON x.shingle = y.shingle
           WHERE x.doc_id = c.doc_a AND y.doc_id = c.doc_b) * 1000
           >= {_LTC_J} * (sa.n + sb.n
             - (SELECT COUNT(*) FROM shingles x JOIN shingles y
                  ON x.shingle = y.shingle
                 WHERE x.doc_id = c.doc_a AND y.doc_id = c.doc_b))
           AS is_true
  FROM cand_{bands}_{rows} c
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b)""")
        cfg_selects.append(
            f"SELECT '{tag}' AS config, CAST({bands} AS BIGINT) AS bands,"
            f" CAST({rows} AS BIGINT) AS rows_per_band,"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM ver_{bands}_{rows})"
            " AS n_candidates,"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM ver_{bands}_{rows}"
            " WHERE is_true) AS n_true_found"
        )
    unions = "\n    UNION\n".join(
        f"    SELECT doc_a, doc_b FROM ver_{b}_{r} WHERE is_true"
        for b, r in _LTC_CONFIGS
    )
    return f"""
WITH {_SHINGLES_ORACLE_CTE},
mh AS MATERIALIZED (
  SELECT doc_id,
         {mins}
  FROM shingles GROUP BY doc_id),
sizes AS MATERIALIZED (
  SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
{",".join(cfg_ctes)},
ut AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS union_true FROM (
{unions})),
stats AS (
{" UNION ALL ".join(cfg_selects)})
SELECT config, bands, rows_per_band, n_candidates, n_true_found,
       union_true,
       CASE WHEN union_true = 0 THEN NULL
            ELSE n_true_found * 1000 // union_true END
         AS recall_vs_union_permille,
       CASE WHEN n_candidates = 0 THEN NULL
            ELSE n_true_found * 1000 // n_candidates END
         AS precision_permille
FROM stats, ut
"""


# --------------------------------------------------------------------------
# Church-Gale word burstiness (variance-to-mean in exact integers)
# --------------------------------------------------------------------------

_BUR_MIN_TF = 50  # report words with corpus frequency >= this floor
_BUR_POISSON_MILLI = 1100  # bursty flag: VMR > 1.1 (Poisson = 1.0)


def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church & Gale (1995) word burstiness: the variance-to-mean ratio
    (VMR) of a word's PER-DOCUMENT counts over ALL documents (zeros
    included) separates bursty content words (a doc that mentions one
    tends to repeat it, VMR >> 1) from Poisson-like function words
    (VMR ~ 1) — a signal document frequency alone cannot give, and the
    corpus-statistics complement of the rarity/TF-IDF family. Exact
    integer form: with N docs, per-word tf = sum x_d and ss = sum
    x_d^2, VMR = (N*ss - tf^2) / (N*tf), emitted as vmr_milli =
    1000*(N*ss - tf^2) DIV (N*tf) — no float variance, no subtraction
    of near-equal means (zeros contribute nothing to either sum, so
    the all-docs semantics costs nothing extra).

    int64 headroom: N*ss is the widest term; at per-doc counts <= 1e4
    and N <= 1e9 it reaches ~1e17 x word-df — beyond that the two sums
    move to DECIMAL(38,0) unchanged (the CUSUM convention).

    Scale shape: one tokenize scan -> (word, doc) count pairs
    (map-side-combined) -> per-word (df, tf, ss) partial aggregates;
    the 1-row doc count broadcasts; output is the tf-floored word-TYPE
    table."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    n = docs.agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"))
    wd = (
        docs.select(
            "doc_id", F.explode(F.expr(words_expr("text"))).alias("w")
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    per_word = wd.groupBy("w").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs_with"),
        F.expr("CAST(SUM(x) AS BIGINT)").alias("tf"),
        F.expr("CAST(SUM(x * x) AS BIGINT)").alias("ss"),
    )
    return (
        per_word.filter(F.col("tf") >= _BUR_MIN_TF)
        .crossJoin(F.broadcast(n))
        .select(
            F.col("w").alias("word"),
            "n_docs_with",
            "tf",
            F.expr(
                "(n_docs * ss - tf * tf) * 1000 DIV (n_docs * tf)"
            ).alias("vmr_milli"),
            F.expr(
                f"(n_docs * ss - tf * tf) * 1000"
                f" > {_BUR_POISSON_MILLI} * (n_docs * tf)"
            ).alias("bursty"),
        )
    )


def _burstiness_oracle() -> str:
    return f"""
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
wd AS (
  SELECT doc_id, w, COUNT(*) AS x FROM (
    SELECT doc_id, UNNEST({oracle_words_expr("text")}) AS w
    FROM documents)
  GROUP BY 1, 2),
per_word AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n_docs_with,
         CAST(SUM(x) AS BIGINT) AS tf,
         CAST(SUM(x * x) AS BIGINT) AS ss
  FROM wd GROUP BY w)
SELECT w AS word, n_docs_with, tf,
       (n_docs * ss - tf * tf) * 1000 // (n_docs * tf) AS vmr_milli,
       (n_docs * ss - tf * tf) * 1000
         > {_BUR_POISSON_MILLI} * (n_docs * tf) AS bursty
FROM per_word, n
WHERE tf >= {_BUR_MIN_TF}
"""


# --------------------------------------------------------------------------
# Min-length filter tuning sweep (docs/tokens/dup-rate per cutoff)
# --------------------------------------------------------------------------

_LFT_CUTOFFS = (0, 50, 100, 200, 400, 800)


def curation_length_filter_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tuning curve behind every corpus's min-length filter: for
    each candidate n_chars cutoff, how many documents survive, how many
    tokens they carry, and the exact-duplicate rate AMONG the survivors
    (short boilerplate is where exact dups concentrate, so the dup rate
    falling as the cutoff rises is the measured justification for the
    filter — or its refutation). The per-cutoff duplicate count is
    sum over fingerprints of max(survivors_fp - 1, 0), computed from
    ONE fingerprint aggregate carrying a conditional count per cutoff —
    no per-cutoff rescan, no explode.

    Scale shape: one scan builds (fingerprint, per-cutoff survivor
    counts, token sums) via map-side-combinable conditional aggregates;
    the final sweep is a |cutoffs|-row rollup of that fingerprint
    table."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
    base = docs.select(
        fp.alias("fingerprint"),
        F.expr("CAST(n_chars AS BIGINT)").alias("c"),
        F.expr(f"CAST(size({words_expr('text')}) AS BIGINT)").alias("n_tok"),
    )
    per_fp = base.groupBy("fingerprint").agg(
        *[
            F.expr(
                f"CAST(SUM(CASE WHEN c >= {cut} THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias(f"n_{cut}")
            for cut in _LFT_CUTOFFS
        ],
        *[
            F.expr(
                f"CAST(SUM(CASE WHEN c >= {cut} THEN n_tok ELSE 0 END)"
                " AS BIGINT)"
            ).alias(f"t_{cut}")
            for cut in _LFT_CUTOFFS
        ],
    ).localCheckpoint(eager=True)
    # ^ Kept: 0.47 -> 0.68 s at sf0.01 without it (tools/checkpoint_sweep.py).
    rows = []
    for cut in _LFT_CUTOFFS:
        rows.append(
            per_fp.agg(
                F.expr(f"CAST(SUM(n_{cut}) AS BIGINT)").alias("n_docs"),
                F.expr(f"CAST(SUM(t_{cut}) AS BIGINT)").alias("n_tokens"),
                F.expr(
                    f"CAST(SUM(greatest(n_{cut} - 1, CAST(0 AS BIGINT)))"
                    " AS BIGINT)"
                ).alias("n_exact_dup"),
            ).select(
                F.lit(cut).cast("bigint").alias("min_chars"),
                "n_docs",
                "n_tokens",
                "n_exact_dup",
                F.expr(
                    "CASE WHEN n_docs = 0 THEN NULL"
                    " ELSE n_exact_dup * 1000 DIV n_docs END"
                ).alias("dup_permille"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _lft_oracle() -> str:
    selects = []
    for cut in _LFT_CUTOFFS:
        selects.append(f"""SELECT CAST({cut} AS BIGINT) AS min_chars,
       CAST(SUM(n_{cut}) AS BIGINT) AS n_docs,
       CAST(SUM(t_{cut}) AS BIGINT) AS n_tokens,
       CAST(SUM(greatest(n_{cut} - 1, 0)) AS BIGINT) AS n_exact_dup,
       CASE WHEN SUM(n_{cut}) = 0 THEN NULL
            ELSE CAST(SUM(greatest(n_{cut} - 1, 0)) * 1000
                      // SUM(n_{cut}) AS BIGINT) END AS dup_permille
FROM per_fp""")
    conds_n = ",\n         ".join(
        f"CAST(SUM(CASE WHEN c >= {cut} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_{cut}"
        for cut in _LFT_CUTOFFS
    )
    conds_t = ",\n         ".join(
        f"CAST(SUM(CASE WHEN c >= {cut} THEN n_tok ELSE 0 END) AS BIGINT)"
        f" AS t_{cut}"
        for cut in _LFT_CUTOFFS
    )
    return f"""
WITH base AS (
  SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
           AS fingerprint,
         CAST(n_chars AS BIGINT) AS c,
         CAST(len({oracle_words_expr("text")}) AS BIGINT) AS n_tok
  FROM documents),
per_fp AS (
  SELECT fingerprint,
         {conds_n},
         {conds_t}
  FROM base GROUP BY fingerprint)
{" UNION ALL ".join(selects)}
"""


QUERIES = {
    "dedup_lsh_tuning_curve": dedup_lsh_tuning_curve,
    "text_burstiness": text_burstiness,
    "curation_length_filter_tuning": curation_length_filter_tuning,
}

ORACLES = {
    "dedup_lsh_tuning_curve": _ltc_oracle(),
    "text_burstiness": _burstiness_oracle(),
    "curation_length_filter_tuning": _lft_oracle(),
}
