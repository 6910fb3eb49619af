"""Round-13 operator wave: asymmetric MinHash containment, the IVF+PQ
hybrid vector index, Hilbert-curve clustering keys, and the dataset-card
release report.

The reference (rohitjoshi/lua-mapreduce, 1,127 LoC of Lua TCP plumbing;
its one workload is word count, example/word-count-taskfile.lua:73-159)
has none of this surface — these queries extend the repo's north-star
LLM-data-pipeline families per the driver brief:

* ``text_minhash_containment`` — Broder's asymmetric containment
  C(A,B) = |A∩B| / |A| (Broder 1997, "On the resemblance and containment
  of documents") over the shared MinHash/LSH machinery (dedup.py): the
  symmetric Jaccard family cannot see that a short document is a QUOTE
  (near-subset) of a long one, because the union in the denominator
  drowns the overlap; containment reads the same intersection against
  each side's own size.
* ``sim_ivf_pq_hybrid`` — the FAISS IVFADC composition (Jegou et al.
  2011 §V): route each query to its nearest IVF cells, ADC-rank only the
  routed candidates with the PQ codebooks, exact-re-rank the shortlist —
  the way a production vector store actually serves queries.
* ``layout_hilbert_keys`` — Hilbert-curve clustering keys vs the
  existing Morton/z-order (scale_ops.py), judged by the SAME zone-map
  skipping estimator (analytics6.py) under the SAME probe workload, so
  curve-vs-curve locality is a measured skipping percentage rather than
  a claim.
* ``curation_dataset_card`` — the release artifact a corpus owes its
  consumers (row/token counts, per-lang and per-source mix, length
  deciles, exact-dup rate, decontamination overlap) composed from
  existing machinery into ONE gated integer-exact report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, parallelize_scan
from lua_mapreduce_spark.functions.texthash import oracle_words_expr, words_expr

# --------------------------------------------------------------------------
# Asymmetric MinHash containment (quote / near-subset detection)
# --------------------------------------------------------------------------

_CONT_T = 800  # near-subset flag: either containment >= 0.8


def text_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder's asymmetric containment over the shared MinHash machinery:
    per banded-LSH candidate pair, the EXACT containment in both
    directions (1000*|A∩B| DIV |A| and DIV |B|, integer permille from the
    persisted shingle arrays) plus the signature-side ESTIMATE derived
    from the 32-slot MinHash Jaccard — with J_est = s/H (s matching
    slots), C(A,B) ≈ J(|A|+|B|) / ((1+J)|A|) = s(|A|+|B|) / ((H+s)|A|),
    capped at 1000 (the estimate can exceed 1 when |B| >> |A|; true
    containment cannot). A pair is flagged ``near_subset`` when either
    exact containment clears 0.8 — the quote/subset reading the
    symmetric dedup family (dedup_minhash_lsh, dedup_minhash_b_bit)
    misses because the union denominator drowns a short doc's overlap.

    Scale shape: signatures and banded candidates are the shared
    dedup_minhash_lsh machinery — one text scan, array-fold signatures,
    bucket equi-join (candidates only, never all pairs); both exact
    containments and both estimates are map-side expressions over the
    joined pair rows (array_intersect on the two shingle arrays + the
    32-term slot-match sum)."""
    from lua_mapreduce_spark.operators.dedup import (
        _banded_keys,
        _match_sum_expr,
        _minhash_signatures,
        _N_HASHES,
    )

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
        )
    )
    # est: s(na+nb) DIV ((H+s) na) — s <= 32, na+nb <= shingle counts, so
    # the widest product is ~32 * 1e6, nowhere near int64.
    return paired.select(
        "doc_a",
        "doc_b",
        F.expr("n_common * 1000 DIV na").alias("cont_ab_permille"),
        F.expr("n_common * 1000 DIV nb").alias("cont_ba_permille"),
        F.expr(
            f"least(CAST(1000 AS BIGINT),"
            f" s * (na + nb) * 1000 DIV (({_N_HASHES} + s) * na))"
        ).alias("est_ab_permille"),
        F.expr(
            f"least(CAST(1000 AS BIGINT),"
            f" s * (na + nb) * 1000 DIV (({_N_HASHES} + s) * nb))"
        ).alias("est_ba_permille"),
        F.expr(
            f"greatest(n_common * 1000 DIV na, n_common * 1000 DIV nb)"
            f" >= {_CONT_T}"
        ).alias("near_subset"),
    )


def _containment_oracle() -> str:
    from lua_mapreduce_spark.functions.texthash import oracle_md5_bigint_expr
    from lua_mapreduce_spark.operators.dedup import (
        _BAND_ROWS,
        _match_sum_expr,
        _minhash_exprs,
        _N_BANDS,
        _N_HASHES,
        _SHINGLES_ORACLE_CTE,
    )

    base = oracle_md5_bigint_expr("shingle")
    mins = ",\n         ".join(
        f"MIN({e}) AS m{i}" for i, e in enumerate(_minhash_exprs(f"({base})"))
    )
    band_rows = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {band} AS band_idx, "
        f"md5(concat_ws(',', {', '.join(f'm{band * _BAND_ROWS + r}' for r in range(_BAND_ROWS))})) AS band_hash FROM mh"
        for band in range(_N_BANDS)
    )
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
paired AS (
  SELECT c.doc_a, c.doc_b,
         CAST(COALESCE(cm.n_common, 0) AS BIGINT) AS n_common,
         CAST(sa.n AS BIGINT) AS na, CAST(sb.n AS BIGINT) AS nb,
         {_match_sum_expr("a", "b", None)} AS s
  FROM candidates c
  JOIN mh a ON a.doc_id = c.doc_a
  JOIN mh b ON b.doc_id = c.doc_b
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
  LEFT JOIN common cm ON cm.doc_a = c.doc_a AND cm.doc_b = c.doc_b)
SELECT doc_a, doc_b,
       n_common * 1000 // na AS cont_ab_permille,
       n_common * 1000 // nb AS cont_ba_permille,
       least(CAST(1000 AS BIGINT),
             s * (na + nb) * 1000 // (({_N_HASHES} + s) * na))
         AS est_ab_permille,
       least(CAST(1000 AS BIGINT),
             s * (na + nb) * 1000 // (({_N_HASHES} + s) * nb))
         AS est_ba_permille,
       greatest(n_common * 1000 // na, n_common * 1000 // nb) >= {_CONT_T}
         AS near_subset
FROM paired
"""


# --------------------------------------------------------------------------
# IVF + PQ hybrid (FAISS IVFADC): cell routing, ADC shortlist, exact re-rank
# --------------------------------------------------------------------------

_HYB_SHORT = 50  # ADC shortlist size handed to the exact re-rank

# Engine-shared exact integer squared-L2 between two x1e6-quantized vectors
# (the sim_kmeans_lloyd grid — every distance an int64: |diff| <= 2e6,
# diff^2 <= 4e12, x64 dims <= 2.6e14, far from overflow).
_HYB_L2_SPARK = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
    " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)
_HYB_L2_DUCK = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " p -> (p[1] - p[2]) * (p[1] - p[2])))"
)

# The IVF assignment cosine (verbatim from sim_ivf_topk, similarity.py:497
# — shared text so the hybrid routes queries through the IDENTICAL cells).
_HYB_CENT_COS = (
    "aggregate(zip_with(embedding, cemb,"
    " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    " / (sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE),"
    " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    " * sqrt(aggregate(cemb, CAST(0.0 AS DOUBLE),"
    " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"
)


def sim_ivf_pq_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FAISS IVFADC composition (Jegou et al. 2011 §V): queries are
    ROUTED to their _N_PROBE nearest IVF cells (the sim_ivf_topk
    centroids — same trained centroids via the shared cache, same cosine
    assignment text, so the comparison with the parent is
    parameter-fair), candidates inside the routed cells are ranked by PQ
    asymmetric-distance lookups (the sim_pq_adc_topk codebooks — shared
    cache again), and the top-_HYB_SHORT ADC shortlist is re-ranked by
    EXACT integer squared-L2 on the x1e6 quantization grid. The exact
    full-scan top-K rides along as truth, so each reported neighbor
    carries its ``in_true`` verdict — the compounded recall of BOTH
    approximation stages (cell-routing loss + PQ quantization loss) is a
    gated number directly comparable with the flat IVF and full-scan PQ
    parents.

    Scale shape: centroid training and codebook training are bounded
    one-task passes (cached, shared with the parents); assignment meets
    the 8-row centroid broadcast map-side; codes meet the 256-row
    codebook broadcast map-side; the ADC scoring join touches only the
    routed cells' candidates (the point of IVF — ~_N_PROBE/_N_CENTROIDS
    of the corpus) with the 10-row lookup-table broadcast; the exact
    re-rank touches _HYB_SHORT rows per query. The only corpus-wide
    passes are the assignment/encode scans and the truth audit."""
    from lua_mapreduce_spark.operators.pq import (
        _PQ_K,
        _PQ_M,
        _PQ_QUERIES,
        _PQ_TOP_K,
        _pq_codebooks,
        _SUB_L2_SPARK,
        _subspaces,
    )
    from lua_mapreduce_spark.operators.similarity import (
        _KM_QV,
        _km_centroids,
        _N_PROBE,
    )

    emb = parallelize_scan(spark, load_table(spark, sf_dir, "embeddings"))
    cent = _km_centroids(spark, sf_dir)

    # IVF routing: N x 8 cosines, centroids broadcast, one window on vec_id
    # (the sim_ivf_topk plan verbatim).
    rank_w = Window.partitionBy("vec_id").orderBy(
        F.desc("ccos"), F.asc("cent_id")
    )
    assign = (
        emb.crossJoin(F.broadcast(cent))
        .select("vec_id", "cent_id", F.expr(_HYB_CENT_COS).alias("ccos"))
        .withColumn("crank", F.row_number().over(rank_w))
        # Keep only the rows either consumer can use.
        .filter(
            (F.col("crank") == 1)
            | ((F.col("vec_id") < _PQ_QUERIES) & (F.col("crank") <= _N_PROBE))
        )
        .select("vec_id", "cent_id", "crank")
    )
    cells = assign.filter(F.col("crank") == 1).select("vec_id", "cent_id")
    probes = assign.filter(
        (F.col("vec_id") < _PQ_QUERIES) & (F.col("crank") <= _N_PROBE)
    ).select(F.col("vec_id").alias("q_id"), "cent_id")
    cand = (
        probes.join(cells, "cent_id")
        .filter(F.col("q_id") != F.col("vec_id"))
        .select("q_id", "vec_id")
        .distinct()  # a vector in 2 probed cells would otherwise pair twice
    )

    # PQ encode + per-query ADC tables (the sim_pq_adc_topk machinery).
    cb = _pq_codebooks(spark, sf_dir)
    dist = _SUB_L2_SPARK.format(x="sub", c="cvec")
    assigned = (
        _subspaces(emb)
        .join(F.broadcast(cb), "m")
        .select(
            "vec_id",
            "m",
            F.struct(
                F.expr(dist).alias("d"), F.col("code").alias("code")
            ).alias("dc"),
        )
    )
    codes = assigned.groupBy("vec_id").agg(
        *[
            F.min(F.when(F.col("m") == m, F.col("dc")))
            .getField("code")
            .alias(f"c{m}")
            for m in range(_PQ_M)
        ]
    )
    qsub = _subspaces(
        emb.filter(F.col("vec_id") < _PQ_QUERIES)
    ).withColumnRenamed("vec_id", "q_id")
    dtab = qsub.join(F.broadcast(cb), "m").select(
        "q_id", "m", "code", F.expr(dist).alias("d")
    )
    darr = dtab.groupBy("q_id", "m").agg(
        F.array(
            *[F.max(F.when(F.col("code") == k, F.col("d"))) for k in range(_PQ_K)]
        ).alias("dists")
    )
    wide = darr.groupBy("q_id").agg(
        *[
            F.max(F.when(F.col("m") == m, F.col("dists"))).alias(f"a{m}")
            for m in range(_PQ_M)
        ]
    )

    # ADC-score the ROUTED candidates only; shortlist per query.
    score = " + ".join(f"element_at(a{m}, c{m} + 1)" for m in range(_PQ_M))
    short_w = Window.partitionBy("q_id").orderBy("adc_dist", "vec_id")
    shortlist = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(wide), "q_id")
        .select("q_id", "vec_id", F.expr(score).alias("adc_dist"))
        .withColumn("srank", F.row_number().over(short_w))
        .filter(F.col("srank") <= _HYB_SHORT)
        .select("q_id", "vec_id")
    )

    # Exact integer-L2 re-rank of the shortlist + the full-scan truth.
    # qa is the QUERY vectors only (_PQ_QUERIES rows) — bounded, so the
    # broadcast is safe and the truth pass is one corpus scan x 10, not
    # corpus x corpus.
    qvs = emb.select("vec_id", F.expr(_KM_QV).alias("qv"))
    qa = qvs.filter(F.col("vec_id") < _PQ_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("qqv")
    )
    l2 = _HYB_L2_SPARK.format(a="qqv", b="qv")
    rerank_w = Window.partitionBy("q_id").orderBy("l2_dist", "vec_id")
    reranked = (
        shortlist.join(qvs, "vec_id")
        .join(F.broadcast(qa), "q_id")
        .select("q_id", "vec_id", F.expr(l2).alias("l2_dist"))
        .withColumn("rank", F.row_number().over(rerank_w))
        .filter(F.col("rank") <= _PQ_TOP_K)
    )
    truth = (
        qvs.crossJoin(F.broadcast(qa))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", F.expr(l2).alias("l2_dist"))
        .withColumn("trank", F.row_number().over(rerank_w))
        .filter(F.col("trank") <= _PQ_TOP_K)
        .select(F.col("q_id").alias("tq"), F.col("vec_id").alias("tv"))
    )
    return (
        reranked.join(
            truth,
            (F.col("q_id") == F.col("tq")) & (F.col("vec_id") == F.col("tv")),
            "left",
        )
        .select(
            F.col("q_id").alias("query_id"),
            "rank",
            F.col("vec_id").alias("neighbor_id"),
            "l2_dist",
            F.expr("tv IS NOT NULL").alias("in_true"),
        )
    )


def _hybrid_oracle() -> str:
    from lua_mapreduce_spark.operators.pq import (
        _PQ_QUERIES,
        _PQ_TOP_K,
        _pq_oracle_ctes,
        _pq_scored_cte,
    )
    from lua_mapreduce_spark.operators.similarity import (
        _km_oracle_ctes,
        _N_PROBE,
    )

    cos_ab = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
        " / (sqrt(list_sum(list_transform({a},"
        " v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"
        " * sqrt(list_sum(list_transform({b},"
        " v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))"
    )
    l2 = _HYB_L2_DUCK
    ctes = [_km_oracle_ctes()]
    ctes += _pq_oracle_ctes()
    ctes.append(f"""hy_assign AS (
  SELECT e.vec_id, c.cent_id,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {cos_ab.format(a="e.embedding", b="c.cemb")} DESC,
                                     c.cent_id ASC) AS crank
  FROM embeddings e CROSS JOIN cent c)""")
    ctes.append("hy_cells AS (SELECT vec_id, cent_id FROM hy_assign WHERE crank = 1)")
    ctes.append(f"""hy_probes AS (
  SELECT vec_id AS q_id, cent_id FROM hy_assign
  WHERE vec_id < {_PQ_QUERIES} AND crank <= {_N_PROBE})""")
    ctes.append("""hy_cand AS (
  SELECT DISTINCT p.q_id, c.vec_id
  FROM hy_probes p JOIN hy_cells c ON p.cent_id = c.cent_id
  WHERE p.q_id != c.vec_id)""")
    ctes.append(_pq_scored_cte("hy_cand hc", v="hc", q="hc"))
    ctes.append(f"""hy_short AS (
  SELECT query_id AS q_id, neighbor_id AS vec_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY adc_dist ASC, neighbor_id ASC) AS srank
    FROM pq_scored)
  WHERE srank <= {_HYB_SHORT})""")
    ctes.append(f"""hy_rerank AS (
  SELECT s.q_id, s.vec_id,
         CAST({l2.format(a="qa.qv", b="qb.qv")} AS BIGINT) AS l2_dist,
         ROW_NUMBER() OVER (PARTITION BY s.q_id
                            ORDER BY {l2.format(a="qa.qv", b="qb.qv")} ASC,
                                     s.vec_id ASC) AS rank
  FROM hy_short s
  JOIN pq_qv qa ON qa.vec_id = s.q_id
  JOIN pq_qv qb ON qb.vec_id = s.vec_id)""")
    ctes.append(f"""hy_truth AS (
  SELECT q_id, vec_id FROM (
    SELECT qa.vec_id AS q_id, qb.vec_id AS vec_id,
           ROW_NUMBER() OVER (PARTITION BY qa.vec_id
                              ORDER BY {l2.format(a="qa.qv", b="qb.qv")} ASC,
                                       qb.vec_id ASC) AS trank
    FROM pq_qv qa JOIN pq_qv qb ON qa.vec_id != qb.vec_id
    WHERE qa.vec_id < {_PQ_QUERIES})
  WHERE trank <= {_PQ_TOP_K})""")
    sql = (
        "WITH " + ",\n".join(ctes) + f"""
SELECT r.q_id AS query_id, r.rank, r.vec_id AS neighbor_id, r.l2_dist,
       t.vec_id IS NOT NULL AS in_true
FROM hy_rerank r
LEFT JOIN hy_truth t ON t.q_id = r.q_id AND t.vec_id = r.vec_id
WHERE r.rank <= {_PQ_TOP_K}
"""
    )
    # Pin materialization of every multiply-referenced relation — DuckDB
    # re-inlines chained multi-reference CTEs (the analytics2 LPA-oracle
    # lesson): the 16 pq_codes/pq_dtab joins over the routed candidates
    # re-expanded the whole Lloyd chain per join, measured >540 s at
    # sf0.001 inlined vs 1.3 s materialized.
    for cte in (
        "pq_qv",
        "pq_sub",
        "pq_codes",
        "pq_dtab",
        "cent",
        "hy_assign",
        "hy_cand",
        "pq_scored",
        "hy_short",
    ):
        sql = sql.replace(f"{cte} AS (", f"{cte} AS MATERIALIZED (", 1)
    return sql


# --------------------------------------------------------------------------
# Hilbert-curve clustering keys vs z-order, zone-map-judged
# --------------------------------------------------------------------------

# Files per layout: DELIBERATELY not a power of two. At 2^k files both
# curves' equal-key-range buckets degenerate to the same dyadic
# rectangles (measured: 32 files -> 523 vs 520 skips at sf0.001, a tie
# at sf0.01), hiding the locality difference; at 48 files the buckets
# cut across dyadic cells and Hilbert's unit-step contiguity keeps its
# bounding boxes tight where Morton's bit-jumps widen them (measured:
# 798 vs 776 and 768 vs 752 skips) — which is also the realistic case,
# since production file counts don't align with key domains.
_HC_FILES = 48
_HC_PREDS = 10  # decile probes per dimension


def _hilbert_levels(bits: int, div_op: str) -> list[tuple[str, str, str]]:
    """Per-level (d_term, x_next, y_next) SQL for the unrolled functional
    xy2d Hilbert transform — columns ``hx``/``hy`` in, same names out.

    The classic mutating loop (Wikipedia d2xy/xy2d) is re-expressed per
    level i (s = 2^i, top bit first) without state mutation:
    rx = (hx DIV s) % 2, ry likewise; the quadrant digit
    (3*rx) XOR ry is written as a CASE over the four (rx, ry) cells so
    no engine-specific XOR operator is needed; the rotation keeps only
    the bits below s (hx % s) and reflects with s-1-... — verified
    bijective with unit-step adjacency (the Hilbert property) against
    the classic algorithm in tests/test_round13.py."""
    out = []
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx = f"(hx {div_op} {s}) % 2"
        ry = f"(hy {div_op} {s}) % 2"
        q = (
            f"CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0"
            f" WHEN {rx} = 0 THEN 1"
            f" WHEN {ry} = 1 THEN 2"
            f" ELSE 3 END"
        )
        d_term = f"{s * s} * ({q})"
        x_next = (
            f"CASE WHEN {ry} = 1 THEN hx % {s}"
            f" WHEN {rx} = 1 THEN {s - 1} - (hy % {s})"
            f" ELSE hy % {s} END"
        )
        y_next = (
            f"CASE WHEN {ry} = 1 THEN hy % {s}"
            f" WHEN {rx} = 1 THEN {s - 1} - (hx % {s})"
            f" ELSE hx % {s} END"
        )
        out.append((d_term, x_next, y_next))
    return out


def layout_hilbert_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering keys vs Morton/z-order, judged by the
    zone-map skipping estimator — curve vs curve as a measured number.
    Both curves run on the SAME min-max-scaled 10-bit (user_id,
    epoch-hour) coordinates (the layout_zorder_keys normalization,
    shared _scale_sql/_z_terms text), files are equal-key-range buckets
    of each curve's 20-bit key (pure arithmetic placement — no global
    sort, the zone-map convention), and the SAME probe workload (ten
    half-decile range predicates per dimension) reads each layout's
    per-file [min, max] zone maps on BOTH dimensions. Hilbert's unit-step
    adjacency (consecutive keys are always grid neighbors, no Morton
    jumps) yields tighter per-file bounding boxes, i.e. strictly more
    provable skips on the same data — here that claim is a
    skip_permille column next to z-order's under identical probes.

    The Hilbert index is the classic xy2d transform unrolled per bit
    level as pure integer CASE arithmetic (see _hilbert_levels) —
    bit-identical in any engine, so the query carries a full value
    oracle; the unrolled chain is a single map-side projection (Catalyst
    collapses the 10 chained selects), and everything after it is the
    bounded zone-map algebra: one groupBy over <= 2*32 file groups, a
    (2*32 x 2*10) broadcast probe matrix over MANIFEST rows, and one
    corpus scan for the exact selectivity truth."""
    from lua_mapreduce_spark.operators.scale_ops import (
        _scale_sql,
        _Z_BITS,
        _z_terms,
        _ZY_SPARK,
    )

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_id",
        "CAST(user_id AS BIGINT) AS x",
        f"{_ZY_SPARK} AS y",
    )
    bounds = ev.agg(
        F.min("x").alias("xmin"),
        F.max("x").alias("xmax"),
        F.min("y").alias("ymin"),
        F.max("y").alias("ymax"),
    )
    zx = _scale_sql("x", "xmin", "xmax", "DIV")
    zy = _scale_sql("y", "ymin", "ymax", "DIV")
    scaled = ev.join(F.broadcast(bounds)).selectExpr(
        "event_id",
        f"CAST({zx} AS BIGINT) AS zx",
        f"CAST({zy} AS BIGINT) AS zy",
        f"CAST({_z_terms(zx, zy, 'DIV')} AS BIGINT) AS z",
    )
    # Unrolled Hilbert chain: hd accumulates the level digits while
    # (hx, hy) carry the rotated low bits forward.
    cur = scaled.selectExpr(
        "event_id", "zx", "zy", "z",
        "CAST(0 AS BIGINT) AS hd", "zx AS hx", "zy AS hy",
    )
    for d_term, x_next, y_next in _hilbert_levels(_Z_BITS, "DIV"):
        cur = cur.selectExpr(
            "event_id", "zx", "zy", "z",
            f"hd + {d_term} AS hd",
            f"{x_next} AS hx",
            f"{y_next} AS hy",
        )
    keyed = cur.select("event_id", "zx", "zy", "z", F.col("hd").alias("h"))

    dom = 1 << (2 * _Z_BITS)  # both curves' key domain: [0, 2^20)
    zones = (
        keyed.selectExpr(
            "zx", "zy",
            f"stack(2, 'hilbert', h * {_HC_FILES} DIV {dom},"
            f" 'zorder', z * {_HC_FILES} DIV {dom}) AS (layout, file_id)",
        )
        .groupBy("layout", "file_id")
        .agg(
            F.expr("CAST(MIN(zx) AS BIGINT)").alias("xmin"),
            F.expr("CAST(MAX(zx) AS BIGINT)").alias("xmax"),
            F.expr("CAST(MIN(zy) AS BIGINT)").alias("ymin"),
            F.expr("CAST(MAX(zy) AS BIGINT)").alias("ymax"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    side = 1 << _Z_BITS
    preds = spark.range(2 * _HC_PREDS).selectExpr(
        f"CASE WHEN id < {_HC_PREDS} THEN 'x' ELSE 'y' END AS dim",
        f"CAST(id % {_HC_PREDS} AS BIGINT) AS pred_id",
        f"(id % {_HC_PREDS}) * {side} DIV {_HC_PREDS} AS lo",
        f"(id % {_HC_PREDS}) * {side} DIV {_HC_PREDS} + {side // 20} AS hi",
    )
    probed = zones.crossJoin(F.broadcast(preds)).withColumn(
        "scanned",
        F.expr(
            "CASE WHEN dim = 'x' THEN xmax >= lo AND xmin < hi"
            " ELSE ymax >= lo AND ymin < hi END"
        ),
    )
    skip_stats = probed.groupBy("layout", "dim", "pred_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.expr(
            "CAST(SUM(CASE WHEN scanned THEN 0 ELSE 1 END) AS BIGINT)"
        ).alias("n_skipped"),
        F.expr(
            "CAST(SUM(CASE WHEN scanned THEN n_rows ELSE 0 END) AS BIGINT)"
        ).alias("rows_scanned_ub"),
    )
    truth = (
        keyed.crossJoin(F.broadcast(preds))
        .filter(
            "CASE WHEN dim = 'x' THEN zx >= lo AND zx < hi"
            " ELSE zy >= lo AND zy < hi END"
        )
        .groupBy("dim", "pred_id")
        .agg(F.count(F.lit(1)).alias("rows_selected"))
    )
    return skip_stats.join(truth, ["dim", "pred_id"], "left").select(
        "layout",
        "dim",
        "pred_id",
        "n_files",
        "n_skipped",
        F.expr("n_skipped * 1000 DIV n_files").alias("skip_permille"),
        "rows_scanned_ub",
        F.expr("CAST(COALESCE(rows_selected, 0) AS BIGINT)").alias(
            "rows_selected"
        ),
    )


def _hilbert_oracle() -> str:
    from lua_mapreduce_spark.operators.scale_ops import (
        _scale_sql,
        _Z_BITS,
        _z_terms,
        _ZY_DUCK,
    )

    zx = _scale_sql("x", "xmin", "xmax", "//")
    zy = _scale_sql("y", "ymin", "ymax", "//")
    lvl_ctes = []
    prev = "lvl_start"
    for n, (d_term, x_next, y_next) in enumerate(
        _hilbert_levels(_Z_BITS, "//")
    ):
        name = f"lvl{n}"
        lvl_ctes.append(f"""{name} AS (
  SELECT event_id, zx, zy, z,
         hd + {d_term} AS hd,
         {x_next} AS hx,
         {y_next} AS hy
  FROM {prev})""")
        prev = name
    dom = 1 << (2 * _Z_BITS)
    side = 1 << _Z_BITS
    lvl_chain = ",\n".join(lvl_ctes)
    return f"""
WITH raw AS (
  SELECT event_id, CAST(user_id AS BIGINT) AS x, {_ZY_DUCK} AS y
  FROM events),
b AS (
  SELECT min(x) AS xmin, max(x) AS xmax, min(y) AS ymin, max(y) AS ymax
  FROM raw),
lvl_start AS (
  SELECT event_id,
         CAST({zx} AS BIGINT) AS zx,
         CAST({zy} AS BIGINT) AS zy,
         CAST({_z_terms(zx, zy, "//")} AS BIGINT) AS z,
         CAST(0 AS BIGINT) AS hd,
         CAST({zx} AS BIGINT) AS hx,
         CAST({zy} AS BIGINT) AS hy
  FROM raw, b),
{lvl_chain},
keyed AS (SELECT event_id, zx, zy, z, hd AS h FROM {prev}),
zones AS (
  SELECT layout, file_id,
         CAST(MIN(zx) AS BIGINT) AS xmin, CAST(MAX(zx) AS BIGINT) AS xmax,
         CAST(MIN(zy) AS BIGINT) AS ymin, CAST(MAX(zy) AS BIGINT) AS ymax,
         COUNT(*) AS n_rows
  FROM (
    SELECT zx, zy, 'hilbert' AS layout, h * {_HC_FILES} // {dom} AS file_id
    FROM keyed
    UNION ALL
    SELECT zx, zy, 'zorder', z * {_HC_FILES} // {dom} FROM keyed)
  GROUP BY 1, 2),
preds AS (
  SELECT CASE WHEN i < {_HC_PREDS} THEN 'x' ELSE 'y' END AS dim,
         CAST(i % {_HC_PREDS} AS BIGINT) AS pred_id,
         (i % {_HC_PREDS}) * {side} // {_HC_PREDS} AS lo,
         (i % {_HC_PREDS}) * {side} // {_HC_PREDS} + {side // 20} AS hi
  FROM (SELECT UNNEST(range({2 * _HC_PREDS})) AS i)),
skip_stats AS (
  SELECT layout, dim, pred_id, COUNT(*) AS n_files,
         CAST(SUM(CASE WHEN (CASE WHEN dim = 'x'
                                  THEN xmax >= lo AND xmin < hi
                                  ELSE ymax >= lo AND ymin < hi END)
                       THEN 0 ELSE 1 END) AS BIGINT) AS n_skipped,
         CAST(SUM(CASE WHEN (CASE WHEN dim = 'x'
                                  THEN xmax >= lo AND xmin < hi
                                  ELSE ymax >= lo AND ymin < hi END)
                       THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned_ub
  FROM zones CROSS JOIN preds GROUP BY 1, 2, 3),
truth AS (
  SELECT dim, pred_id, COUNT(*) AS rows_selected
  FROM keyed CROSS JOIN preds
  WHERE CASE WHEN dim = 'x' THEN zx >= lo AND zx < hi
             ELSE zy >= lo AND zy < hi END
  GROUP BY 1, 2)
SELECT layout, s.dim, s.pred_id, n_files, n_skipped,
       n_skipped * 1000 // n_files AS skip_permille,
       rows_scanned_ub,
       CAST(COALESCE(rows_selected, 0) AS BIGINT) AS rows_selected
FROM skip_stats s
LEFT JOIN truth t ON t.dim = s.dim AND t.pred_id = s.pred_id
"""


# --------------------------------------------------------------------------
# Dataset card: the release report a curated corpus owes its consumers
# --------------------------------------------------------------------------

_DC_DECILES = 9  # d1..d9 length-decile boundaries


def curation_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card (Gebru et al. 2021, "Datasheets for Datasets" —
    the summary-statistics section) as ONE gated integer-exact report:
    tall (section, metric, value) rows covering corpus totals (docs,
    tokens, chars), the per-lang and per-source mix, the nine n_chars
    decile boundaries, the exact-duplicate rate, and the decontamination
    overlap against the held-out benchmark split — every number already
    defined by an existing registered operator (dedup_exact's
    fingerprint, text_decontaminate's shingle overlap, the tokenizer),
    composed into the standard release artifact.

    Decile boundary d_k = MIN length with 10*cum_count >= k*n — computed
    over the DISTINCT-length histogram (the curation_quality_auc /
    pareto-skyline convention: the window runs over the bounded length
    domain, never the corpus) joined against a 9-row broadcast.

    Scale shape: the tokenize projection feeds the totals and the mixes
    (map-side partial aggs); the fingerprint pass is dedup_exact's one
    shuffle collapsed to two numbers; the decontamination pass is the
    text_decontaminate shingle equi-join collapsed to one count; every
    emitted relation is <= a few dozen rows. Nothing is materialized:
    the projection is recomputed under each consumer and the shingle
    index under both join sides, so the executed plan reads documents 9
    times (BASELINE.md, "Per-query sets": no slower at sf0.01 or sf0.1
    than materializing them, which reads it 3 times)."""
    from lua_mapreduce_spark.operators.curation import (
        _DECON_BENCH_MOD,
        _DECON_N,
        _shingles_expr,
    )

    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id",
        "lang",
        "source",
        F.expr("CAST(n_chars AS BIGINT)").alias("c"),
        F.expr(f"CAST(size({words_expr('text')}) AS BIGINT)").alias("n_tok"),
    )
    tot = base.agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
        F.expr("CAST(SUM(n_tok) AS BIGINT)").alias("n_tokens"),
        F.expr("CAST(SUM(c) AS BIGINT)").alias("sum_chars"),
        F.expr(
            f"CAST(SUM(CASE WHEN doc_id % {_DECON_BENCH_MOD} = 0"
            f" THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_bench"),
    )

    corpus_rows = tot.selectExpr(
        "stack(3, 'corpus', 'n_docs', n_docs,"
        " 'corpus', 'n_tokens', n_tokens,"
        " 'corpus', 'sum_chars', sum_chars) AS (section, metric, value)"
    ).select("section", "metric", "value")
    lang_rows = base.groupBy("lang").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("value")
    ).select(
        F.lit("lang_mix").alias("section"),
        F.col("lang").alias("metric"),
        "value",
    )
    source_rows = base.groupBy("source").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("value")
    ).select(
        F.lit("source_mix").alias("section"),
        F.col("source").alias("metric"),
        "value",
    )

    # Length deciles over the bounded distinct-length histogram.
    hist = base.groupBy("c").agg(F.count(F.lit(1)).alias("cnt"))
    cum_w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("c", F.sum("cnt").over(cum_w).alias("cum"))
    ks = spark.range(1, _DC_DECILES + 1).select(F.col("id").alias("k"))
    decile_rows = (
        cum.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(tot))
        .filter("cum * 10 >= k * n_docs")
        .groupBy("k")
        .agg(F.expr("CAST(MIN(c) AS BIGINT)").alias("value"))
        .select(
            F.lit("length_decile").alias("section"),
            F.expr("concat('d', CAST(k AS STRING))").alias("metric"),
            "value",
        )
    )

    # Exact-dup rate: dedup_exact's fingerprint, collapsed to two numbers.
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
    dup = (
        docs.select(fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .agg(
            F.expr("CAST(SUM(n_copies - 1) AS BIGINT)").alias("n_dup")
        )
    )
    dup_rows = dup.crossJoin(F.broadcast(tot)).selectExpr(
        "stack(2, 'dedup', 'n_exact_dup_docs', n_dup,"
        " 'dedup', 'dup_permille', n_dup * 1000 DIV n_docs)"
        " AS (section, metric, value)"
    ).select("section", "metric", "value")

    # Decontamination overlap: the text_decontaminate join, one count.
    sh = (
        docs.select("doc_id", F.expr(words_expr("text")).alias("l"))
        .filter(F.size("l") >= _DECON_N)
        .select(
            "doc_id", F.explode(F.expr(_shingles_expr(_DECON_N))).alias("sg")
        )
    )
    bench_sh = (
        sh.filter(F.col("doc_id") % _DECON_BENCH_MOD == 0)
        .select("sg")
        .distinct()
    )
    contaminated = (
        sh.filter(F.col("doc_id") % _DECON_BENCH_MOD != 0)
        .join(bench_sh, "sg")
        .agg(F.expr("CAST(COUNT(DISTINCT doc_id) AS BIGINT)").alias("n_cont"))
    )
    decon_rows = contaminated.crossJoin(F.broadcast(tot)).selectExpr(
        "stack(3, 'decontamination', 'n_bench_docs', n_bench,"
        " 'decontamination', 'n_contaminated_docs', n_cont,"
        " 'decontamination', 'contaminated_permille',"
        " n_cont * 1000 DIV (n_docs - n_bench)) AS (section, metric, value)"
    ).select("section", "metric", "value")

    return (
        corpus_rows.unionByName(lang_rows)
        .unionByName(source_rows)
        .unionByName(decile_rows)
        .unionByName(dup_rows)
        .unionByName(decon_rows)
    )


def _dataset_card_oracle() -> str:
    from lua_mapreduce_spark.operators.curation import (
        _DECON_BENCH_MOD,
        _DECON_N,
        _oracle_shingles_expr,
    )

    return f"""
WITH base AS (
  SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS c,
         CAST(len({oracle_words_expr("text")}) AS BIGINT) AS n_tok
  FROM documents),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         CAST(SUM(c) AS BIGINT) AS sum_chars,
         CAST(SUM(CASE WHEN doc_id % {_DECON_BENCH_MOD} = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_bench
  FROM base),
cum AS (
  SELECT c, SUM(cnt) OVER (ORDER BY c
                           ROWS UNBOUNDED PRECEDING) AS cum
  FROM (SELECT c, COUNT(*) AS cnt FROM base GROUP BY c)),
deciles AS (
  SELECT k, CAST(MIN(c) AS BIGINT) AS value
  FROM cum CROSS JOIN (SELECT UNNEST(range(1, {_DC_DECILES + 1})) AS k),
       tot
  WHERE cum * 10 >= k * n_docs
  GROUP BY k),
dup AS (
  SELECT CAST(SUM(n_copies - 1) AS BIGINT) AS n_dup FROM (
    SELECT COUNT(*) AS n_copies
    FROM (SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                 AS fingerprint
          FROM documents)
    GROUP BY fingerprint)),
sh AS (
  SELECT doc_id, s.sg
  FROM (SELECT doc_id, {oracle_words_expr("text")} AS l FROM documents) t,
       unnest({_oracle_shingles_expr(_DECON_N)}) AS s(sg)
  WHERE len(l) >= {_DECON_N}),
cont AS (
  SELECT CAST(COUNT(DISTINCT c.doc_id) AS BIGINT) AS n_cont
  FROM sh c
  JOIN (SELECT DISTINCT sg FROM sh WHERE doc_id % {_DECON_BENCH_MOD} = 0) b
    ON c.sg = b.sg
  WHERE c.doc_id % {_DECON_BENCH_MOD} <> 0)
SELECT 'corpus' AS section, 'n_docs' AS metric, n_docs AS value FROM tot
UNION ALL SELECT 'corpus', 'n_tokens', n_tokens FROM tot
UNION ALL SELECT 'corpus', 'sum_chars', sum_chars FROM tot
UNION ALL SELECT 'lang_mix', lang, CAST(COUNT(*) AS BIGINT)
  FROM base GROUP BY lang
UNION ALL SELECT 'source_mix', source, CAST(COUNT(*) AS BIGINT)
  FROM base GROUP BY source
UNION ALL SELECT 'length_decile', 'd' || CAST(k AS VARCHAR), value
  FROM deciles
UNION ALL SELECT 'dedup', 'n_exact_dup_docs', n_dup FROM dup
UNION ALL SELECT 'dedup', 'dup_permille', n_dup * 1000 // n_docs
  FROM dup, tot
UNION ALL SELECT 'decontamination', 'n_bench_docs', n_bench FROM tot
UNION ALL SELECT 'decontamination', 'n_contaminated_docs', n_cont FROM cont
UNION ALL SELECT 'decontamination', 'contaminated_permille',
  n_cont * 1000 // (n_docs - n_bench) FROM cont, tot
"""


QUERIES = {
    "text_minhash_containment": text_minhash_containment,
    "sim_ivf_pq_hybrid": sim_ivf_pq_hybrid,
    "layout_hilbert_keys": layout_hilbert_keys,
    "curation_dataset_card": curation_dataset_card,
}

ORACLES = {
    "text_minhash_containment": _containment_oracle(),
    "sim_ivf_pq_hybrid": _hybrid_oracle(),
    "layout_hilbert_keys": _hilbert_oracle(),
    "curation_dataset_card": _dataset_card_oracle(),
}
