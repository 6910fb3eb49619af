"""Product quantization (PQ) with asymmetric distance computation (ADC) —
Jegou et al. 2011, the FAISS compressed-domain search path.

The reference has no similarity surface at all (its one workload is word
count, example/word-count-taskfile.lua:73-159); this extends the repo's
similarity family (exact / int8 / LSH / IVF) with the remaining classic:
split each 64-dim embedding into ``_PQ_M`` = 16 subspaces of 4 dims,
learn a ``_PQ_K`` = 16-codeword codebook per subspace (Lloyd iterations
over the SAME bounded deterministic sample the IVF trainer uses), store
each vector as 16 four-bit codes (8 bytes vs 256 — 32x compression), and
answer queries by summing 16 table-lookups per candidate instead of a
64-dim float scan. On these near-random embeddings that buys recall@5
~0.36 direct (comparable to the multitable LSH path) and 0.88 as a
top-50 SHORTLIST for exact re-ranking — the standard PQ deployment.

Determinism/oracle strategy (the repo's k-means pattern, similarity.py):

* training runs in ONE `applyInPandas` task whose numpy loops accumulate
  dimension-by-dimension in the same left-fold order as the SQL replay, so
  every squared-L2 distance, argmin assignment (ties -> lowest code), and
  sum/count centroid mean is bit-identical to the DuckDB CTE chain;
* all distances are squared L2 in the x1e6-quantized integer domain
  (integers exact in doubles), so there is no sqrt and no normalization —
  fewer float ops than the cosine trainer, same bit-exactness argument;
* the ADC score is the explicitly left-associated M-term sum
  ``(((d0 + d1) + d2) + ...)`` in BOTH engines.

Scale shape: training cost is O(1) in corpus size (bounded sample, one
task). Encoding is the linear pass PQ exists for — each vector meets the
256-row broadcast codebook map-side; only (vec_id, 16 nibble codes) ever
shuffles, 32x less traffic than raw vectors. Queries are a bounded
broadcast (10 vectors -> 10 rows of M x K lookup tables); the scoring join streams
the code table once and never materializes per-pair vectors. IVF cells
(sim_ivf_topk) would bolt on in front for sub-linear scan — this operator
keeps the full-scan ADC contract so the oracle stays a pure replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, parallelize_scan
from lua_mapreduce_spark.memo import memo
from lua_mapreduce_spark.operators.similarity import (
    _KM_QV,
    _KM_SAMPLE_CAP,
    _KM_SAMPLE_MOD,
)

_PQ_M = 16  # subspaces
_PQ_SUB = 4  # dims per subspace (16 x 4 = 64)
_PQ_K = 16  # codewords per subspace
_PQ_ITERS = 3  # Lloyd rounds per subspace
_PQ_QUERIES = 10  # query set: vec_id < 10 (matches the other ANN ops)
_PQ_TOP_K = 5

# Engine-shared squared-L2 between a BIGINT subvector and a DOUBLE
# codeword, accumulated dimension-ascending (left fold).
_SUB_L2_SPARK = (
    "aggregate(zip_with({x}, {c}, (x, c) ->"
    " (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_SUB_L2_ORACLE = (
    "list_sum(list_transform(list_zip({x}, {c}),"
    " p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))"
)


def _pq_train_pandas(pdf):
    """All _PQ_M codebooks in one task over the bounded sample.

    Bit-compatible with the SQL replay: distances accumulate
    dimension-by-dimension (the SQL left fold), argmin picks the FIRST
    minimum (= lowest code id, the oracle's ORDER BY dist, code), and
    centroid means are exact-integer sums divided once. Seeds are the
    first _PQ_K sample vectors by vec_id, per subspace."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    qi = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["qv"]])
    rows = []
    for m in range(_PQ_M):
        Xi = qi[:, m * _PQ_SUB : (m + 1) * _PQ_SUB]
        X = Xi.astype(np.float64)  # exact: |q| <= ~1e6 << 2^53
        C = X[:_PQ_K].copy()
        for _ in range(_PQ_ITERS):
            d = np.zeros((X.shape[0], _PQ_K))
            for k in range(_PQ_SUB):
                diff = X[:, k][:, None] - C[None, :, k]
                d += diff * diff
            best = np.argmin(d, axis=1)  # first min = lowest code on ties
            for c in range(_PQ_K):
                members = Xi[best == c]
                if len(members):  # empty codes keep the previous codeword
                    C[c] = members.sum(axis=0).astype(np.float64) / np.float64(
                        len(members)
                    )
        rows += [(m, c, list(C[c])) for c in range(_PQ_K)]
    return pd.DataFrame(rows, columns=["m", "code", "cvec"])


@memo
def _pq_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(m, code, cvec): M x K rows, trained once and checkpointed so
    downstream references don't re-run the training task."""
    emb = load_table(spark, sf_dir, "embeddings")
    sample = emb.filter(
        (F.col("vec_id") % _KM_SAMPLE_MOD == 0) & (F.col("vec_id") < _KM_SAMPLE_CAP)
    ).select("vec_id", F.expr(_KM_QV).alias("qv"))
    cb = sample.groupBy(F.lit(0).alias("g")).applyInPandas(
        _pq_train_pandas, "m int, code int, cvec array<double>"
    )
    return cb.localCheckpoint(eager=True)


def _subspaces(df: DataFrame) -> DataFrame:
    """(vec_id, m, sub): the M quantized subvectors of every vector."""
    slices = ", ".join(
        f"slice(qv, {m * _PQ_SUB + 1}, {_PQ_SUB})" for m in range(_PQ_M)
    )
    return df.select(
        "vec_id", F.expr(_KM_QV).alias("qv")
    ).select("vec_id", F.posexplode(F.expr(f"array({slices})")).alias("m", "sub"))


def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors per query by PQ/ADC squared-L2 over 16x16 codes."""
    emb = parallelize_scan(spark, load_table(spark, sf_dir, "embeddings"))
    cb = _pq_codebooks(spark, sf_dir)
    dist = _SUB_L2_SPARK.format(x="sub", c="cvec")

    # Encode: every (vector, subspace) meets the broadcast M*K-row
    # codebook; argmin via min(struct(d, code)) — a map-side-combinable
    # aggregation with the same (dist ASC, code ASC) tie rule as the
    # oracle's ROW_NUMBER, and no per-(vector, subspace) sort shuffle the
    # window formulation would pay; pivot the M codes into one row per
    # vector in the same aggregation.
    assigned = (
        _subspaces(emb)
        .join(F.broadcast(cb), "m")
        .select(
            "vec_id", "m",
            F.struct(F.expr(dist).alias("d"), F.col("code").alias("code")).alias("dc"),
        )
    )
    codes = assigned.groupBy("vec_id").agg(
        *[
            F.min(F.when(F.col("m") == m, F.col("dc"))).getField("code").alias(f"c{m}")
            for m in range(_PQ_M)
        ]
    )

    # ADC lookup tables: per (query, subspace) an array of _PQ_K
    # distances, pivoted to one row per query (M array columns). Bounded:
    # _PQ_QUERIES rows.
    qsub = _subspaces(emb.filter(F.col("vec_id") < _PQ_QUERIES)).withColumnRenamed(
        "vec_id", "q_id"
    )
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

    # Score: left-associated M-term sum of table lookups — the same
    # syntactic order as the oracle's nested (((t0 + t1) + t2) + ...).
    score = " + ".join(f"element_at(a{m}, c{m} + 1)" for m in range(_PQ_M))
    topk_w = Window.partitionBy("q_id").orderBy("adc_dist", "neighbor_id")
    return (
        codes.join(F.broadcast(wide), F.col("vec_id") != F.col("q_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.expr(score).alias("adc_dist"),
            "q_id",
        )
        .withColumn("rank", F.row_number().over(topk_w))
        .filter(F.col("rank") <= _PQ_TOP_K)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def _pq_oracle_ctes() -> list[str]:
    """The shared PQ oracle CTE chain — quantized vectors (``pq_qv``),
    subspace split, bounded training sample, _PQ_ITERS Lloyd rounds,
    per-vector codes (``pq_codes``) and per-query ADC lookup tables
    (``pq_dtab``). Reused verbatim by the IVF+PQ hybrid oracle
    (analytics8.py) so the two oracles can never train different
    codebooks."""
    qv_sql = (
        "list_transform(embedding,"
        " x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
    )
    dist = _SUB_L2_ORACLE.format(x="s.sub", c="c.cvec")
    dim_sums = ", ".join(f"SUM(sub[{i + 1}])" for i in range(_PQ_SUB))
    ctes = [
        f"pq_qv AS (SELECT vec_id, {qv_sql} AS qv FROM embeddings)",
        # The M subvectors of every vector, long form.
        "pq_sub AS ("
        + " UNION ALL ".join(
            f"SELECT vec_id, {m} AS m, qv[{m * _PQ_SUB + 1}:{(m + 1) * _PQ_SUB}] AS sub"
            " FROM pq_qv"
            for m in range(_PQ_M)
        )
        + ")",
        f"""pq_s AS (
  SELECT vec_id, m, sub FROM pq_sub
  WHERE vec_id % {_KM_SAMPLE_MOD} = 0 AND vec_id < {_KM_SAMPLE_CAP})""",
        f"""pq_c0 AS MATERIALIZED (
  SELECT m, ROW_NUMBER() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS code,
         list_transform(sub, v -> CAST(v AS DOUBLE)) AS cvec
  FROM pq_s QUALIFY code < {_PQ_K})""",
    ]
    for t in range(1, _PQ_ITERS + 1):
        ctes.append(f"""pq_a{t} AS MATERIALIZED (
  SELECT s.vec_id, s.m, s.sub, c.code,
         ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                            ORDER BY {dist} ASC, c.code ASC) AS rnk
  FROM pq_s s JOIN pq_c{t - 1} c ON s.m = c.m)""")
        ctes.append(f"""pq_u{t} AS (
  SELECT m, code, COUNT(*) AS cnt, list_value({dim_sums}) AS csum
  FROM pq_a{t} WHERE rnk = 1 GROUP BY m, code)""")
        ctes.append(f"""pq_c{t} AS MATERIALIZED (
  SELECT c.m, c.code,
         CASE WHEN u.cnt IS NULL THEN c.cvec
              ELSE list_transform(u.csum,
                                  s -> CAST(s AS DOUBLE) / CAST(u.cnt AS DOUBLE))
         END AS cvec
  FROM pq_c{t - 1} c LEFT JOIN pq_u{t} u ON c.m = u.m AND c.code = u.code)""")
    cb = f"pq_c{_PQ_ITERS}"
    ctes.append(f"""pq_codes AS (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, c.code,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {dist} ASC, c.code ASC) AS rnk
    FROM pq_sub s JOIN {cb} c ON s.m = c.m)
  WHERE rnk = 1)""")
    ctes.append(f"""pq_dtab AS (
  SELECT s.vec_id AS q_id, s.m, c.code, {dist} AS d
  FROM pq_sub s JOIN {cb} c ON s.m = c.m
  WHERE s.vec_id < {_PQ_QUERIES})""")
    return ctes


def _pq_scored_cte(from_sql: str, v: str, q: str) -> str:
    """``pq_scored`` CTE text: ADC-score every (query, vector) row that
    ``from_sql`` yields — ``{v}.vec_id`` / ``{q}.q_id`` name the two id
    columns — via the M code/table joins and the left-associated sum.
    Shared by the full-scan PQ oracle and the IVF-routed hybrid."""
    code_joins = "\n".join(
        f"JOIN pq_codes k{m} ON k{m}.vec_id = {v}.vec_id AND k{m}.m = {m}\n"
        f"JOIN pq_dtab t{m} ON t{m}.q_id = {q}.q_id AND t{m}.m = {m}"
        f" AND t{m}.code = k{m}.code"
        for m in range(_PQ_M)
    )
    adc = "t0.d"
    for m in range(1, _PQ_M):
        adc = f"({adc}) + t{m}.d"
    return f"""pq_scored AS (
  SELECT {q}.q_id AS query_id, {v}.vec_id AS neighbor_id, {adc} AS adc_dist
  FROM {from_sql}
  {code_joins}
  WHERE {v}.vec_id != {q}.q_id)"""


def _pq_oracle() -> str:
    """Full replay: quantization, per-subspace Lloyd training, encoding,
    ADC scoring — ends in the same (query_id, neighbor_id, adc_dist, rank)
    relation."""
    ctes = _pq_oracle_ctes()
    ctes.append(
        _pq_scored_cte(
            "(SELECT DISTINCT vec_id FROM pq_qv) v"
            "\n  CROSS JOIN (SELECT DISTINCT q_id FROM pq_dtab) q",
            v="v",
            q="q",
        )
    )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT query_id, neighbor_id, adc_dist, rank FROM (
  SELECT query_id, neighbor_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM pq_scored)
WHERE rank <= {_PQ_TOP_K}
"""
    )


QUERIES = {
    "sim_pq_adc_topk": sim_pq_adc_topk,
}

ORACLES = {
    "sim_pq_adc_topk": _pq_oracle(),
}
