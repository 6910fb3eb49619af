"""Round-11 operator wave: embedding-space clustering (Lloyd's k-means),
zone-map data skipping, the KMV/theta sketch, and curation-filter drift.

The north-star brief's similarity/curation rows need a FULL-CORPUS
clustering primitive: sim_ivf_topk's trainer (similarity._km_centroids)
runs its Lloyd rounds over a BOUNDED SAMPLE inside one applyInPandas
task — right for training an index, but corpus clustering (topic
balancing, SemDeDup's k-means stage) must assign and update over EVERY
vector, distributed. That distributed Lloyd iteration is what this
module adds, Spark-first with a full DuckDB value oracle by keeping
every quantity on an integer grid. The wave's other members share
that discipline: min/max zone-map skipping quantified over two layouts,
the set-operation sketch family (KMV/theta — union AND intersection),
and the total-variation-distance audit of what a curation filter does to
the corpus distribution.

Reference context: the reference engine (lua-mapreduce, 2012) has no
vector surface at all (one workload: word count,
example/word-count-taskfile.lua:73-159); this extends SURVEY.md §2.4's
similarity-search row the way the brief's training-data-pipeline list
specifies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, parallelize_scan
from lua_mapreduce_spark.functions.texthash import (
    md5_bigint_expr,
    oracle_md5_bigint_expr,
)

_KM_K = 8  # clusters (matches the IVF/SemDeDup cell count)
_KM_ROUNDS = 2  # Lloyd update rounds (unrolled; assignment after each)
_KM_SCALE = 10000  # global int grid: q = floor(v * SCALE + 0.5)
_KM_DIM = 64  # embedding width (TESTDATA.md)

# One GLOBAL grid, not sim_quantized_topk's per-vector max-abs scale:
# k-means compares DISTANCES BETWEEN vectors, so every coordinate must sit
# on the same lattice or the integer arithmetic stops being a metric.
_QGRID_SPARK = (
    "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE)"
    f" * {_KM_SCALE} + 0.5) AS BIGINT))"
)
_QGRID_DUCK = (
    "list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE)"
    f" * {_KM_SCALE} + 0.5) AS BIGINT))"
)

_SQDIST_SPARK = (
    "aggregate(zip_with(qv, cvec, (x, y) -> (x - y) * (x - y)),"
    " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)
_SQDIST_DUCK = (
    "list_sum(list_transform(list_zip(qv, cvec),"
    " p -> (p[1] - p[2]) * (p[1] - p[2])))"
)


def _km_assign(q: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, label, qv, cid, dist): each vector joined to its nearest
    centroid. The centroid relation is K rows — broadcast cross join, then
    the per-vector argmin is rn=1 over (dist, cid), which compiles to
    WindowGroupLimit: every map task truncates its K-row group before the
    exchange, so the shuffle carries one row per vector, not K."""
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    return (
        q.crossJoin(F.broadcast(cent))
        .withColumn("dist", F.expr(_SQDIST_SPARK))
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn", "cvec")
    )


def _km_update(assigned: DataFrame) -> DataFrame:
    """New centroids: per-dimension truncated mean of the assigned
    vectors, back on the SAME integer grid (sum DIV count — Spark DIV and
    DuckDB // both truncate toward zero, verified; counts are positive so
    the two agree even for negative sums). posexplode fans each vector
    into (cid, pos, val) rows that partial-aggregate map-side down to
    K*DIM groups; the bounded collect_list(struct(pos, dim)) reassembles
    <= DIM elements per centroid."""
    dims = (
        assigned.select("cid", F.posexplode("qv").alias("pos", "val"))
        .groupBy("cid", "pos")
        .agg(F.expr("CAST(SUM(val) DIV COUNT(*) AS BIGINT)").alias("dim"))
    )
    return dims.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "dim"))),
            lambda s: s["dim"],
        ).alias("cvec")
    )


def sim_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embeddings table, DETERMINISTIC end to
    end so the oracle replays every round bit-for-bit: vectors quantized
    to one global integer grid, init = the K lowest vec_ids (the seeded
    deterministic choice every engine can reproduce), per-round
    assignment by exact integer squared-L2 with (dist, cid) tiebreak,
    per-round update by truncated integer mean. _KM_ROUNDS update rounds
    unrolled (the BPE-merge convention: a fixed-depth iterative operator
    whose oracle unrolls the same CTE chain — and unlike
    similarity._km_centroids' bounded-sample single-task trainer, every
    round assigns and updates over the FULL corpus), then a final
    assignment
    against the settled centroids feeds the report: per-cluster size,
    inertia (the k-means objective), centroid checksum, and the dominant
    ground-truth label with its count (clustering-vs-label agreement —
    the purity signal an embedding-quality pipeline watches).

    Scale shape: each round is one broadcast cross join against K rows +
    one WindowGroupLimit shuffle (one row per vector) + one posexplode
    partial-agg whose exchange carries only K*DIM rows; centroid
    relations are localCheckpoint'd per round (8 rows — the graph-loop
    lineage-cut convention), so round r never recomputes rounds 1..r-1.
    Labels ride along the assignment; nothing driver-side."""
    q = parallelize_scan(
        spark,
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.col("label").cast("bigint").alias("label"),
            F.expr(_QGRID_SPARK).alias("qv"),
        ),
    )
    cent = (
        q.filter(F.col("vec_id") < _KM_K)
        .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cvec"))
    )
    for _ in range(_KM_ROUNDS):
        cent = _km_update(_km_assign(q, cent)).localCheckpoint(eager=True)
    final = _km_assign(q, cent)
    stats = final.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.expr("CAST(SUM(dist) AS BIGINT)").alias("inertia"),
    )
    purity = (
        final.groupBy("cid", "label")
        .agg(F.count(F.lit(1)).alias("n_lab"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cid").orderBy(
                    F.desc("n_lab"), F.asc("label")
                )
            ),
        )
        .filter("rn = 1")
        .select("cid", F.col("label").alias("dominant_label"),
                F.col("n_lab").alias("n_dominant"))
    )
    csum = cent.select(
        "cid",
        F.expr(
            "aggregate(cvec, CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("c_checksum"),
    )
    return (
        stats.join(purity, "cid")
        .join(F.broadcast(csum), "cid")
        .select(
            "cid", "n_vecs", "inertia", "c_checksum",
            "dominant_label", "n_dominant",
        )
    )


def _km_oracle() -> str:
    """Unrolled-round CTE chain (the BPE-learn oracle convention)."""
    parts = [
        f"""q AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label, {_QGRID_DUCK} AS qv
  FROM embeddings),
c0 AS (
  SELECT vec_id AS cid, qv AS cvec FROM q WHERE vec_id < {_KM_K})"""
    ]
    for r in range(_KM_ROUNDS):
        parts.append(
            f"""a{r} AS (
  SELECT vec_id, label, qv, cid, dist FROM (
    SELECT q.vec_id, q.label, q.qv, c.cid, {_SQDIST_DUCK} AS dist,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_SQDIST_DUCK}, c.cid) AS rn
    FROM q CROSS JOIN c{r} c)
  WHERE rn = 1),
c{r + 1} AS (
  SELECT cid, list(dim ORDER BY pos) AS cvec FROM (
    SELECT cid, t.pos, CAST(SUM(qv[t.pos + 1]) // COUNT(*) AS BIGINT) AS dim
    FROM a{r} CROSS JOIN (SELECT UNNEST(range({_KM_DIM})) AS pos) t
    GROUP BY cid, t.pos)
  GROUP BY cid)"""
        )
    rr = _KM_ROUNDS
    parts.append(
        f"""fin AS (
  SELECT vec_id, label, cid, dist FROM (
    SELECT q.vec_id, q.label, c.cid, {_SQDIST_DUCK} AS dist,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_SQDIST_DUCK}, c.cid) AS rn
    FROM q CROSS JOIN c{rr} c)
  WHERE rn = 1),
stats AS (
  SELECT cid, COUNT(*) AS n_vecs, CAST(SUM(dist) AS BIGINT) AS inertia
  FROM fin GROUP BY 1),
purity AS (
  SELECT cid, label AS dominant_label, n_lab AS n_dominant FROM (
    SELECT cid, label, COUNT(*) AS n_lab,
           ROW_NUMBER() OVER (PARTITION BY cid
                              ORDER BY COUNT(*) DESC, label) AS rn
    FROM fin GROUP BY cid, label)
  WHERE rn = 1),
csum AS (
  SELECT cid, CAST(list_sum(cvec) AS BIGINT) AS c_checksum FROM c{rr})"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT cid, n_vecs, inertia, c_checksum, dominant_label, n_dominant
FROM stats JOIN purity USING (cid) JOIN csum USING (cid)"""
    )


KMEANS_ORACLE = _km_oracle()


# --------------------------------------------------------------------------
# Zone-map data-skipping estimator (the quantified z-order motivation)
# --------------------------------------------------------------------------

_ZM_FILES = 32  # files per layout
_ZM_PREDS = 10  # probe predicates (decile ranges, half-decile width)


def layout_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max statistics) data-skipping estimator: how many
    files of a layout can a range predicate PROVABLY skip without
    reading them — the arithmetic every lakehouse scan planner runs
    against parquet footers / Delta file stats, and the quantitative WHY
    behind layout_zorder_keys and layout_compaction_rewrite.

    Two deterministic layouts of the documents table are compared under
    the SAME probe workload: ``ordered`` files hold contiguous doc_id
    ranges (file = doc_id DIV ceil(n/32) — what a sequential ingest
    writer produces), ``striped`` files hold doc_id % 32 (hash/round-robin
    placement). Ten decile range predicates probe both. Ordered zone maps
    are tight — most files' [min, max] misses the probe range and the
    skip ratio approaches (files - 1)/files; striped zone maps all span
    nearly the whole domain, so NOTHING skips — the measured reason
    clustering-by-filter-column matters at 100 TB, where the difference
    is reading one file versus all of them. ``rows_scanned_ub`` (the sum
    of surviving files' row counts) against ``rows_selected`` (the exact
    answer) bounds the wasted I/O per layout; zone maps are sound, so
    scanned >= selected always (asserted in tests/test_round11.py).

    Scale shape: zone maps build in ONE pass (stack() fans each row to
    its two layout placements map-side, one groupBy over <= 2*32 file
    groups); the probe matrix is a bounded (2*32 x 10) broadcast cross
    join over MANIFEST rows; exact selectivities come from one scan with
    the 10-row predicate table broadcast."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    mx = docs.agg(F.expr("CAST(MAX(doc_id) + 1 AS BIGINT)").alias("mx"))
    placed = docs.crossJoin(F.broadcast(mx)).selectExpr(
        "doc_id",
        f"doc_id DIV (1 + (mx - 1) DIV {_ZM_FILES}) AS f_ordered",
        f"doc_id % {_ZM_FILES} AS f_striped",
    )
    zones = (
        placed.selectExpr(
            "doc_id",
            "stack(2, 'ordered', f_ordered, 'striped', f_striped)"
            " AS (layout, file_id)",
        )
        .groupBy("layout", "file_id")
        .agg(
            F.expr("CAST(MIN(doc_id) AS BIGINT)").alias("min_id"),
            F.expr("CAST(MAX(doc_id) AS BIGINT)").alias("max_id"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    preds = (
        spark.range(_ZM_PREDS)
        .select(F.col("id").alias("pred_id"))
        .crossJoin(F.broadcast(mx))
        .selectExpr(
            "pred_id",
            f"(pred_id * mx) DIV {_ZM_PREDS} AS lo",
            f"(pred_id * mx) DIV {_ZM_PREDS} + (mx DIV 20) AS hi",
        )
    )
    probed = zones.crossJoin(F.broadcast(preds)).withColumn(
        "scanned", F.expr("max_id >= lo AND min_id < hi")
    )
    skip_stats = probed.groupBy("layout", "pred_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.expr(
            "CAST(SUM(CASE WHEN scanned THEN 0 ELSE 1 END) AS BIGINT)"
        ).alias("n_skipped"),
        F.expr(
            "CAST(SUM(CASE WHEN scanned THEN n_rows ELSE 0 END) AS BIGINT)"
        ).alias("rows_scanned_ub"),
    )
    truth = (
        docs.crossJoin(F.broadcast(preds))
        .filter("doc_id >= lo AND doc_id < hi")
        .groupBy("pred_id")
        .agg(F.count(F.lit(1)).alias("rows_selected"))
    )
    return skip_stats.join(truth, "pred_id", "left").select(
        "layout",
        "pred_id",
        "n_files",
        "n_skipped",
        F.expr("n_skipped * 1000 DIV n_files").alias("skip_permille"),
        "rows_scanned_ub",
        F.expr("CAST(COALESCE(rows_selected, 0) AS BIGINT)").alias(
            "rows_selected"
        ),
    )


ZONEMAP_ORACLE = f"""
WITH mx AS (SELECT CAST(MAX(doc_id) + 1 AS BIGINT) AS mx FROM documents),
placed AS (
  SELECT doc_id,
         doc_id // (1 + (mx - 1) // {_ZM_FILES}) AS f_ordered,
         doc_id % {_ZM_FILES} AS f_striped
  FROM documents, mx),
zones AS (
  SELECT layout, file_id,
         CAST(MIN(doc_id) AS BIGINT) AS min_id,
         CAST(MAX(doc_id) AS BIGINT) AS max_id,
         COUNT(*) AS n_rows
  FROM (
    SELECT doc_id, 'ordered' AS layout, f_ordered AS file_id FROM placed
    UNION ALL
    SELECT doc_id, 'striped', f_striped FROM placed)
  GROUP BY 1, 2),
preds AS (
  SELECT q.pred_id,
         (q.pred_id * mx) // {_ZM_PREDS} AS lo,
         (q.pred_id * mx) // {_ZM_PREDS} + (mx // 20) AS hi
  FROM (SELECT UNNEST(range({_ZM_PREDS})) AS pred_id) q, mx),
skip_stats AS (
  SELECT layout, pred_id, COUNT(*) AS n_files,
         CAST(SUM(CASE WHEN max_id >= lo AND min_id < hi
                       THEN 0 ELSE 1 END) AS BIGINT) AS n_skipped,
         CAST(SUM(CASE WHEN max_id >= lo AND min_id < hi
                       THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned_ub
  FROM zones CROSS JOIN preds GROUP BY 1, 2),
truth AS (
  SELECT pred_id, COUNT(*) AS rows_selected
  FROM documents CROSS JOIN preds
  WHERE doc_id >= lo AND doc_id < hi GROUP BY 1)
SELECT layout, pred_id, n_files, n_skipped,
       n_skipped * 1000 // n_files AS skip_permille,
       rows_scanned_ub,
       CAST(COALESCE(rows_selected, 0) AS BIGINT) AS rows_selected
FROM skip_stats LEFT JOIN truth USING (pred_id)
"""


# --------------------------------------------------------------------------
# KMV / theta sketch: mergeable distinct-count + set-operation estimates
# --------------------------------------------------------------------------

_KMV_K = 128  # sketch size (relative error ~ 1/sqrt(k-1) ~ 8.9%)
_KMV_DOM = 1 << 40  # hash domain (md5_60 folded; 40 bits keeps every
# product below 2^48, far from BIGINT overflow under ANSI mode)


def agg_kmv_theta_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values / theta sketch (Bar-Yossef et al. 2002; Dasgupta
    et al., "Theta Sketch Framework", 2016 — the DataSketches family):
    keep the K smallest hash values of a set; the Kth smallest estimates
    the density, so distinct ~= (K-1) * DOMAIN / theta, and two sketches
    COMPOSE — union = K smallest of the merged sketches, intersection =
    |common values below min(theta_a, theta_b)| * DOMAIN / theta. This is
    the sketch family that, unlike HLL (agg_approx_distinct_sketch),
    supports INTERSECTION estimates — the audience-overlap / join-size
    planning primitive. Every quantity here is a deterministic md5
    integer, so the oracle replays sketch construction AND estimation
    bit-for-bit, and the output carries exact counts alongside the
    estimates with their error in permille (accuracy bounds asserted in
    tests/test_round11.py).

    Sets: urgent orders vs above-mean-value orders (the mean threshold is
    an integer cross-multiplication against a 1-row broadcast total, the
    scale-free-threshold rule). Both sets far exceed K at every SF.

    Scale shape: ONE scan builds both sketch member streams map-side
    (stack) and the per-set K-min compiles to WindowGroupLimit — each map
    task truncates to K rows per set before the exchange, so the shuffle
    carries <= tasks * 2K rows no matter the input size (the fixed-size
    sketch property, materialized in the plan); exact counts for the
    accuracy report are one conditional aggregate on a second scan. The
    1-row totals aggregate behind ``high_value`` is not materialized, so
    the executed plan reads orders 4 times. The <= 2K-row
    sketch relation is localCheckpoint'd and reused by the per-set,
    union, and intersection estimates."""
    h = md5_bigint_expr("concat('kmv-', CAST(o_orderkey AS STRING))")
    orders = load_table(spark, sf_dir, "orders")
    tot = orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr("CAST(SUM(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)").alias(
            "total_cents"
        ),
    )
    base = orders.crossJoin(F.broadcast(tot)).select(
        F.expr(f"{h} % {_KMV_DOM}").alias("h"),
        F.expr("o_orderpriority = '1-URGENT'").alias("in_a"),
        F.expr(
            "CAST(round(o_totalprice * 100.0) AS BIGINT) * n_orders"
            " >= total_cents"
        ).alias("in_b"),
    )
    exact = base.selectExpr(
        "stack(4,"
        " 'urgent',       CASE WHEN in_a THEN 1 ELSE 0 END,"
        " 'high_value',   CASE WHEN in_b THEN 1 ELSE 0 END,"
        " 'union',        CASE WHEN in_a OR in_b THEN 1 ELSE 0 END,"
        " 'intersection', CASE WHEN in_a AND in_b THEN 1 ELSE 0 END)"
        " AS (set_name, m)"
    ).groupBy("set_name").agg(F.expr("CAST(SUM(m) AS BIGINT)").alias("exact_n"))
    members = base.selectExpr(
        "h", "stack(2, 'urgent', in_a, 'high_value', in_b) AS (s, m)"
    ).filter("m")
    w = Window.partitionBy("s").orderBy("h")
    sk = (
        members.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .select("s", "h")
        # Kept: 0.81 -> 0.94 s at sf0.01 without it (tools/checkpoint_sweep.py).
        .localCheckpoint(eager=True)
    )
    per_set = sk.groupBy("s").agg(
        F.count(F.lit(1)).alias("n_sk"),
        F.expr("CAST(MAX(h) AS BIGINT)").alias("theta"),
    )
    est_sets = per_set.select(
        F.col("s").alias("set_name"),
        F.expr(
            f"CASE WHEN n_sk < {_KMV_K} THEN n_sk"
            f" ELSE ({_KMV_K} - 1) * CAST({_KMV_DOM} AS BIGINT) DIV theta END"
        ).alias("est_n"),
    )
    # Unpartitioned (single-partition) sort is SAFE here: the input is
    # the localCheckpoint'd `sk` relation, <= 2 sets * K = 2K rows by
    # construction at ANY scale factor (the WindowGroupLimit above
    # truncated each set to K before the exchange).
    wu = Window.orderBy("h")
    uni = (
        sk.select("h")
        .distinct()
        .withColumn("rn", F.row_number().over(wu))
        .filter(F.col("rn") <= _KMV_K)
    )
    est_union = uni.agg(
        F.expr(
            f"CASE WHEN COUNT(*) < {_KMV_K} THEN COUNT(*)"
            f" ELSE ({_KMV_K} - 1) * CAST({_KMV_DOM} AS BIGINT) DIV MAX(h) END"
        ).alias("est_n")
    ).select(F.lit("union").alias("set_name"), "est_n")
    theta_min = per_set.agg(
        F.expr("CAST(MIN(theta) AS BIGINT)").alias("theta")
    )
    common = (
        sk.filter("s = 'urgent'")
        .select("h")
        .join(sk.filter("s = 'high_value'").select("h"), "h", "semi")
        .crossJoin(F.broadcast(theta_min))
        .filter("h < theta")
    )
    # count first, THEN divide by theta: an empty common set must yield
    # est 0 (0 DIV theta), never NULL (0 * DOM DIV MAX(theta) over no
    # rows) — the oracle's scalar-subquery form yields 0.
    est_inter = (
        common.agg(F.count(F.lit(1)).alias("n_common"))
        .crossJoin(F.broadcast(theta_min))
        .select(
            F.lit("intersection").alias("set_name"),
            F.expr(f"n_common * CAST({_KMV_DOM} AS BIGINT) DIV theta").alias(
                "est_n"
            ),
        )
    )
    ests = est_sets.unionAll(est_union).unionAll(est_inter)
    # exact_n = 0 guard (r11 ADVICE): at a new SF an empty intersection
    # would otherwise divide by zero (ANSI-mode failure); NULL says
    # "error undefined for an empty set", identically on both engines.
    return exact.join(ests, "set_name").select(
        "set_name",
        "exact_n",
        "est_n",
        F.expr(
            "CASE WHEN exact_n = 0 THEN NULL"
            " ELSE abs(est_n - exact_n) * 1000 DIV exact_n END"
        ).alias("err_permille"),
    )


def _kmv_oracle() -> str:
    h = oracle_md5_bigint_expr("concat('kmv-', CAST(o_orderkey AS VARCHAR))")
    return f"""
WITH tot AS (
  SELECT COUNT(*) AS n_orders,
         CAST(SUM(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
           AS total_cents
  FROM orders),
base AS (
  SELECT {h} % {_KMV_DOM} AS h,
         o_orderpriority = '1-URGENT' AS in_a,
         CAST(round(o_totalprice * 100.0) AS BIGINT) * n_orders
           >= total_cents AS in_b
  FROM orders, tot),
exact AS (
  SELECT 'urgent' AS set_name,
         CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS exact_n
  FROM base
  UNION ALL SELECT 'high_value',
         CAST(SUM(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) FROM base
  UNION ALL SELECT 'union',
         CAST(SUM(CASE WHEN in_a OR in_b THEN 1 ELSE 0 END) AS BIGINT)
  FROM base
  UNION ALL SELECT 'intersection',
         CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
  FROM base),
members AS (
  SELECT h, 'urgent' AS s FROM base WHERE in_a
  UNION ALL SELECT h, 'high_value' FROM base WHERE in_b),
sk AS (
  SELECT s, h FROM (
    SELECT s, h, ROW_NUMBER() OVER (PARTITION BY s ORDER BY h) AS rn
    FROM members) WHERE rn <= {_KMV_K}),
per_set AS (
  SELECT s, COUNT(*) AS n_sk, CAST(MAX(h) AS BIGINT) AS theta
  FROM sk GROUP BY 1),
est_sets AS (
  SELECT s AS set_name,
         CASE WHEN n_sk < {_KMV_K} THEN n_sk
              ELSE ({_KMV_K} - 1) * CAST({_KMV_DOM} AS BIGINT) // theta END
           AS est_n
  FROM per_set),
uni AS (
  SELECT h FROM (
    SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
    FROM (SELECT DISTINCT h FROM sk)) WHERE rn <= {_KMV_K}),
est_union AS (
  SELECT 'union' AS set_name,
         CASE WHEN COUNT(*) < {_KMV_K} THEN COUNT(*)
              ELSE ({_KMV_K} - 1) * CAST({_KMV_DOM} AS BIGINT) // MAX(h) END
           AS est_n
  FROM uni),
theta_min AS (SELECT CAST(MIN(theta) AS BIGINT) AS theta FROM per_set),
est_inter AS (
  SELECT 'intersection' AS set_name,
         COUNT(*) * CAST({_KMV_DOM} AS BIGINT) // (SELECT theta FROM theta_min)
           AS est_n
  FROM (SELECT a.h FROM sk a JOIN sk b ON a.h = b.h
        WHERE a.s = 'urgent' AND b.s = 'high_value'
          AND a.h < (SELECT theta FROM theta_min))),
ests AS (
  SELECT * FROM est_sets
  UNION ALL SELECT * FROM est_union
  UNION ALL SELECT * FROM est_inter)
SELECT set_name, exact_n, est_n,
       CASE WHEN exact_n = 0 THEN NULL
            ELSE abs(est_n - exact_n) * 1000 // exact_n END AS err_permille
FROM exact JOIN ests USING (set_name)
"""


KMV_ORACLE = _kmv_oracle()


# --------------------------------------------------------------------------
# Curation filter drift (total-variation distance, integer-exact)
# --------------------------------------------------------------------------

_FD_BINS = 10  # equal-width n_chars bins over the data-derived max
_FD_DROP_MOD = 10  # md5 % 10 < 3 -> ~30% of below-mean docs dropped
_FD_DROP_LT = 3


def curation_filter_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantify the distribution shift a curation filter causes — the
    audit every pipeline owes its consumers after a quality pass: here
    the filter drops an md5-selected ~30% of BELOW-MEAN-length documents
    (the scale-free mean threshold, integer cross-multiplication), and
    the report bins the length distribution before and after into 10
    equal-width data-derived bins and emits per-bin counts plus the
    total-variation distance in permille. TVD stays integer-exact via
    cross-multiplication: contrib = |n_base * N_after - n_after *
    N_base|, tvd = 500 * sum(contrib) DIV (N_base * N_after) — products
    stay below 2^62 to ~1.5 billion documents. The shift concentrates in
    the low bins (that is what dropping short docs does), so the gate
    verifies both the measurement arithmetic and the filter's shape.

    Scale shape: ONE scan (bin id and drop flag are map-side
    expressions against a 1-row broadcast max/mean aggregate, which
    reads the table once more: 2 executed scans), one
    10-key groupBy whose partial aggregates reduce each map task to
    <= _FD_BINS rows before the exchange, and the TVD total is a window
    over the bounded 10-row binned relation."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr("CAST(n_chars AS BIGINT)").alias("n_chars")
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("CAST(MAX(n_chars) AS BIGINT)").alias("max_chars"),
        F.expr("CAST(SUM(n_chars) AS BIGINT)").alias("total_chars"),
    )
    h = md5_bigint_expr("concat('fd-', CAST(doc_id AS STRING))")
    binned = docs.crossJoin(F.broadcast(stats)).select(
        F.expr(f"n_chars * {_FD_BINS} DIV (max_chars + 1)").alias("bin"),
        F.expr(
            f"NOT ({h} % {_FD_DROP_MOD} < {_FD_DROP_LT}"
            " AND n_chars * n_docs < total_chars)"
        ).alias("kept"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_base"),
        F.expr("CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)").alias(
            "n_after"
        ),
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        per_bin.withColumn("tot_base", F.expr("SUM(n_base)").over(w))
        .withColumn("tot_after", F.expr("SUM(n_after)").over(w))
        .withColumn(
            "contrib",
            F.expr("abs(n_base * tot_after - n_after * tot_base)"),
        )
        .withColumn(
            "tvd_permille",
            F.expr("500 * SUM(contrib) OVER () DIV (tot_base * tot_after)"),
        )
        .select(
            "bin",
            "n_base",
            "n_after",
            F.expr("n_base - n_after").alias("n_dropped"),
            "contrib",
            "tvd_permille",
        )
    )


FILTER_DRIFT_ORACLE = f"""
WITH stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(MAX(n_chars) AS BIGINT) AS max_chars,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars
  FROM documents),
binned AS (
  SELECT CAST(n_chars AS BIGINT) * {_FD_BINS} // (max_chars + 1) AS bin,
         NOT ({oracle_md5_bigint_expr("concat('fd-', CAST(doc_id AS VARCHAR))")}
                % {_FD_DROP_MOD} < {_FD_DROP_LT}
              AND CAST(n_chars AS BIGINT) * n_docs < total_chars) AS kept
  FROM documents, stats),
per_bin AS (
  SELECT bin, COUNT(*) AS n_base,
         CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_after
  FROM binned GROUP BY 1),
tot AS (
  SELECT *, CAST(SUM(n_base) OVER () AS BIGINT) AS tot_base,
         CAST(SUM(n_after) OVER () AS BIGINT) AS tot_after
  FROM per_bin),
contribs AS (
  SELECT *, CAST(abs(n_base * tot_after - n_after * tot_base) AS BIGINT)
              AS contrib
  FROM tot)
SELECT bin, n_base, n_after, n_base - n_after AS n_dropped, contrib,
       500 * CAST(SUM(contrib) OVER () AS BIGINT)
         // CAST(tot_base * tot_after AS BIGINT) AS tvd_permille
FROM contribs
"""


QUERIES = {
    "sim_kmeans_lloyd": sim_kmeans_lloyd,
    "layout_zonemap_skipping": layout_zonemap_skipping,
    "agg_kmv_theta_sketch": agg_kmv_theta_sketch,
    "curation_filter_drift": curation_filter_drift,
}

ORACLES = {
    "sim_kmeans_lloyd": KMEANS_ORACLE,
    "layout_zonemap_skipping": ZONEMAP_ORACLE,
    "agg_kmv_theta_sketch": KMV_ORACLE,
    "curation_filter_drift": FILTER_DRIFT_ORACLE,
}
