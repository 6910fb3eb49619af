"""Round-10 operator wave: weighted reservoir sampling (Efraimidis-
Spirakis A-ES) and crawl-frontier URL dedup.

Both are LLM-training-pipeline staples the north-star brief calls for —
weighted corpus subsampling (quality-weighted mixture draws) and
per-domain frontier compaction (canonicalize-then-keep-latest over crawl
fetches) — expressed as single-pass / single-shuffle DataFrame plans with
full DuckDB value oracles.

Reference context: the reference engine has no sampling or dedup surface
at all (its one workload is word count, example/word-count-taskfile.lua);
these extend the engine the way SURVEY.md §2.4's north-star rows specify.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table
from lua_mapreduce_spark.functions.texthash import (
    md5_bigint_expr,
    oracle_md5_bigint_expr,
)

# --------------------------------------------------------------------------
# Weighted reservoir sample (Efraimidis-Spirakis A-ES, deterministic)
# --------------------------------------------------------------------------

_AES_K = 100  # sample size
_AES_TWO60 = 1 << 60  # md5 hash domain (texthash convention)


def curation_weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted sample WITHOUT replacement: Efraimidis-Spirakis
    algorithm A-ES (Inf. Process. Lett. 97(5), 2006) with a DETERMINISTIC
    uniform draw so the oracle replays it — u_i = (md5_60(key) + 0.5) /
    2^60, and the selection is the k rows minimizing the exponential race
    key e_i = -ln(u_i) / w_i (order-equivalent to the paper's max
    u_i^(1/w_i) form; +0.5 keeps u strictly inside (0,1) so ln is
    finite). Inclusion probability is proportional-to-size without
    replacement — the quality-weighted corpus subsample primitive.

    Scale shape: ONE scan; the k-row selection compiles to
    TakeOrderedAndProject (per-partition top-k heaps + driver merge of
    n_partitions*k rows), never a global sort and never a shuffle of the
    data. Output carries only integer columns (the double race key stays
    internal; cross-engine float equality is only ever needed for the
    ORDER, where adjacent-key gaps are ~1e-4 relative — 11 decimal
    orders above last-ulp libm divergence, re-verified empirically at
    sf0.01 and sf0.1 in tests/test_round10.py)."""
    h = md5_bigint_expr("concat('order-', CAST(o_orderkey AS STRING))")
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").alias(
                "weight_cents"
            ),
            # Everything double-typed EXPLICITLY: a bare decimal literal
            # would make the division DECIMAL arithmetic, whose rounding
            # rules differ between engines; double division is IEEE on
            # both. 2^60 is exactly representable as a double.
            F.expr(
                f"-ln((CAST({h} AS DOUBLE) + 0.5d)"
                f" / CAST({_AES_TWO60} AS DOUBLE))"
                " / CAST(round(o_totalprice * 100.0) AS BIGINT)"
            ).alias("_e"),
        )
        # o_orderkey as deterministic tiebreak: an exact float tie in the
        # race key at the k/k+1 boundary must never make the selection
        # engine/partition-order dependent (r10 ADVICE; the stratified
        # twin below already does this).
        .orderBy("_e", "o_orderkey")
        .limit(_AES_K)
        .drop("_e")
    )


WEIGHTED_SAMPLE_AES_ORACLE = f"""
SELECT o_orderkey, o_orderpriority,
       CAST(round(o_totalprice * 100.0) AS BIGINT) AS weight_cents
FROM orders
ORDER BY -ln((CAST({oracle_md5_bigint_expr(
    "concat('order-', CAST(o_orderkey AS VARCHAR))")} AS DOUBLE) + 0.5)
             / CAST({_AES_TWO60} AS DOUBLE))
         / CAST(round(o_totalprice * 100.0) AS BIGINT),
         o_orderkey
LIMIT {_AES_K}
"""


# --------------------------------------------------------------------------
# Crawl-frontier dedup (canonicalize URL, keep latest fetch per page)
# --------------------------------------------------------------------------


def _raw_url_expr(engine: str) -> str:
    """Deterministic synthetic fetch log over documents: every doc_id is
    one fetch of a URL needing canonicalization — mixed host case, www.
    prefixes, tracking query strings, fragments, trailing slashes —
    derived purely from (doc_id, source) so both engines build the
    identical log (the cdc_apply_changelog convention: the op's INPUT is
    synthesized in-query, its SEMANTICS are what the gate checks).
    The page modulus (100) is chosen against the generator's source
    cycle (source = src{{doc_id %% 20}}; 100 is a multiple of 20) so
    every canonical page really is re-fetched ~|docs|/100 times at EVERY
    sf — ~5x at the smallest parity SF — keeping the keep-latest rule
    non-vacuous where the driver gate runs (the lesson of the r9 CDC
    insert-offset advice)."""
    del engine  # same SQL both sides; the oracle swaps STRING -> VARCHAR
    return (
        "concat('https://', "
        " CASE WHEN doc_id % 3 = 0 THEN 'WWW.' "
        "      WHEN doc_id % 3 = 1 THEN 'www.' ELSE '' END, "
        " CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END, "
        " '.example.com/page/', CAST(doc_id % 100 AS STRING), "
        " CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END, "
        " CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed' "
        "      WHEN doc_id % 4 = 1 THEN '#section-2' ELSE '' END)"
    )


def _canon_expr(engine: str, url: str) -> str:
    """Canonicalization pipeline, identical SQL on both engines (only
    split_part/lower/replace/trim — no regex dialect to diverge on):
    strip fragment, strip query, lowercase, drop www., drop trailing /."""
    x = f"split_part({url}, '#', 1)"
    x = f"split_part({x}, '?', 1)"
    x = f"lower({x})"
    x = f"replace({x}, '://www.', '://')"
    x = f"trim(TRAILING '/' FROM {x})"
    return x


def dedup_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier compaction: canonicalize every fetched URL, keep
    the LATEST fetch per canonical page (max fetch sequence = the
    recrawl-wins rule), report per-domain frontier stats. This is the
    dedup step every web-scale corpus ingest runs before text
    extraction — URL-level, upstream of content-level dedup
    (dedup_exact / minhash handle that).

    Scale shape: canonicalization is pure map-side string work (no
    regex, no Python); keep-latest is ONE hash shuffle on the canonical
    URL with rn=1 compiling to WindowGroupLimit (per-key runs truncate
    map-side before the exchange); the per-domain rollup re-groups the
    already-deduped (small) frontier."""
    docs = load_table(spark, sf_dir, "documents")
    raw = _raw_url_expr("spark")
    canon = _canon_expr("spark", "raw_url")
    from pyspark.sql import Window

    fetches = docs.select(
        F.col("doc_id").alias("fetch_seq"),
        F.expr(raw).alias("raw_url"),
    ).select("fetch_seq", F.expr(canon).alias("canon_url"))
    w = Window.partitionBy("canon_url").orderBy(F.desc("fetch_seq"))
    kept = (
        fetches.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return kept.groupBy(
        F.expr("split_part(canon_url, '/', 3)").alias("domain")
    ).agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.expr("CAST(SUM(fetch_seq) AS BIGINT)").alias("kept_checksum"),
        F.expr("CAST(MAX(fetch_seq) AS BIGINT)").alias("latest_fetch"),
        F.expr("CAST(MIN(length(canon_url)) AS BIGINT)").alias("min_url_len"),
        F.expr("CAST(MAX(length(canon_url)) AS BIGINT)").alias("max_url_len"),
    )


CRAWL_FRONTIER_ORACLE = f"""
WITH fetches AS (
  SELECT doc_id AS fetch_seq,
         {_canon_expr("oracle", _raw_url_expr("oracle").replace(
             "AS STRING", "AS VARCHAR"))} AS canon_url
  FROM documents),
kept AS (
  SELECT fetch_seq, canon_url FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY canon_url
                                 ORDER BY fetch_seq DESC) AS rn
    FROM fetches)
  WHERE rn = 1)
SELECT split_part(canon_url, '/', 3) AS domain,
       COUNT(*) AS n_pages,
       CAST(SUM(fetch_seq) AS BIGINT) AS kept_checksum,
       CAST(MAX(fetch_seq) AS BIGINT) AS latest_fetch,
       CAST(MIN(length(canon_url)) AS BIGINT) AS min_url_len,
       CAST(MAX(length(canon_url)) AS BIGINT) AS max_url_len
FROM kept GROUP BY 1
"""


# --------------------------------------------------------------------------
# Stratified weighted sample (A-ES per stratum, late-r10 — SURVEY §7.4.2)
# --------------------------------------------------------------------------

_SAES_K = 20  # per-stratum sample size


def curation_stratified_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum Efraimidis-Spirakis A-ES: within every language, the
    _SAES_K documents minimizing the deterministic exponential race key
    -ln(u)/w with w = n_chars — the quality-weighted PER-BUCKET corpus
    subsample (e.g. "k docs per language, long docs favored"), composing
    curation_weighted_sample_aes's race-key construction with the
    stratified-quota machinery. doc_id is the total-order tiebreak, so
    the selection is deterministic even under (impossible-in-practice)
    race-key ties.

    Scale shape: ONE scan; the per-stratum top-k is row_number over
    (PARTITION BY lang ORDER BY race) <= k, which Spark compiles to
    WindowGroupLimit — per-partition per-stratum heaps truncate map-side
    BEFORE the exchange, so the shuffle carries at most
    n_partitions * n_strata * k rows, never the corpus. Same double-
    arithmetic discipline as the global A-ES face (explicit doubles
    everywhere; the only float-order sensitivity is the rank-k/k+1
    boundary, margin-tested in tests/test_round10_tpch.py)."""
    from pyspark.sql import Window

    h = md5_bigint_expr("concat('doc-', CAST(doc_id AS STRING))")
    race = (
        f"-ln((CAST({h} AS DOUBLE) + 0.5d) / CAST({_AES_TWO60} AS DOUBLE))"
        " / CAST(n_chars AS DOUBLE)"
    )
    w = Window.partitionBy("lang").orderBy(F.expr(race).asc(), F.col("doc_id"))
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= _SAES_K)
    )


_SAES_ORACLE_H = oracle_md5_bigint_expr("concat('doc-', CAST(doc_id AS VARCHAR))")
_SAES_ORACLE_RACE = (
    f"-ln((CAST({_SAES_ORACLE_H} AS DOUBLE) + 0.5)"
    f" / CAST({_AES_TWO60} AS DOUBLE))"
    " / CAST(n_chars AS DOUBLE)"
)

STRATIFIED_SAMPLE_ORACLE = f"""
SELECT doc_id, lang, n_chars, sample_rank
FROM (
  SELECT doc_id, lang, n_chars,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                 ORDER BY {_SAES_ORACLE_RACE}, doc_id)
              AS INT) AS sample_rank
  FROM documents)
WHERE sample_rank <= {_SAES_K}
"""


# --------------------------------------------------------------------------
# End-to-end sink compaction (OPTIMIZE rewrite, late-r10 — SURVEY §7.4.4)
# --------------------------------------------------------------------------

_CRW_TARGET = 16384  # bin target, logical chars (stand-in for bytes)


def layout_compaction_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse OPTIMIZE cycle END-TO-END, composing the r9
    compaction planner's binning algebra (layout_compaction_bins) with a
    real small-files write and rewrite: (1) write documents as one
    parquet file per (lang, source) partition directory — the small-file
    layout an hourly ingest leaves behind; (2) build the file manifest
    DISTRIBUTED, from input_file_name() over the written files (never a
    driver-side listing loop — a 100 TB table's manifest is millions of
    rows and must itself be a table); (3) plan target-sized bins with
    the cumulative-offset window over per-group LOGICAL sizes (sum of
    n_chars — deterministic, so the oracle replays the plan; physical
    parquet bytes differ per encoder and can never be oracle'd);
    (4) rewrite: route rows to bins through a broadcast of the
    (schema-bounded, strata x sources) plan and ONE bin-partitioned
    shuffle, writing the compacted layout; (5) read the COMPACTED files
    back and aggregate. The oracle replays (3)+(5) from the raw table,
    and its per-bin ``n_files_in`` counts one file per source group — so
    the gate itself verifies the one-file-per-partition-dir write
    contract: if the small write ever splits a group across files, the
    Spark-side SUM(n_files) diverges and the query goes red.

    Scale shape: the plan runs over the MANIFEST (one row per file),
    never the data; the rewrite is one broadcast-routed shuffle
    partitioned exactly like the output layout; nothing driver-side
    except the bounded localCheckpoint that pins results before the
    temp directory is removed (the sink-face convention,
    sources_ops.sink_python_datasource)."""
    import shutil as _shutil
    import tempfile as _tempfile

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.expr("CAST(n_chars AS BIGINT)").alias("bytes"),
    )
    work = _tempfile.mkdtemp(prefix="lmrs_compact_")
    small, compact = f"{work}/small", f"{work}/compact"
    try:
        (
            docs.repartition(F.col("lang"), F.col("source"))
            .write.mode("overwrite")
            .partitionBy("lang", "source")
            .parquet(small)
        )
        back = spark.read.parquet(small)
        manifest = (
            back.select("lang", "source", F.input_file_name().alias("f"))
            .groupBy("lang", "source")
            .agg(F.countDistinct("f").alias("n_files"))
        )
        groups = docs.groupBy("lang", "source").agg(
            F.expr("CAST(SUM(bytes) AS BIGINT)").alias("grp_bytes")
        )
        planned = groups.withColumn(
            "bin",
            F.expr(
                "CAST((SUM(grp_bytes) OVER (PARTITION BY lang ORDER BY source"
                f" ROWS UNBOUNDED PRECEDING) - grp_bytes) DIV {_CRW_TARGET}"
                " AS BIGINT)"
            ),
        )
        plan = planned.join(manifest, ["lang", "source"])
        route = plan.select("lang", "source", "bin")
        (
            back.join(F.broadcast(route), ["lang", "source"])
            .repartition(F.col("lang"), F.col("bin"))
            .write.mode("overwrite")
            .partitionBy("lang", "bin")
            .parquet(compact)
        )
        comp = spark.read.parquet(compact)
        out = (
            comp.select(
                "lang", F.col("bin").cast("bigint").alias("bin"), "doc_id", "bytes"
            )
            .groupBy("lang", "bin")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.expr("CAST(SUM(bytes) AS BIGINT)").alias("bin_bytes"),
                F.expr("CAST(SUM(doc_id) AS BIGINT)").alias("doc_checksum"),
            )
        )
        files_in = plan.groupBy("lang", "bin").agg(
            F.expr("CAST(SUM(n_files) AS BIGINT)").alias("n_files_in")
        )
        # Kept: it holds rows read from files the query deletes before returning.
        return out.join(files_in, ["lang", "bin"]).localCheckpoint(eager=True)
    finally:
        _shutil.rmtree(work, ignore_errors=True)


COMPACTION_REWRITE_ORACLE = f"""
WITH groups AS (
  SELECT lang, source,
         CAST(SUM(n_chars) AS BIGINT) AS grp_bytes,
         COUNT(*) AS n_docs,
         CAST(SUM(doc_id) AS BIGINT) AS checksum
  FROM documents GROUP BY 1, 2),
planned AS (
  SELECT lang, source, grp_bytes, n_docs, checksum,
         CAST((SUM(grp_bytes) OVER (PARTITION BY lang ORDER BY source
               ROWS UNBOUNDED PRECEDING) - grp_bytes) // {_CRW_TARGET}
              AS BIGINT) AS bin
  FROM groups)
SELECT lang, bin,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(grp_bytes) AS BIGINT) AS bin_bytes,
       CAST(SUM(checksum) AS BIGINT) AS doc_checksum,
       COUNT(*) AS n_files_in
FROM planned GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Record linkage: blocking join + Fellegi-Sunter-style scoring (late-r10,
# freshly-banked r11 candidate 3 pulled forward)
# --------------------------------------------------------------------------

_RL_MATCH = 60  # classify: score >= _RL_MATCH -> match
_RL_POSSIBLE = 30  # _RL_POSSIBLE <= score < _RL_MATCH -> possible


def _rl_hash(tag: str, spark_side: bool) -> str:
    cast = "STRING" if spark_side else "VARCHAR"
    h = md5_bigint_expr if spark_side else oracle_md5_bigint_expr
    return h(f"concat('{tag}|', CAST(c_custkey AS {cast}))")


def _rl_dirty_view(spark_side: bool, from_tbl: str = "customer") -> str:
    """Engine-shared SELECT body deriving the 'second source' B from
    customer: deterministic md5-keyed field corruption — name case
    flip / truncation / suffix noise, balance drift, segment dropout —
    plus 10% of rows missing entirely. The corruption never touches name
    characters 10..17 (the first 8 of the 9 key digits — truncation
    drops char 18, the suffix appends at 19, case doesn't affect
    digits), so the BLOCKING key survives every perturbation (the
    realistic design rule: block on the stable part of the field) and
    recall stays 100% by construction; precision is what the scoring
    then has to earn."""
    h1, h2, h3, h4 = (_rl_hash(t, spark_side) for t in ("rlnm", "rlbal", "rlmkt", "rlkeep"))
    return f"""
  SELECT c_custkey AS b_entity,
         CASE {h1} % 4
           WHEN 0 THEN c_name
           WHEN 1 THEN lower(c_name)
           WHEN 2 THEN substr(c_name, 1, length(c_name) - 1)
           ELSE concat(c_name, 'x') END AS b_name,
         c_nationkey AS b_nationkey,
         CAST(round(c_acctbal * 100.0) AS BIGINT)
           + CASE WHEN {h2} % 5 = 0 THEN 37 ELSE 0 END AS b_cents,
         CASE WHEN {h3} % 10 = 0 THEN 'UNKNOWN'
              ELSE c_mktsegment END AS b_mkt
  FROM {from_tbl}
  WHERE {h4} % 10 <> 0"""


# Engine-shared scoring expression over joined (a_*, b_*) pair columns:
# integer Fellegi-Sunter-style agreement weights per field.
_RL_SCORE = """
  CASE WHEN a_name = b_name THEN 40
       WHEN lower(a_name) = lower(b_name) THEN 25
       WHEN substr(a_name, 1, 15) = substr(b_name, 1, 15) THEN 10
       ELSE 0 END
+ CASE WHEN a_cents = b_cents THEN 20
       WHEN abs(a_cents - b_cents) <= 50 THEN 10
       ELSE 0 END
+ CASE WHEN a_mkt = b_mkt THEN 15 ELSE 0 END
+ CASE WHEN a_nationkey = b_nationkey THEN 5 ELSE 0 END"""


def dedup_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution between two 'sources' (customer and a
    deterministically corrupted derivation of it): BLOCKING join on the
    perturbation-stable name-digit prefix, integer field-agreement
    scoring (name/balance/segment/nation weights), three-way match/possible/non_match classification, and a
    per-class evaluation rollup (pair count, TRUE-entity count — the
    ground truth rides along as b_entity — and the score range). This is
    the cross-source entity-dedup primitive that content-level dedup
    (minhash/simhash) doesn't cover.

    Scale shape: candidate pairs come ONLY from the blocking equi-join —
    a hash join on the block key whose per-block size is EXACTLY the ~10
    decade-mates (all 8 stable digits = key DIV 10) at EVERY scale, so
    candidates grow linearly with the table, never n². (The first cut of
    this query blocked on the FIRST 5 digits — nearly constant under
    zero-padding, hence quadratic: 4.5M pairs at sf0.1. Block keys must
    be high-cardinality in the DATA, not just long in the schema.) Scoring is pure map-side integer CASE arithmetic; the
    rollup groups a 3-value enum. The design rule the synthesis encodes:
    corrupt fields however you like, but block on the part you DIDN'T
    corrupt — recall is structural, precision is scored."""
    # Unique view name: shadowing a session-wide `customer` view from
    # inside one query function would leak into every later query on the
    # shared session.
    spark_dirty = _rl_dirty_view(True, from_tbl="lmrs_rl_customer_v")
    cust = load_table(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("lmrs_rl_customer_v")
    a = cust.select(
        F.col("c_custkey").alias("a_entity"),
        F.col("c_name").alias("a_name"),
        F.col("c_nationkey").alias("a_nationkey"),
        F.expr("CAST(round(c_acctbal * 100.0) AS BIGINT)").alias("a_cents"),
        F.col("c_mktsegment").alias("a_mkt"),
    )
    b = spark.sql(f"SELECT * FROM ({spark_dirty})")
    pairs = a.join(
        b,
        F.expr("substr(a_name, 10, 8)") == F.expr("substr(b_name, 10, 8)"),
    ).select(
        "a_entity",
        "b_entity",
        F.expr(_RL_SCORE).alias("score"),
    )
    return (
        pairs.select(
            "a_entity",
            "b_entity",
            "score",
            F.expr(
                f"CASE WHEN score >= {_RL_MATCH} THEN 'match'"
                f" WHEN score >= {_RL_POSSIBLE} THEN 'possible'"
                " ELSE 'non_match' END"
            ).alias("decision"),
        )
        .groupBy("decision")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr(
                "CAST(SUM(CASE WHEN a_entity = b_entity THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_true_entity"),
            F.expr("CAST(MIN(score) AS BIGINT)").alias("min_score"),
            F.expr("CAST(MAX(score) AS BIGINT)").alias("max_score"),
        )
    )


RECORD_LINKAGE_ORACLE = f"""
WITH b AS ({_rl_dirty_view(False)}),
a AS (
  SELECT c_custkey AS a_entity, c_name AS a_name,
         c_nationkey AS a_nationkey,
         CAST(round(c_acctbal * 100.0) AS BIGINT) AS a_cents,
         c_mktsegment AS a_mkt
  FROM customer),
pairs AS (
  SELECT a_entity, b_entity, {_RL_SCORE} AS score
  FROM a JOIN b
    ON substr(a_name, 10, 8) = substr(b_name, 10, 8))
SELECT CASE WHEN score >= {_RL_MATCH} THEN 'match'
            WHEN score >= {_RL_POSSIBLE} THEN 'possible'
            ELSE 'non_match' END AS decision,
       COUNT(*) AS n_pairs,
       CAST(SUM(CASE WHEN a_entity = b_entity THEN 1 ELSE 0 END) AS BIGINT)
         AS n_true_entity,
       CAST(MIN(score) AS BIGINT) AS min_score,
       CAST(MAX(score) AS BIGINT) AS max_score
FROM pairs GROUP BY 1
"""


# --------------------------------------------------------------------------
# Vacuum / retention planner (the complement of layout_compaction_rewrite)
# --------------------------------------------------------------------------

_VAC_RETENTION_DAYS = 7  # files must be at least this stale to delete
_VAC_AGE_MOD = 30  # deterministic file-age domain, days


def layout_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM planning over table-layout manifests — the lakehouse
    operation that follows every OPTIMIZE: diff the PRE-compaction file
    manifest against the files the compacted layout RETAINS, emit the
    obsolete-file delete list, and age-gate it with a retention
    watermark so files a concurrent reader may still hold open survive
    until they are provably stale (Delta's VACUUM ... RETAIN / Iceberg's
    expire_snapshots contract).

    Inputs are the same logical manifests ``layout_compaction_rewrite``
    verified physically: one pre-file per (lang, source) group (logical
    size = sum of n_chars — physical parquet bytes differ per encoder
    and can never be oracle'd), with a deterministic md5 age stamp per
    file standing in for the object store's last-modified time. The
    retained set is SCALE-FREE: a file at or above its lang's MEAN size
    is already well-formed and OPTIMIZE carries it over untouched; the
    below-mean tail is what got compacted, so every one of those
    pre-files is obsolete. (A first cut kept singleton bins of the
    rewrite's fixed 16 KiB binning algebra — at sf0.01 every bin held
    >= 2 files and the retained set was EMPTY, while at bench SF the
    same constant makes every file a singleton and the OBSOLETE set
    empties: a fixed byte threshold can't gate a scale-parametric
    manifest. The mean comparison is a pure integer cross-multiplication
    — grp_bytes * n_files >= total_bytes — exact on both engines, and
    non-vacuous on BOTH sides at every SF since a non-constant size
    distribution always has files both above and below its mean.)

    The delete list is the manifest ANTI-JOIN — pre-files minus retained
    files (the merkle-diff pattern of diag_table_diff, applied to
    layouts) — deliberately the general mechanism: against a
    post-manifest produced by a SEPARATE writer the retained set is not
    derivable from any local predicate, only the anti-join works. The
    oracle states the degenerate equivalent (obsolete = below-mean
    files) so the rewrite is value-verified, the q21 convention in
    reverse. Deletable = obsolete AND age >= the watermark; younger
    obsolete files are reported quarantined with their byte volume.

    Scale shape: every relation here is a MANIFEST (one row per file —
    millions of rows at 100 TB, never the data); one shuffle builds the
    manifest, the per-lang mean is a bounded (<= |langs| rows) aggregate
    joined back, then one anti-join and one per-lang rollup. Nothing
    driver-side."""
    h_age = md5_bigint_expr("concat('vac-', lang, '|', source)")
    pre = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.expr("CAST(SUM(n_chars) AS BIGINT)").alias("grp_bytes"))
        .withColumn("age_days", F.expr(f"{h_age} % {_VAC_AGE_MOD}"))
    )
    lang_tot = pre.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_files_pre"),
        F.expr("CAST(SUM(grp_bytes) AS BIGINT)").alias("total_bytes"),
    )
    # retained = at/above the lang mean, as an exact integer comparison:
    # grp_bytes >= total/n  <=>  grp_bytes * n >= total (n > 0).
    retained = (
        pre.join(F.broadcast(lang_tot), "lang")
        .filter("grp_bytes * n_files_pre >= total_bytes")
        .select("lang", "source")
    )
    obsolete = pre.join(retained, ["lang", "source"], "left_anti").select(
        "lang",
        "grp_bytes",
        (F.col("age_days") >= _VAC_RETENTION_DAYS).alias("deletable"),
    )
    obs_stats = obsolete.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_obsolete"),
        F.expr(
            "CAST(SUM(CASE WHEN deletable THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_deletable"),
        F.expr(
            "CAST(SUM(CASE WHEN deletable THEN grp_bytes ELSE 0 END) AS BIGINT)"
        ).alias("bytes_reclaimed"),
        F.expr(
            "CAST(SUM(CASE WHEN NOT deletable THEN grp_bytes ELSE 0 END)"
            " AS BIGINT)"
        ).alias("bytes_quarantined"),
    )
    return lang_tot.join(obs_stats, "lang", "left").select(
        "lang",
        "n_files_pre",
        F.expr("CAST(COALESCE(n_obsolete, 0) AS BIGINT)").alias("n_obsolete"),
        F.expr("n_files_pre - CAST(COALESCE(n_obsolete, 0) AS BIGINT)").alias(
            "n_retained"
        ),
        F.expr("CAST(COALESCE(n_deletable, 0) AS BIGINT)").alias("n_deletable"),
        F.expr("CAST(COALESCE(bytes_reclaimed, 0) AS BIGINT)").alias(
            "bytes_reclaimed"
        ),
        F.expr("CAST(COALESCE(bytes_quarantined, 0) AS BIGINT)").alias(
            "bytes_quarantined"
        ),
    )


VACUUM_PLAN_ORACLE = f"""
WITH pre AS (
  SELECT lang, source, CAST(SUM(n_chars) AS BIGINT) AS grp_bytes,
         {oracle_md5_bigint_expr("concat('vac-', lang, '|', source)")}
           % {_VAC_AGE_MOD} AS age_days
  FROM documents GROUP BY 1, 2),
lang_tot AS (
  SELECT lang, COUNT(*) AS n_files_pre,
         CAST(SUM(grp_bytes) AS BIGINT) AS total_bytes
  FROM pre GROUP BY 1),
obsolete AS (
  SELECT p.lang, p.grp_bytes,
         p.age_days >= {_VAC_RETENTION_DAYS} AS deletable
  FROM pre p JOIN lang_tot t USING (lang)
  WHERE p.grp_bytes * t.n_files_pre < t.total_bytes)
SELECT t.lang,
       t.n_files_pre,
       CAST(COALESCE(o.n_obsolete, 0) AS BIGINT) AS n_obsolete,
       t.n_files_pre - CAST(COALESCE(o.n_obsolete, 0) AS BIGINT) AS n_retained,
       CAST(COALESCE(o.n_deletable, 0) AS BIGINT) AS n_deletable,
       CAST(COALESCE(o.bytes_reclaimed, 0) AS BIGINT) AS bytes_reclaimed,
       CAST(COALESCE(o.bytes_quarantined, 0) AS BIGINT) AS bytes_quarantined
FROM lang_tot t
LEFT JOIN (SELECT lang, COUNT(*) AS n_obsolete,
                  CAST(SUM(CASE WHEN deletable THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_deletable,
                  CAST(SUM(CASE WHEN deletable THEN grp_bytes ELSE 0 END)
                       AS BIGINT) AS bytes_reclaimed,
                  CAST(SUM(CASE WHEN NOT deletable THEN grp_bytes ELSE 0 END)
                       AS BIGINT) AS bytes_quarantined
           FROM obsolete GROUP BY 1) o USING (lang)
"""


QUERIES = {
    "curation_weighted_sample_aes": curation_weighted_sample_aes,
    "dedup_crawl_frontier": dedup_crawl_frontier,
    "curation_stratified_weighted_sample": curation_stratified_weighted_sample,
    "layout_compaction_rewrite": layout_compaction_rewrite,
    "dedup_record_linkage": dedup_record_linkage,
    "layout_vacuum_plan": layout_vacuum_plan,
}

ORACLES = {
    "curation_weighted_sample_aes": WEIGHTED_SAMPLE_AES_ORACLE,
    "dedup_crawl_frontier": CRAWL_FRONTIER_ORACLE,
    "curation_stratified_weighted_sample": STRATIFIED_SAMPLE_ORACLE,
    "layout_compaction_rewrite": COMPACTION_REWRITE_ORACLE,
    "dedup_record_linkage": RECORD_LINKAGE_ORACLE,
    "layout_vacuum_plan": VACUUM_PLAN_ORACLE,
}
