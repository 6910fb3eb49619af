"""Deduplication over `documents` / `embeddings` (north star; SURVEY.md §2.4).

Five families, all distributed, none driver-materializing:

* exact         — hash-groupBy on a canonical fingerprint
* minhash-lsh   — shingle → minhash signature → banded bucket join →
                  jaccard verification (the classic near-dup pipeline)
* simhash       — per-doc 16-bit simhash from token hashes
* ngram-jaccard — inverted-index candidate join + exact jaccard
* embedding     — cosine near-dup pairs over the embeddings table

Everything is SQL-expressible with PORTABLE determinism because hashing goes
through md5 (functions/texthash.py) instead of engine-native hash functions,
so each query has a full DuckDB oracle — including MinHash+LSH, which is
usually tested rows-only.

Scale notes: the LSH band join is the scale path — candidate pairs are
generated per (band_idx, band_hash) bucket, never all-pairs. The n-gram
jaccard join is quadratic per shared shingle and exists as the exact
baseline; a document-frequency cap (shingles appearing in more than
_DF_CAP documents are dropped from the index before the self-join) bounds
the per-key fan-out, the standard hot-key fix — a shingle shared by d docs
produces d^2 candidate rows, and stopword-like shingles carry no dedup
signal anyway.
"""

from __future__ import annotations

import random

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

# MinHash parameters: 32 permutations in 8 bands of 4 rows.
# h_i(x) = (a_i * (H(x) mod P) + b_i) mod P over the 60-bit md5 base hash.
_P = 2_147_483_647
_N_HASHES = 32
_BAND_ROWS = 4
_N_BANDS = _N_HASHES // _BAND_ROWS
_rng = random.Random(42)
_A = [_rng.randrange(1, _P) for _ in range(_N_HASHES)]
_B = [_rng.randrange(0, _P) for _ in range(_N_HASHES)]

_JACCARD_THRESHOLD = 0.6
_SIMHASH_BITS = 16
# Max documents a shingle may appear in and still enter the jaccard
# inverted index: caps the quadratic fan-out per hot shingle.
_DF_CAP = 50


def _minhash_exprs(base: str) -> list[str]:
    """Engine-shared SQL for the 32 permuted hashes of a base-hash column."""
    return [
        f"(({a} * ({base} % {_P}) + {b}) % {_P})" for a, b in zip(_A, _B)
    ]


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by canonical fingerprint (lower + collapse
    whitespace + md5). One shuffle; representative = min doc_id."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
    return (
        docs.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


DEDUP_EXACT_ORACLE = r"""
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1 HAVING COUNT(*) > 1
"""


def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus: one representative doc_id per fingerprint."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
    return (
        docs.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


DEDUP_KEEP_FIRST_ORACLE = r"""
SELECT MIN(doc_id) AS doc_id
FROM documents
GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
"""


# --------------------------------------------------------------------------
# Shingle machinery (shared by jaccard + minhash)
# --------------------------------------------------------------------------


def _shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word-3-gram shingles per document (exploded long form).
    Token array materialized in its own projection so the regexp tokenizer
    runs once per row, not once per array index (see text.text_bigrams)."""
    return _shingle_arrays_df(spark, sf_dir).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )


def _shingle_arrays_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DISTINCT shingle SET as an array column — built in a
    single projection, NO explode, NO shuffle. Carrying the set as an array
    lets minhash signatures come from array transforms and jaccard
    verification from array_intersect, so the whole near-dup pipeline
    touches the 100 TB text exactly once."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    return (
        docs.select("doc_id", F.expr(words_expr("text")).alias("l"))
        .filter(F.size("l") >= 3)
        .select(
            "doc_id",
            F.expr(
                "array_distinct(transform(sequence(0, size(l) - 3),"
                " i -> concat(l[i], ' ', l[i+1], ' ', l[i+2])))"
            ).alias("shingles"),
        )
    )


_SHINGLES_ORACLE_CTE = f"""
shingles AS (
  SELECT DISTINCT doc_id, s.shingle AS shingle
  FROM (SELECT doc_id, {oracle_words_expr("text")} AS l FROM documents) t,
       unnest(list_transform(range(1, len(l) - 1),
                             i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS s(shingle)
  WHERE len(l) >= 3
)"""


# --------------------------------------------------------------------------
# N-gram Jaccard near-dup: inverted-index join + exact verification
# --------------------------------------------------------------------------


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index candidate join over the DF-capped shingle universe:
    shingles in more than _DF_CAP documents are dropped before the
    self-join (one window count over the shingle-partitioned index — the
    same sort-shuffle the join needs anyway), so a hot shingle can't fan
    out into d^2 candidate rows. Jaccard is computed over the capped
    universe consistently: sizes = per-doc capped-shingle counts, joined
    back by key (a shuffle join — per-doc relations are O(n_docs), never
    broadcast). Still the quadratic-per-shingle exact baseline; the scale
    path is dedup_minhash_lsh."""
    from pyspark.sql import Window

    # Shingles come from the PERSISTED signature relation (the shared
    # single-text-pass artifact, like the prefix join): `capped` is
    # referenced three times below (sizes + both join sides), and deriving
    # it from the raw scan re-ran the tokenize+explode subtree per
    # reference — measured 13.5 -> 2.1 s at sf0.1 (signatures cached).
    sh = _minhash_signatures(spark, sf_dir).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    capped = (
        sh.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
        .filter(F.col("df") <= _DF_CAP)
        .drop("df")
        # Materialize the capped inverted index ONCE (r16 optimization
        # round): capped is referenced three times below, and without
        # truncation the explode + shingle-partitioned window re-ran
        # under every reference (4 subtree copies in the executed plan,
        # no ReusedExchange). The index is <= the corpus shingle count
        # — the relation an inverted-index join materializes anyway.
        # LAZY by a 3-pair quiet-host A/B (eager medians 2.00/2.19/1.76
        # vs lazy 1.71/1.69/[contended] — the two clean pairs both
        # favor dropping the pre-job sync barrier).
        .localCheckpoint(eager=False)
    )
    sizes = capped.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a, b = capped.alias("a"), capped.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "nb"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


DEDUP_JACCARD_ORACLE = f"""
WITH {_SHINGLES_ORACLE_CTE},
capped AS (
  SELECT doc_id, shingle FROM shingles
  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {_DF_CAP}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM capped a JOIN capped b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) >= {_JACCARD_THRESHOLD}
"""


# --------------------------------------------------------------------------
# Prefix-filtered EXACT set-similarity join (PPJoin-style, Chaudhuri et al.
# 2006 / Xiao et al. 2008)
# --------------------------------------------------------------------------

# Jaccard threshold in permille -> all arithmetic stays integer-exact.
_PJ_T = 500


def dedup_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 0.5 self-join via prefix filtering — the lossless
    counterpart of the approximate LSH paths.

    Order every document's shingle set by global rarity (document
    frequency ASC, shingle ASC — a total order), and keep only each set's
    PREFIX of length ``|S| - ceil(t*|S|) + 1``. The prefix-filtering
    theorem guarantees any pair with Jaccard >= t shares at least one
    prefix shingle, so the candidate join runs over prefixes only — and
    rarity ordering means hot shingles (the d^2 fan-out risk) sort to the
    END of each set, all but never entering a prefix: the skew-killer is
    structural, not a cap, so unlike ``dedup_ngram_jaccard``'s _DF_CAP
    universe this loses NOTHING. The oracle is the plain exact
    inverted-index join with no prefix — result equality IS the
    losslessness proof. Verification computes exact integer intersection
    sizes over the full sets (array_intersect); threshold and the reported
    jaccard_permille are integer arithmetic, exact in both engines.

    Scale shape: df counts are a map-side-combinable groupBy; rank+size
    is one window over the doc-partitioned index; the candidate join keys
    on (rare) prefix shingles; verification joins on doc_id against the
    per-doc set arrays. The set arrays come from the PERSISTED MinHash
    signature relation (the shared single-text-pass artifact): this query
    references the sets three times (index + both verification sides),
    and deriving them from the raw scan instead re-runs the regexp
    tokenizer per reference — worse, CollapseProject then inlines the
    tokenizer into every array subscript (the 15x plan trap
    tests/test_hygiene.py pins for substring dedup; measured 19 s vs 3 s
    at sf0.1 here)."""
    from pyspark.sql import Window

    sets = _minhash_signatures(spark, sf_dir).select(
        "doc_id", "shingles", F.size("shingles").alias("s")
    )
    sh = sets.select("doc_id", "s", F.explode("shingles").alias("shingle"))
    # df via a COUNT window on the shingle partition: one shuffle on
    # shingle, versus the groupBy+join formulation's two (agg AND join
    # both hash on shingle) — measured 3.95 -> 3.4 s at sf0.1, identical
    # output.
    ranked = sh.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    ).withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "shingle")),
    )
    prefix = (
        ranked.filter(
            F.col("rk") <= F.col("s") - F.expr(f"({_PJ_T} * s + 999) DIV 1000") + 1
        )
        .select("doc_id", "s", "shingle", "rk")
        # NOT checkpointed (r16 optimization round, quiet-host A/B): the
        # two window passes under the self-join sides derive from the
        # PERSISTED signature relation (no corpus re-scan is at stake),
        # and an eager checkpoint here serializes work the scheduler
        # otherwise overlaps — measured 2.17 s (this form) vs 4.90 s
        # (checkpointed) fresh-process 5-run medians at sf0.1 with clean
        # calibrations. The duplicated subtree is window arithmetic over
        # ExistingRDD, exactly the case the single-checkpoint discipline's
        # "never per-iteration" clause exists for. (A lazy checkpoint was
        # also A/B'd: 4.65 s — the block materialization itself costs more
        # than the duplicated window arithmetic it saves.)
    )
    # PPJoin length filter (Xiao et al. 2008): J(A,B) <= min(|A|,|B|) /
    # max(|A|,|B|), so J >= t forces 1000*min >= t*max — a LOSSLESS
    # residual predicate on the prefix equi-join that drops size-skewed
    # collisions before the distinct and the array-intersect verify join
    # (integer arithmetic, no division).
    #
    # PPJoin positional filter (same paper, lossless): a matched prefix
    # token at 1-based ranks (rk_a, rk_b) bounds the overlap by
    # ubound = 1 + min(s_a - rk_a, s_b - rk_b), and J >= t requires
    # O*(1000+t) >= t*(s_a+s_b); so prune when
    # ubound*(1000+t) < t*(s_a+s_b). Lossless for the OR-over-tokens
    # candidate set: a qualifying pair's SMALLEST common shingle is in
    # both prefixes (anything common-and-in-both-prefixes sorts at or
    # after it), and at that token every other common shingle lies
    # strictly after rk in BOTH sets, so the bound holds there and the
    # pair survives the distinct.
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.least(F.col("a.s"), F.col("b.s")) * 1000
                >= _PJ_T * F.greatest(F.col("a.s"), F.col("b.s"))
            )
            & (
                (
                    1
                    + F.least(
                        F.col("a.s") - F.col("a.rk"),
                        F.col("b.s") - F.col("b.rk"),
                    )
                )
                * (1000 + _PJ_T)
                >= _PJ_T * (F.col("a.s") + F.col("b.s"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("s").alias("size_a"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("s").alias("size_b"),
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("inter_size", F.size(F.array_intersect("sh_a", "sh_b")))
        .filter(
            F.col("inter_size") * 1000
            >= _PJ_T * (F.col("size_a") + F.col("size_b") - F.col("inter_size"))
        )
        .select(
            "doc_a",
            "doc_b",
            "size_a",
            "size_b",
            "inter_size",
            F.expr(
                "(inter_size * 1000) DIV (size_a + size_b - inter_size)"
            ).alias("jaccard_permille"),
        )
    )


# No prefix, no cap: the straightforward exact inverted-index join. The
# Spark side must reproduce this EXACTLY for the prefix filter to be
# correct — a lost pair fails the hash compare.
PREFIX_JOIN_ORACLE = f"""
WITH {_SHINGLES_ORACLE_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, sa.n AS size_a, sb.n AS size_b,
       CAST(n_common AS INTEGER) AS inter_size,
       (n_common * 1000) // (sa.n + sb.n - n_common) AS jaccard_permille
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common * 1000 >= {_PJ_T} * (sa.n + sb.n - n_common)
"""


# --------------------------------------------------------------------------
# MinHash + LSH near-dup: the scale path
# --------------------------------------------------------------------------

# The signature DataFrame is used four times per query (both sides of the
# band self-join + both verification lookups); persisting it turns four
# tokenize+hash passes over the full text into one.
@memo
def _minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles, m0..m31) — one text scan, array-fold minhash,
    persisted (memory-and-disk: at 100 TB the shingle arrays spill, which
    still beats recomputing regex tokenization four times)."""
    arr = _shingle_arrays_df(spark, sf_dir)
    hashed = arr.select(
        "doc_id",
        "shingles",
        F.expr(f"transform(shingles, s -> {md5_bigint_expr('s')})").alias("hs"),
    )
    mh = hashed.select(
        "doc_id",
        "shingles",
        *[
            F.expr(f"array_min(transform(hs, h -> {e}))").alias(f"m{i}")
            for i, e in enumerate(_minhash_exprs("h"))
        ],
    )
    return mh.persist()


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidates via banded minhash buckets, verified with exact jaccard.
    Fully deterministic (md5-based hashing) — and therefore fully
    oracle-checkable, unlike engine-native LSH implementations.

    Plan shape (the 100 TB path): the text is scanned ONCE into per-doc
    shingle-set arrays; minhash signatures are array folds in the same
    projection (no shingle explode, no groupBy shuffle); only the tiny
    (doc_id, band) rows shuffle for the bucket join; jaccard verification
    is array_intersect over the two candidate docs' shingle arrays fetched
    by doc_id join — never a shingle-level self-join."""
    mh = _minhash_signatures(spark, sf_dir)
    band_cols = [
        F.struct(
            F.lit(band).alias("band_idx"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[F.col(f"m{band * _BAND_ROWS + r}") for r in range(_BAND_ROWS)],
                )
            ).alias("band_hash"),
        )
        for band in range(_N_BANDS)
    ]
    banded = mh.select("doc_id", F.explode(F.array(*band_cols)).alias("b")).select(
        "doc_id", F.col("b.band_idx").alias("band_idx"), F.col("b.band_hash").alias("band_hash")
    )
    a, b = banded.alias("a"), banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Exact-jaccard verification of candidates only, via set algebra on the
    # two shingle arrays.
    sa = mh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = mh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_common"),
            F.size("sh_a").alias("na"),
            F.size("sh_b").alias("nb"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def _minhash_oracle() -> str:
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
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
common AS (
  SELECT doc_a, doc_b, COUNT(*) AS n_common
  FROM candidates
  JOIN shingles sa ON sa.doc_id = doc_a
  JOIN shingles sb ON sb.doc_id = doc_b AND sa.shingle = sb.shingle
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) >= {_JACCARD_THRESHOLD}
"""


# --------------------------------------------------------------------------
# Incremental ingestion near-dup gate (bloom-gated banded MinHash)
# --------------------------------------------------------------------------

# "Today's ingest" = every _ING_MOD-th document; the rest is the standing
# corpus. A modulo split (not a range) keeps the batch a fixed fraction at
# every scale factor.
_ING_MOD = 5


def _banded_keys(mh: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash, bk): the LSH band keys of every doc,
    plus the single-string key the bloom filter hashes."""
    band_cols = [
        F.struct(
            F.lit(band).alias("band_idx"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[F.col(f"m{band * _BAND_ROWS + r}") for r in range(_BAND_ROWS)],
                )
            ).alias("band_hash"),
        )
        for band in range(_N_BANDS)
    ]
    return (
        mh.select("doc_id", F.explode(F.array(*band_cols)).alias("b"))
        .select(
            "doc_id",
            F.col("b.band_idx").alias("band_idx"),
            F.col("b.band_hash").alias("band_hash"),
        )
        .withColumn("bk", F.concat_ws(":", "band_idx", "band_hash"))
    )


def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion near-dup gate: is each NEW document a near-dup
    of the standing corpus?

    The production shape this models: the corpus's band keys live in a
    compact bloom filter; a new document whose bands ALL miss the filter
    is provably novel (bloom has no false negatives) and takes the
    zero-shuffle fast path — only the bloom-hit bands (true collisions +
    the small fp rate) enter the band join and exact-jaccard verification.
    At 100 TB with a low duplicate rate that turns the dedup join from
    corpus-sized to duplicate-sized. The oracle replays the band join
    WITHOUT the bloom — result equality proves the gate lossless.

    Output: one row per new document in the shingle universe —
    (doc_id, n_corpus_partners, is_dup)."""
    from lua_mapreduce_spark.operators.scale_ops import (
        _BLOOM_SALTS,
        _bloom_bitset,
        _bloom_hit,
    )

    mh = _minhash_signatures(spark, sf_dir)
    # Materialize the band keys ONCE (r16 optimization round): banded
    # feeds the bloom-bitset build, the gated batch side AND the corpus
    # join side, so without truncation the band-hash explode over the
    # persisted signatures re-ran under every reference (3 executed
    # passes in the plan). 4 narrow columns, _N_BANDS rows per doc.
    banded = _banded_keys(mh).localCheckpoint(eager=True)
    is_batch = F.col("doc_id") % _ING_MOD == _ING_MOD - 1
    corpus_b = banded.filter(~is_batch)
    batch_b = banded.filter(is_batch)

    bits = _bloom_bitset(corpus_b.select("bk"), "bk")
    hits = (
        batch_b.join(F.broadcast(bits))  # 1-row bitset cross join
        .filter(_bloom_hit("bk", _BLOOM_SALTS[0]) & _bloom_hit("bk", _BLOOM_SALTS[1]))
        .drop("bloom", "bk")
    )
    pairs = (
        hits.alias("n")
        .join(
            corpus_b.alias("c"),
            (F.col("n.band_idx") == F.col("c.band_idx"))
            & (F.col("n.band_hash") == F.col("c.band_hash")),
        )
        .select(F.col("n.doc_id").alias("nd"), F.col("c.doc_id").alias("cd"))
        .distinct()
    )
    sa = mh.select(F.col("doc_id").alias("nd"), F.col("shingles").alias("sh_n"))
    sb = mh.select(F.col("doc_id").alias("cd"), F.col("shingles").alias("sh_c"))
    partners = (
        pairs.join(sa, "nd")
        .join(sb, "cd")
        .withColumn("inter", F.size(F.array_intersect("sh_n", "sh_c")))
        .filter(
            F.col("inter").cast("double")
            / (F.size("sh_n") + F.size("sh_c") - F.col("inter")).cast("double")
            >= _JACCARD_THRESHOLD
        )
        .groupBy("nd")
        .agg(F.count(F.lit(1)).alias("n_corpus_partners"))
    )
    new_docs = mh.filter(is_batch).select("doc_id")
    return (
        new_docs.join(partners, new_docs.doc_id == partners.nd, "left")
        .select(
            "doc_id",
            F.coalesce("n_corpus_partners", F.lit(0)).alias("n_corpus_partners"),
            F.col("nd").isNotNull().alias("is_dup"),
        )
    )


def _incremental_ingest_oracle() -> str:
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
pairs AS (
  SELECT DISTINCT n.doc_id AS nd, c.doc_id AS cd
  FROM banded n JOIN banded c
    ON n.band_idx = c.band_idx AND n.band_hash = c.band_hash
  WHERE n.doc_id % {_ING_MOD} = {_ING_MOD - 1}
    AND c.doc_id % {_ING_MOD} != {_ING_MOD - 1}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
common AS (
  SELECT nd, cd, COUNT(*) AS n_common
  FROM pairs
  JOIN shingles sa ON sa.doc_id = nd
  JOIN shingles sb ON sb.doc_id = cd AND sa.shingle = sb.shingle
  GROUP BY 1, 2),
partners AS (
  SELECT nd, COUNT(*) AS n_corpus_partners
  FROM common
  JOIN sizes sa ON sa.doc_id = nd
  JOIN sizes sb ON sb.doc_id = cd
  WHERE CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE)
        >= {_JACCARD_THRESHOLD}
  GROUP BY nd)
SELECT d.doc_id,
       COALESCE(p.n_corpus_partners, 0) AS n_corpus_partners,
       p.nd IS NOT NULL AS is_dup
FROM (SELECT DISTINCT doc_id FROM shingles
      WHERE doc_id % {_ING_MOD} = {_ING_MOD - 1}) d
LEFT JOIN partners p ON p.nd = d.doc_id
"""


# --------------------------------------------------------------------------
# SimHash fingerprints
# --------------------------------------------------------------------------


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit simhash per document: per-bit majority vote over token hashes
    (with multiplicity). Hamming-close fingerprints = near-dup candidates."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.expr(words_expr("text"))).alias("tok")
    ).withColumn("h", F.expr(md5_bigint_expr("tok")))
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {j}) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
            ).alias(f"s{j}")
            for j in range(_SIMHASH_BITS)
        ]
    )
    simhash = None
    for j in range(_SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return bit_sums.select("doc_id", simhash.cast("long").alias("simhash"))


def _simhash_oracle() -> str:
    base = oracle_md5_bigint_expr("tok")
    sums = ",\n         ".join(
        f"SUM(CASE WHEN (({base}) >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(_SIMHASH_BITS)
    )
    hash_expr = " + ".join(
        f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(_SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, t.tok AS tok
  FROM (SELECT doc_id, {oracle_words_expr("text")} AS l FROM documents), unnest(l) AS t(tok)),
bit_sums AS (
  SELECT doc_id,
         {sums}
  FROM toks GROUP BY doc_id)
SELECT doc_id, CAST({hash_expr} AS BIGINT) AS simhash FROM bit_sums
"""


# --------------------------------------------------------------------------
# SimHash near-dup PAIRS (banded hamming join, Manku et al. 2007)
# --------------------------------------------------------------------------

# 48-bit fingerprints split into 4 bands of 12 bits: any pair within
# hamming distance 3 leaves >= 1 band untouched (pigeonhole), so the
# banded equi-join is a LOSSLESS candidate generator for the <= 3
# threshold — the table-splitting scheme of Manku, Jain & Das Sarma,
# "Detecting Near-Duplicates for Web Crawling" (WWW 2007). 48 bits (not
# the fingerprint query's 16) because banding needs band-value
# cardinality to grow with the corpus: 12-bit bands hash docs across
# 4096 buckets each, so candidate cost is sum(bucket^2) over
# content-distributed buckets, never n^2.
_SHP_BITS = 48
_SHP_BANDS = 4
_SHP_BAND_BITS = _SHP_BITS // _SHP_BANDS
_SHP_BAND_MASK = (1 << _SHP_BAND_BITS) - 1
_SHP_MAX_HAM = 3


def _simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash): 48-bit per-doc simhash — same per-bit majority
    vote as dedup_simhash, widened for banding (md5_bigint_expr yields 60
    usable bits)."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.expr(words_expr("text"))).alias("tok")
    ).withColumn("h", F.expr(md5_bigint_expr("tok")))
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {j}) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
            ).alias(f"s{j}")
            for j in range(_SHP_BITS)
        ]
    )
    simhash = None
    for j in range(_SHP_BITS):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return bit_sums.select("doc_id", simhash.cast("long").alias("simhash"))


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at hamming distance <= _SHP_MAX_HAM over 48-bit
    simhash fingerprints: explode each fingerprint into its 4 band values,
    equi-join on (band_id, band_val), then verify candidates exactly with
    xor + popcount. Candidates are DISTINCT'd on the pair before the
    hamming check (a close pair can collide in several bands). One
    tokenize pass builds the fingerprints; the join shuffles only
    (doc_id, 8-byte fingerprint) tuples — no text moves."""
    # Materialize the fingerprints ONCE (r16 optimization round): the band
    # self-join references `bands` on both sides, and without truncation
    # the tokenize + explode + 48-column bit-sum subtree executed under
    # EACH side — two full corpus passes to rebuild a relation that is one
    # (doc_id, int64) row per document. This is the narrow-collapse case
    # (unlike the prefix-join above, whose duplicated subtree was window
    # arithmetic over an already-persisted relation): the checkpointed
    # relation is orders of magnitude smaller than its input. EAGER by
    # quiet-host A/B (2.18 eager / 2.55 lazy fresh-process median —
    # here the eager capture's preserved layout beats the removed
    # barrier; the lazy mode is per-query measured, never a blanket).
    sh = _simhash_wide(spark, sf_dir).localCheckpoint(eager=True)
    # shiftright(), not `>>`: Spark's parser accepts the infix operator
    # only at expression top level, not nested inside function calls.
    band_structs = ", ".join(
        f"named_struct('band_id', {j}, 'band_val',"
        f" shiftright(simhash, {j * _SHP_BAND_BITS}) & {_SHP_BAND_MASK})"
        for j in range(_SHP_BANDS)
    )
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.expr(f"array({band_structs})")).alias("b"),
    ).select("doc_id", "simhash", "b.band_id", "b.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.expr("CAST(bit_count(ha ^ hb) AS INT)")
        )
        .filter(F.col("hamming") <= _SHP_MAX_HAM)
        .select("doc_a", "doc_b", "hamming")
    )


def _simhash_pairs_oracle() -> str:
    base = oracle_md5_bigint_expr("tok")
    sums = ",\n         ".join(
        f"SUM(CASE WHEN (({base}) >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(_SHP_BITS)
    )
    hash_expr = " + ".join(
        f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(_SHP_BITS)
    )
    band_ids = ", ".join(str(j) for j in range(_SHP_BANDS))
    return f"""
WITH toks AS (
  SELECT doc_id, t.tok AS tok
  FROM (SELECT doc_id, {oracle_words_expr("text")} AS l FROM documents), unnest(l) AS t(tok)),
bit_sums AS (
  SELECT doc_id,
         {sums}
  FROM toks GROUP BY doc_id),
sh AS (SELECT doc_id, CAST({hash_expr} AS BIGINT) AS simhash FROM bit_sums),
bands AS (
  SELECT doc_id, simhash, t.j AS band_id,
         (simhash >> (t.j * {_SHP_BAND_BITS})) & {_SHP_BAND_MASK} AS band_val
  FROM sh, unnest([{band_ids}]) AS t(j)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS ha, b.simhash AS hb
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {_SHP_MAX_HAM}
"""


# --------------------------------------------------------------------------
# Embedding cosine near-dup
# --------------------------------------------------------------------------

_DOT = (
    "aggregate(zip_with(a.embedding, b.embedding,"
    " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_NORM = (
    "sqrt(aggregate({side}.embedding, CAST(0.0 AS DOUBLE),"
    " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
)
_COSINE_DUP_THRESHOLD = 0.40


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-cosine near-dup pair list (vec_a, vec_b, cosine), candidate-
    gated by the deterministic hyperplane-LSH tables (similarity.
    lsh_dup_pairs): a pair is emitted iff it collides in >= 1 of the L
    sign-bit tables AND its exact cosine clears the threshold.

    Through round 6 this was the all-pairs cross join — correct, but
    quadratic by construction (10,000x work at 100x rows). The registered
    form now reuses the banded candidate generation, so the cost is the
    sum of squared bucket sizes; the banding is deterministic, so the
    oracle replays it exactly. The all-pairs form survives only as
    ``_embedding_cosine_allpairs``, the test-side audit that measures the
    gate's recall (tests/test_similarity.py)."""
    from lua_mapreduce_spark.operators.similarity import lsh_dup_pairs

    return lsh_dup_pairs(spark, sf_dir).select("vec_a", "vec_b", "cosine")


def _embedding_cosine_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs exact baseline — TEST-SIDE ONLY (recall audit for the
    LSH gate). Quadratic; never registered."""
    emb = load_table(spark, sf_dir, "embeddings")
    a, b = emb.alias("a"), emb.alias("b")
    cos = F.expr(f"{_DOT} / ({_NORM.format(side='a')} * {_NORM.format(side='b')})")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= _COSINE_DUP_THRESHOLD)
    )


def dedup_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest record per key (CDC/log compaction): one window on user_id,
    event_id as the deterministic tiebreak for equal timestamps. At scale
    this is the standard snapshot-compaction shape — a single sort-shuffle
    on the key, no self-join against MAX(ts)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("latest_event_id"),
            F.col("event_type").alias("latest_type"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("latest_ts"),
        )
    )


DEDUP_LATEST_ORACLE = """
SELECT user_id,
       event_id AS latest_event_id,
       event_type AS latest_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS latest_ts
FROM (
  SELECT user_id, event_id, event_type, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
WHERE rn = 1
"""


# --------------------------------------------------------------------------
# b-bit minwise hashing (storage-optimal minhash, Li & Konig 2010)
# --------------------------------------------------------------------------

_BBIT = 4  # bits kept per minhash slot (32 slots x 4 bits = 16 bytes/sig)
_BBIT_DOM = 1 << _BBIT


def _match_sum_expr(prefix_a: str, prefix_b: str, mod: int | None) -> str:
    """SQL sum of per-slot matches over the 32 signature columns; mod
    folds each slot to its lowest b bits first (engine-shared text)."""
    if mod is None:
        terms = [
            f"(CASE WHEN {prefix_a}.m{i} = {prefix_b}.m{i} THEN 1 ELSE 0 END)"
            for i in range(_N_HASHES)
        ]
    else:
        terms = [
            f"(CASE WHEN {prefix_a}.m{i} % {mod} = {prefix_b}.m{i} % {mod}"
            " THEN 1 ELSE 0 END)"
            for i in range(_N_HASHES)
        ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def dedup_minhash_b_bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minwise hashing (Li & Konig, WWW 2010): store only the
    lowest b bits of each minhash slot — 16x less signature storage at
    b=4 — and recover Jaccard from the b-bit collision rate with the
    paper's correction: collisions happen at rate C + (1 - C) * J where
    C = 2^-b is the accidental-collision floor, so
    J_est = (coll/n - C) / (1 - C), computed here in integer permille as
    greatest(0, (n_coll * 2^b - n) * 1000 DIV (n * (2^b - 1))). Every
    LSH candidate pair carries THREE similarity readings — exact Jaccard
    from the shingle sets, the full 32-slot minhash estimate, and the
    b-bit estimate — so the gate value-checks the whole estimator ladder
    and the accuracy loss of the compression is measurable per pair (the
    storage/accuracy trade an index designer actually tunes).

    Scale shape: signatures and banded candidates are the shared
    dedup_minhash_lsh machinery (one text scan, array-fold signatures,
    bucket equi-join — candidates only, never all pairs); the three
    readings are map-side expressions over the joined pair rows."""
    mh = _minhash_signatures(spark, sf_dir)
    band_cols = [
        F.struct(
            F.lit(band).alias("band_idx"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[F.col(f"m{band * _BAND_ROWS + r}") for r in range(_BAND_ROWS)],
                )
            ).alias("band_hash"),
        )
        for band in range(_N_BANDS)
    ]
    banded = mh.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("b")
    ).select(
        "doc_id",
        F.col("b.band_idx").alias("band_idx"),
        F.col("b.band_hash").alias("band_hash"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = mh.alias("sa")
    sb = mh.alias("sb")
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
            F.expr(
                "CAST(size(sa.shingles) + size(sb.shingles) AS BIGINT)"
            ).alias("n_both"),
            F.expr(_match_sum_expr("sa", "sb", None)).alias("n_full"),
            F.expr(_match_sum_expr("sa", "sb", _BBIT_DOM)).alias("n_b"),
        )
    )
    return paired.select(
        "doc_a",
        "doc_b",
        F.expr("n_common * 1000 DIV (n_both - n_common)").alias(
            "jaccard_permille"
        ),
        F.expr(f"n_full * 1000 DIV {_N_HASHES}").alias("est_full_permille"),
        F.expr(
            f"greatest(CAST(0 AS BIGINT), (n_b * {_BBIT_DOM} - {_N_HASHES})"
            f" * 1000 DIV ({_N_HASHES} * ({_BBIT_DOM} - 1)))"
        ).alias("est_b_permille"),
    )


def _b_bit_oracle() -> str:
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
matched AS (
  SELECT c.doc_a, c.doc_b,
         {_match_sum_expr("a", "b", None)} AS n_full,
         {_match_sum_expr("a", "b", _BBIT_DOM)} AS n_b
  FROM candidates c
  JOIN mh a ON a.doc_id = c.doc_a
  JOIN mh b ON b.doc_id = c.doc_b)
SELECT m.doc_a, m.doc_b,
       CAST(COALESCE(cm.n_common, 0) * 1000
            // (sa.n + sb.n - COALESCE(cm.n_common, 0)) AS BIGINT)
         AS jaccard_permille,
       CAST(m.n_full * 1000 // {_N_HASHES} AS BIGINT) AS est_full_permille,
       CAST(greatest(0, (m.n_b * {_BBIT_DOM} - {_N_HASHES}) * 1000
            // ({_N_HASHES} * ({_BBIT_DOM} - 1))) AS BIGINT)
         AS est_b_permille
FROM matched m
JOIN sizes sa ON sa.doc_id = m.doc_a
JOIN sizes sb ON sb.doc_id = m.doc_b
LEFT JOIN common cm ON cm.doc_a = m.doc_a AND cm.doc_b = m.doc_b
"""


QUERIES = {
    "dedup_minhash_b_bit": dedup_minhash_b_bit,
    "dedup_latest_per_key": dedup_latest_per_key,
    "dedup_exact": dedup_exact,
    "dedup_exact_keep_first": dedup_exact_keep_first,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_jaccard_prefix_join": dedup_jaccard_prefix_join,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_incremental_ingest": dedup_incremental_ingest,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_embedding_cosine": dedup_embedding_cosine,
}

ORACLES = {
    "dedup_minhash_b_bit": _b_bit_oracle(),
    "dedup_latest_per_key": DEDUP_LATEST_ORACLE,
    "dedup_exact": DEDUP_EXACT_ORACLE,
    "dedup_exact_keep_first": DEDUP_KEEP_FIRST_ORACLE,
    "dedup_ngram_jaccard": DEDUP_JACCARD_ORACLE,
    "dedup_jaccard_prefix_join": PREFIX_JOIN_ORACLE,
    "dedup_minhash_lsh": _minhash_oracle(),
    "dedup_incremental_ingest": _incremental_ingest_oracle(),
    "dedup_simhash": _simhash_oracle(),
    "dedup_simhash_pairs": _simhash_pairs_oracle(),
}


def _emb_cosine_oracle() -> str:
    # Banded replay shared with similarity.dedup_embedding_lsh, minus the
    # n_tables confidence column (lazy import: similarity is registered
    # after dedup in the module list).
    from lua_mapreduce_spark.operators.similarity import _dedup_lsh_oracle

    return _dedup_lsh_oracle(with_tables=False)


ORACLES["dedup_embedding_cosine"] = _emb_cosine_oracle()
