"""Text analysis over the `documents` table (SURVEY.md §7.2 M4 + north star).

`text_wordcount` is the engine's flagship: it reproduces the reference's ONE
workload (example/word-count-taskfile.lua:73-159) with the exact reference
tokenization — whitespace split (utils/utils.lua:76-85) + alphabetic-run
extraction + lowercase (word-count-taskfile.lua:118-120) + count per word
(word-count-taskfile.lua:150-153) — as a fully declarative plan: parquet scan
(text column only) → regexp tokenize → explode → hash-agg count. Map-side
partial aggregation replaces the reference's per-token network round-trip,
and the shuffle is Spark's distributed exchange instead of coordinator RAM
(lua-mapreduce-server.lua:173-183).

Everything here is built-in-function only — zero Python in the row path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, parallelize_scan
from lua_mapreduce_spark.functions.texthash import oracle_words_expr, words_expr

# Tiny deterministic stopword lists for the language-ID heuristic. Votes are
# exact set-membership counts, so Spark and the oracle agree exactly.
_STOPWORDS = {
    "en": ("the", "and", "of", "is", "a", "to", "in", "it", "that", "was"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "sich", "auf"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "en", "que", "por"),
}


def text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    return (
        docs.select(F.explode(F.expr(words_expr("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


WORDCOUNT_ORACLE = f"""
SELECT w.word AS word, COUNT(*) AS cnt
FROM documents, unnest({oracle_words_expr("text")}) AS w(word)
GROUP BY w.word
"""


def text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word bigram counts — n-gram generation via array lambdas, no UDF.

    The token array is materialized in its own projection: inlining the
    regexp tokenizer into the transform lambda would re-run it per array
    index (O(tokens × regexp) per row — measured 20× slower)."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    return (
        docs.select(F.expr(words_expr("text")).alias("l"))
        .filter(F.size("l") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(0, size(l) - 2), i -> concat(l[i], ' ', l[i+1]))")
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


BIGRAMS_ORACLE = f"""
WITH toks AS (SELECT {oracle_words_expr("text")} AS l FROM documents)
SELECT b.bigram AS bigram, COUNT(*) AS cnt
FROM toks, unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS b(bigram)
WHERE len(l) >= 2
GROUP BY b.bigram
"""


def text_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char statistics (quality-pipeline features)."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", F.length("text").alias("text_len"), F.expr(words_expr("text")).alias("l")
    ).select(
        "doc_id",
        "text_len",
        F.size("l").alias("n_tokens"),
        F.size(F.array_distinct("l")).alias("n_unique_tokens"),
        (
            F.aggregate("l", F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)).cast("double")
            / F.size("l").cast("double")
        ).alias("avg_token_len"),
    )


DOC_STATS_ORACLE = f"""
WITH toks AS (SELECT doc_id, text, {oracle_words_expr("text")} AS l FROM documents)
SELECT doc_id,
       LENGTH(text) AS text_len,
       CAST(len(l) AS INT) AS n_tokens,
       CAST(len(list_distinct(l)) AS INT) AS n_unique_tokens,
       CAST(list_sum(list_transform(l, w -> LENGTH(w))) AS DOUBLE)
         / CAST(len(l) AS DOUBLE) AS avg_token_len
FROM toks
"""


def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: word pieces + standalone punctuation, the
    usual pre-tokenizer regex. Dialect-safe character classes only."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    # Spark's SQL literal parser consumes one backslash level, so \\s here.
    pat = "[A-Za-z0-9_]+|[^A-Za-z0-9_\\\\s]"
    return docs.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, '({pat})', 1)")).alias("n_bpe_tokens"),
        F.size(F.expr(r"regexp_extract_all(text, '([0-9]+)', 1)")).alias("n_number_tokens"),
    )


TOKEN_COUNT_ORACLE = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS INT) AS n_bpe_tokens,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_number_tokens
FROM documents
"""


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality features: alpha ratio, whitespace ratio, mean
    word length, and a composite score. All integer-count ratios → exact."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    n_alpha = F.col("n_alpha").cast("double")
    n_space = F.col("n_space").cast("double")
    n_chars = F.col("n_chars").cast("double")
    n_toks = F.col("n_toks").cast("double")
    return docs.select(
        "doc_id",
        F.size(F.expr("regexp_extract_all(text, '([A-Za-z])', 1)")).alias("n_alpha"),
        F.size(F.expr(r"regexp_extract_all(text, '(\\s)', 1)")).alias("n_space"),
        F.length("text").alias("n_chars"),
        F.size(F.expr(words_expr("text"))).alias("n_toks"),
    ).select(
        "doc_id",
        (n_alpha / n_chars).alias("alpha_ratio"),
        (n_space / n_chars).alias("space_ratio"),
        F.when(n_toks > 0, (n_alpha / n_toks)).otherwise(F.lit(0.0)).alias("mean_word_len"),
        ((n_alpha / n_chars) * F.lit(0.7) + (n_space / n_chars) * F.lit(0.3)).alias("quality_score"),
    )


QUALITY_ORACLE = f"""
WITH c AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) AS n_alpha,
         CAST(len(regexp_extract_all(text, '\\s')) AS DOUBLE) AS n_space,
         CAST(LENGTH(text) AS DOUBLE) AS n_chars,
         CAST(len({oracle_words_expr("text")}) AS DOUBLE) AS n_toks
  FROM documents)
SELECT doc_id,
       n_alpha / n_chars AS alpha_ratio,
       n_space / n_chars AS space_ratio,
       CASE WHEN n_toks > 0 THEN n_alpha / n_toks ELSE 0.0 END AS mean_word_len,
       (n_alpha / n_chars) * 0.7 + (n_space / n_chars) * 0.3 AS quality_score
FROM c
"""


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-free stopword-vote language ID; deterministic argmax with a
    fixed language preference order for ties."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    votes = {
        lang: F.expr(
            f"size(filter(l, w -> w IN ({', '.join(repr(w) for w in ws)})))"
        ).alias(f"votes_{lang}")
        for lang, ws in _STOPWORDS.items()
    }
    scored = docs.select(
        "doc_id", "lang", F.expr(words_expr("text")).alias("l")
    ).select("doc_id", "lang", *votes.values())
    best = F.greatest(*[F.col(f"votes_{lang}") for lang in _STOPWORDS])
    pred = F.when(best == 0, F.lit("unknown"))
    for lang in _STOPWORDS:  # fixed preference order breaks ties
        pred = pred.when(F.col(f"votes_{lang}") == best, F.lit(lang))
    return scored.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        pred.alias("pred_lang"),
        *[F.col(f"votes_{lang}") for lang in _STOPWORDS],
    )


def _langid_oracle() -> str:
    vote_cols = ",\n         ".join(
        f"CAST(len(list_filter(l, w -> w IN ({', '.join(repr(w) for w in ws)}))) AS INT) AS votes_{lang}"
        for lang, ws in _STOPWORDS.items()
    )
    best = f"GREATEST({', '.join('votes_' + lang for lang in _STOPWORDS)})"
    case = " ".join(f"WHEN votes_{lang} = {best} THEN '{lang}'" for lang in _STOPWORDS)
    return f"""
WITH toks AS (SELECT doc_id, lang, {oracle_words_expr("text")} AS l FROM documents),
scored AS (
  SELECT doc_id, lang,
         {vote_cols}
  FROM toks)
SELECT doc_id, lang AS true_lang,
       CASE WHEN {best} = 0 THEN 'unknown' {case} END AS pred_lang,
       {', '.join('votes_' + lang for lang in _STOPWORDS)}
FROM scored
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical document fingerprint: lowercase, collapse whitespace, md5.
    The exact-dedup key used by dedup.py."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    normalized = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return docs.select(
        "doc_id",
        F.md5(normalized).alias("fingerprint"),
        F.length(normalized).alias("norm_len"),
    )


FINGERPRINT_ORACLE = r"""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
       LENGTH(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS norm_len
FROM documents
"""


def text_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document term frequency of the top word — tf plus doc frequency,
    the IDF building block."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    words = docs.select(
        "doc_id", F.explode(F.expr(words_expr("text"))).alias("word")
    )
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_ = words.distinct().groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    return tf.join(df_, "word").filter(F.col("tf") >= 5).select("doc_id", "word", "tf", "df")


TERMFREQ_ORACLE = f"""
WITH words AS (
  SELECT doc_id, w.word AS word
  FROM documents, unnest({oracle_words_expr("text")}) AS w(word)),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY doc_id, word),
df AS (SELECT word, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, word FROM words) GROUP BY word)
SELECT tf.doc_id, tf.word, tf.tf, df.df
FROM tf JOIN df ON tf.word = df.word
WHERE tf.tf >= 5
"""


def text_normalize_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized Pandas UDF doing canonical text normalization
    (lower, collapse whitespace, trim) — the pattern for when Python IS
    required (tokenizers, model calls): one Arrow batch crossing, pandas
    vectorized string kernels, never row-at-a-time Python. Output parity
    with the pure-SQL formulation is oracle-checked, so the UDF path is
    proven semantics-identical to the JVM path."""

    @F.pandas_udf("string")
    def normalize(s: pd.Series) -> pd.Series:
        return (
            s.str.lower()
            .str.replace(r"[ \t\n\r\f\v]+", " ", regex=True)
            .str.strip()
        )

    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        normalize(F.col("text")).alias("norm_text"),
    ).filter(F.col("doc_id") % 10 == 0)


NORMALIZE_UDF_ORACLE = r"""
SELECT doc_id,
       trim(regexp_replace(lower(text), '[ \t\n\r\f\v]+', ' ', 'g')) AS norm_text
FROM documents WHERE doc_id % 10 = 0
"""


_RK_K = 16  # rolling-hash window (chars)


def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp-style rolling fingerprint: base-8 polynomial hash over
    every 16-char window, reduced to (min hash, distinct count) per doc —
    the winnowing building block. Base 8 keeps every term an exact shifted
    integer (max ~2^56 < int64), so the same arithmetic is bit-identical
    in any engine — no modular reduction, no float. All computed in ONE
    projection via nested array lambdas: no explode, no shuffle.

    The char codes are materialized ONCE per doc (split + ascii, O(len))
    before the window sums index into the array (r17 optimization round,
    guide §1.2 per-task work): the previous form called
    ascii(substring(text, i + j, 1)) inside the window lambda — k calls
    per window, each an O(position) codepoint seek on the UTF8 string, so
    a doc cost O(len^2 * k) byte scans. Array indexing is O(1), so the
    window pass is O(len * k) and the one split pass O(len).
    split(text, '') yields exactly one element per character (verified
    incl. multi-byte and control chars), so ascii() sees the same
    single-char strings and every hash value is bit-identical."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    k = _RK_K
    hashes = (
        f"transform(sequence(0, size(_cs) - {k}), i -> "
        f"aggregate(transform(sequence(1, {k}), j -> "
        f"_cs[i + j - 1]"
        f" * shiftleft(CAST(1 AS BIGINT), 3 * ({k} - j))), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x))"
    )
    return (
        docs.filter(F.length("text") >= k)
        .select(
            "doc_id",
            F.expr(
                "transform(split(text, ''), ch -> CAST(ascii(ch) AS BIGINT))"
            ).alias("_cs"),
        )
        .select("doc_id", F.expr(hashes).alias("_h"))
        .select(
            "doc_id",
            F.array_min("_h").alias("min_fingerprint"),
            F.size(F.array_distinct("_h")).alias("n_distinct_windows"),
        )
    )


ROLLING_FP_ORACLE = f"""
WITH h AS (
  SELECT doc_id,
         list_transform(range(0, length(text) - {_RK_K} + 1), i ->
           list_sum(list_transform(range(1, {_RK_K} + 1), j ->
             CAST(ascii(substring(text, CAST(i + j AS INT), 1)) AS BIGINT)
               * (CAST(1 AS BIGINT) << (3 * ({_RK_K} - j)))))) AS hs
  FROM documents WHERE length(text) >= {_RK_K})
SELECT doc_id,
       CAST(list_min(hs) AS BIGINT) AS min_fingerprint,
       CAST(len(list_distinct(hs)) AS INT) AS n_distinct_windows
FROM h
"""


# --------------------------------------------------------------------------
# Collocation extraction (PMI-ordered association scoring)
# --------------------------------------------------------------------------

_COLL_MIN = 20  # bigram count floor: rank only attested pairs
_COLL_K = 50


def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise-mutual-information ORDER: lift =
    c(xy)*N / (c(x)*c(y)) ranks identically to PMI (log is monotone) with
    three IEEE double ops in a fixed syntactic order — bit-identical in
    both engines, the same transcendental-free trick as text_tfidf.

    Scale shape: one tokenize scan feeds both the unigram and the bigram
    aggregation (map-side combinable; type counts bounded by vocab, not
    corpus); the scoring joins key on single words; the global top-K sorts
    only the df-floored bigram TYPE table. N is a 1-row broadcast."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    tt = docs.select(F.expr(words_expr("text")).alias("l")).filter(F.size("l") >= 2)
    uni = (
        tt.select(F.explode("l").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cx"))
        # Kept (lazy): 0.47 -> 0.55 s at sf0.01 without it (tools/checkpoint_sweep.py).
        .localCheckpoint(eager=False)
    )
    n = uni.agg(F.sum("cx").alias("n_tokens"))
    big = (
        tt.select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(l) - 2),"
                    " i -> struct(l[i] AS w1, l[i+1] AS w2))"
                )
            ).alias("b")
        )
        .groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c_bigram"))
        .filter(F.col("c_bigram") >= _COLL_MIN)
    )
    u1 = uni.select(F.col("word").alias("w1"), F.col("cx").alias("c_w1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("cx").alias("c_w2"))
    from pyspark.sql import Window

    scored = (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            "c_bigram",
            "c_w1",
            "c_w2",
            F.expr(
                "(CAST(c_bigram AS DOUBLE) * CAST(n_tokens AS DOUBLE))"
                " / (CAST(c_w1 AS DOUBLE) * CAST(c_w2 AS DOUBLE))"
            ).alias("lift"),
        )
    )
    w = Window.orderBy(F.desc("lift"), F.asc("bigram"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _COLL_K)
    )


COLLOCATIONS_ORACLE = f"""
WITH tt AS (
  SELECT l FROM (SELECT {oracle_words_expr("text")} AS l FROM documents)
  WHERE len(l) >= 2),
uni AS (
  SELECT w.word, COUNT(*) AS cx FROM tt, unnest(l) AS w(word) GROUP BY 1),
n AS (SELECT SUM(cx) AS n_tokens FROM uni),
big AS (
  SELECT l[i] AS w1, l[i + 1] AS w2, COUNT(*) AS c_bigram
  FROM tt, unnest(range(1, len(l))) AS r(i)
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_COLL_MIN}),
scored AS (
  SELECT w1 || ' ' || w2 AS bigram, c_bigram, u1.cx AS c_w1, u2.cx AS c_w2,
         (CAST(c_bigram AS DOUBLE) * CAST(n_tokens AS DOUBLE))
           / (CAST(u1.cx AS DOUBLE) * CAST(u2.cx AS DOUBLE)) AS lift
  FROM big
  JOIN uni u1 ON big.w1 = u1.word
  JOIN uni u2 ON big.w2 = u2.word
  CROSS JOIN n)
SELECT bigram, c_bigram, c_w1, c_w2, lift, rank FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY lift DESC, bigram ASC) AS rank
  FROM scored)
WHERE rank <= {_COLL_K}
"""


QUERIES = {
    "text_collocations": text_collocations,
    "text_rolling_fingerprint": text_rolling_fingerprint,
    "text_normalize_pandas_udf": text_normalize_pandas_udf,
    "text_wordcount": text_wordcount,
    "text_bigrams": text_bigrams,
    "text_doc_stats": text_doc_stats,
    "text_token_count_bpe": text_token_count_bpe,
    "text_quality_score": text_quality_score,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
    "text_term_frequency": text_term_frequency,
}

ORACLES = {
    "text_collocations": COLLOCATIONS_ORACLE,
    "text_rolling_fingerprint": ROLLING_FP_ORACLE,
    "text_normalize_pandas_udf": NORMALIZE_UDF_ORACLE,
    "text_wordcount": WORDCOUNT_ORACLE,
    "text_bigrams": BIGRAMS_ORACLE,
    "text_doc_stats": DOC_STATS_ORACLE,
    "text_token_count_bpe": TOKEN_COUNT_ORACLE,
    "text_quality_score": QUALITY_ORACLE,
    "text_langid": _langid_oracle(),
    "text_fingerprint": FINGERPRINT_ORACLE,
    "text_term_frequency": TERMFREQ_ORACLE,
}
