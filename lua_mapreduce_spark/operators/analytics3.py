"""Round-9 operator wave: fuzzy string joins, diversity scoring,
incremental view maintenance, equi-depth histograms, and snapshot
reconciliation.

Like every operator module, these extend the reference's single
map-shuffle-reduce surface (SURVEY.md §2.4's capability matrix — the
reference has no joins at all, lua-mapreduce-server.lua:269-291 drives a
one-input dataflow) with the query shapes a production lake needs, each
re-expressed Spark-first with a DuckDB oracle.

Exactness conventions (the repo house rules): integer arithmetic
everywhere (permille/cents scaling, truncating DIV), portable md5 60-bit
hashes (functions/texthash.py), DuckDB SUMs cast back to BIGINT so no
HUGEINT reaches the driver's typed hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, parallelize_scan
from lua_mapreduce_spark.functions.texthash import (
    md5_bigint_expr,
    oracle_md5_bigint_expr,
    oracle_words_expr,
    words_expr,
)

# --------------------------------------------------------------------------
# Edit-distance self-join with q-gram prefix filtering (Ed-Join style,
# Gravano et al. 2001 / Xiao et al. 2008)
# --------------------------------------------------------------------------

_ED_K = 1  # edit-distance threshold
_ED_Q = 2  # gram width
_ED_PREFIX = _ED_K * _ED_Q + 1  # 3: the mismatch-prefix length
_ED_DOMAIN = 500  # bounded id domain so the DIRECT all-pairs oracle stays
#                   feasible at every SF (the engine plan itself is the
#                   scale path and never materializes all pairs)


def dedup_edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Levenshtein <= _ED_K self-join over part names via q-gram
    PREFIX filtering — the edit-distance sibling of
    ``dedup_jaccard_prefix_join``.

    Theory: one edit destroys at most q distinct q-grams, so strings
    within distance k share all but <= k*q of their distinct gram sets;
    by the prefix-filter lemma, under any global total order the
    (k*q + 1)-prefixes of two matching strings must share a gram. Rarity
    order (document frequency ASC, gram ASC) puts hot grams at set tails
    where they never enter a prefix — the same structural skew-killer as
    the Jaccard prefix join: no gram fans out more than its prefix
    occurrences. The length filter |len_a - len_b| <= k (distance >=
    length difference) is a second lossless residual on the candidate
    join. Exact ``levenshtein`` verification makes candidate generation a
    pure performance concern; the ORACLE is the direct all-pairs form,
    so result equality is the losslessness proof. The length >= 7 guard
    makes the prefix theorem unconditional here: two length >= 7 strings
    within one edit always share a distinct bigram (the untouched
    contiguous run has length >= 3).

    Scale shape: grams from one scan (map-side explode of a bounded
    12-char name), df via one COUNT window on the gram partition, prefix
    via per-id row_number (WindowGroupLimit), candidates only from
    prefix-gram collisions, verify joins keyed on id. The id-domain cap
    exists for the oracle, not the plan."""
    part = load_table(spark, sf_dir, "part")
    names = (
        part.filter(
            (F.col("p_partkey") <= _ED_DOMAIN) & (F.length("p_name") >= 7)
        )
        .select(
            F.col("p_partkey").alias("id"),
            F.col("p_name").alias("nm"),
            F.length("p_name").alias("ln"),
        )
    )
    grams = names.select(
        "id",
        "ln",
        F.explode(
            F.expr(
                f"array_distinct(transform(sequence(1, ln - {_ED_Q - 1}),"
                f" i -> substring(nm, i, {_ED_Q})))"
            )
        ).alias("g"),
    )
    ranked = grams.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("g"))
    ).withColumn(
        "rk", F.row_number().over(Window.partitionBy("id").orderBy("df", "g"))
    )
    prefix = ranked.filter(F.col("rk") <= _ED_PREFIX).select("id", "ln", "g")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.abs(F.col("a.ln") - F.col("b.ln")) <= _ED_K),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    na = names.select(F.col("id").alias("id_a"), F.col("nm").alias("nm_a"))
    nb = names.select(F.col("id").alias("id_b"), F.col("nm").alias("nm_b"))
    return (
        cand.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "dist", F.expr("CAST(levenshtein(nm_a, nm_b) AS BIGINT)")
        )
        .filter(F.col("dist") <= _ED_K)
        .select("id_a", "id_b", "dist")
    )


EDIT_DISTANCE_ORACLE = f"""
WITH names AS (
  SELECT p_partkey AS id, p_name AS nm FROM part
  WHERE p_partkey <= {_ED_DOMAIN} AND length(p_name) >= 7)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
FROM names a JOIN names b ON a.id < b.id
WHERE abs(length(a.nm) - length(b.nm)) <= {_ED_K}
  AND levenshtein(a.nm, b.nm) <= {_ED_K}
"""


# --------------------------------------------------------------------------
# Behavioral diversity: Gini-Simpson index per user (integer permille)
# --------------------------------------------------------------------------


def events_gini_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type diversity as the EXACT Gini-Simpson index in
    permille: 1000 - (1000 * Σ c_i(c_i-1)) DIV (n(n-1)) — the probability
    (permille, truncated) that two events drawn without replacement have
    different types. The entropy-free diversity score: every step is
    integer, so the oracle is exact (Shannon entropy needs log).

    Scale shape: one map-side-combinable (user, type) count, then one
    per-user combine — two shuffles total, output linear in users, the
    same contract as the RFM aggregate."""
    ev = load_table(spark, sf_dir, "events")
    ct = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    per = ct.groupBy("user_id").agg(
        F.expr("CAST(SUM(c) AS BIGINT)").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.expr("CAST(SUM(c * (c - 1)) AS BIGINT)").alias("ss"),
    )
    return per.filter(F.col("n_events") >= 2).select(
        "user_id",
        "n_events",
        "n_types",
        F.expr(
            "1000 - (1000 * ss) DIV (n_events * (n_events - 1))"
        ).alias("diversity_permille"),
    )


GINI_DIVERSITY_ORACLE = """
WITH ct AS (
  SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2),
per AS (
  SELECT user_id,
         CAST(SUM(c) AS BIGINT) AS n_events,
         COUNT(*) AS n_types,
         CAST(SUM(c * (c - 1)) AS BIGINT) AS ss
  FROM ct GROUP BY 1)
SELECT user_id, n_events, n_types,
       1000 - (1000 * ss) // (n_events * (n_events - 1)) AS diversity_permille
FROM per WHERE n_events >= 2
"""


# --------------------------------------------------------------------------
# Incremental view maintenance: delta-decomposed join refresh
# --------------------------------------------------------------------------

_IVM_CUTOFF = "1998-01-01"


def ivm_delta_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a join view: ΔV of V = A ⋈ B under
    simultaneous inserts to both sides decomposes as
    A_old⋈B_old ∪ ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB — the classic IVM delta
    algebra (Blakeley et al. 1986). Orders and lineitem are split into
    base/delta by a cutoff date; the face computes the view (revenue per
    order priority) FROM the four-way decomposition, and the oracle
    computes it from the direct join — equality proves the decomposition
    is an exact partition of A ⋈ B (disjoint and exhaustive).

    Scale shape: in production the A_old⋈B_old term is the MATERIALIZED
    view (never recomputed — a refresh shuffles only the delta rows,
    |ΔA| + |ΔB| scale, not |A| + |B|); the face recomputes it because
    proving the algebra IS the point. Each term is an equi-join on
    o_orderkey followed by partial aggregation into <= 5 groups."""
    cut = f"TIMESTAMP '{_IVM_CUTOFF} 00:00:00'"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_shipdate",
        F.expr("CAST(round(l_extendedprice * 100.0) AS BIGINT)").alias(
            "rev_cents"
        ),
    )
    a_old = orders.filter(F.expr(f"o_orderdate < {cut}"))
    a_new = orders.filter(F.expr(f"o_orderdate >= {cut}"))
    b_old = li.filter(F.expr(f"l_shipdate < {cut}"))
    b_new = li.filter(F.expr(f"l_shipdate >= {cut}"))

    def term(a: DataFrame, b: DataFrame) -> DataFrame:
        return a.join(b, a["o_orderkey"] == b["l_orderkey"]).select(
            "o_orderpriority", "rev_cents"
        )

    unioned = (
        term(a_old, b_old)
        .unionAll(term(a_new, b_old))
        .unionAll(term(a_old, b_new))
        .unionAll(term(a_new, b_new))
    )
    return unioned.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("CAST(SUM(rev_cents) AS BIGINT)").alias("revenue_cents"),
    )


IVM_DELTA_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Equi-depth (quantile-bounded) histogram
# --------------------------------------------------------------------------

_EH_B = 8  # buckets


def _eh_fractions() -> list[str]:
    return [f"{i / _EH_B}" for i in range(1, _EH_B)]


def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of order totals: _EH_B buckets bounded by the
    exact interpolated i/8 percentiles — the optimizer-statistics /
    data-skipping histogram where every bucket holds ~the same row count
    (contrast agg_histogram_bins' fixed-width buckets).

    Exactness: boundaries come from Spark's exact ``percentile`` (DuckDB
    ``quantile_cont`` — same (n-1)p interpolation); on integer cents the
    interpolated values are small dyadic fractions, bit-exact in both
    engines (the agg_percentiles precedent). Bucket assignment is pure
    comparison arithmetic, so the output carries only integers.

    Scale shape: one pass for the 7-value boundary row (Spark's
    percentile is a sort-based agg here; at extreme scale you'd swap in
    approx_percentile and lose the oracle), broadcast to a map-side
    bucket assignment + combinable count — no second sort."""
    src = load_table(spark, sf_dir, "orders").select(
        F.expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").alias("cents")
    )
    fr = ", ".join(_eh_fractions())
    bounds = src.agg(F.expr(f"percentile(cents, array({fr}))").alias("q"))
    bucket = " + ".join(
        f"CAST(cents > element_at(q, {i}) AS INT)" for i in range(1, _EH_B)
    )
    return (
        src.crossJoin(F.broadcast(bounds))
        .select(F.expr(f"CAST(1 + {bucket} AS BIGINT)").alias("bucket"), "cents")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
    )


_EH_ORACLE_BUCKET = " + ".join(
    f"CAST(cents > q[{i}] AS INT)" for i in range(1, _EH_B)
)

EQUIDEPTH_ORACLE = f"""
WITH src AS (
  SELECT CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents FROM orders),
bounds AS (
  SELECT quantile_cont(cents, [{", ".join(_eh_fractions())}]) AS q FROM src)
SELECT CAST(1 + {_EH_ORACLE_BUCKET} AS BIGINT) AS bucket,
       COUNT(*) AS n_orders,
       MIN(cents) AS min_cents,
       MAX(cents) AS max_cents
FROM src, bounds GROUP BY 1
"""


# --------------------------------------------------------------------------
# Snapshot reconciliation: bucketed table diff (merkle-style)
# --------------------------------------------------------------------------

_TD_UPD_MOD = 997  # keys whose price drifts one cent in the snapshot
_TD_DEL_MOD = 1009  # keys deleted from the snapshot
_TD_CKS_MOD = 1_000_000_007  # checksum modulus: keeps SUM inside int64


def diag_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH month-buckets of two table snapshots diverge — the
    replication / backfill reconciliation primitive: per bucket, compare
    (row count, order-insensitive md5 checksum) and emit only differing
    buckets. The divergent snapshot is derived deterministically inside
    the query (every _TD_DEL_MOD-th key deleted, every _TD_UPD_MOD-th
    price drifted one cent) so the oracle replays both sides exactly.

    Scale shape: each side is ONE map-side-combinable aggregate into
    O(months) rows — no row-level join anywhere; the bucket join is over
    the tiny digest tables. The checksum is Σ (60-bit md5 % p): order-
    insensitive, mergeable, and any single-row change moves it (mod-p
    collisions need ~p rows per bucket). This is how you find the 3
    divergent partitions of a 100 TB replicated table without shipping
    rows."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").alias("cents"),
    )
    snap = orders.filter(
        F.expr(f"o_orderkey % {_TD_DEL_MOD} != 0")
    ).withColumn(
        "cents",
        F.expr(f"cents + IF(o_orderkey % {_TD_UPD_MOD} = 0, 1, 0)"),
    )
    h = md5_bigint_expr(
        "concat(CAST(o_orderkey AS STRING), ':', CAST(cents AS STRING))"
    )

    def digest(df: DataFrame, n_name: str, ck_name: str) -> DataFrame:
        return (
            df.select(
                F.date_format("o_orderdate", "yyyy-MM").alias("month"),
                F.expr(h).alias("h"),
            )
            .groupBy("month")
            .agg(
                F.count(F.lit(1)).alias(n_name),
                F.expr(f"CAST(SUM(h % {_TD_CKS_MOD}) AS BIGINT)").alias(
                    ck_name
                ),
            )
        )

    b = digest(orders, "n_base", "ck_base")
    s = digest(snap, "n_snap", "ck_snap")
    return (
        b.join(s, "month", "full_outer")
        .select(
            "month",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_snap", F.lit(0)).alias("n_snap"),
            F.coalesce("ck_base", F.lit(0)).alias("ck_base"),
            F.coalesce("ck_snap", F.lit(0)).alias("ck_snap"),
        )
        .filter(
            (F.col("n_base") != F.col("n_snap"))
            | (F.col("ck_base") != F.col("ck_snap"))
        )
    )


_TD_ORACLE_H = oracle_md5_bigint_expr(
    "(CAST(o_orderkey AS VARCHAR) || ':' || CAST(cents AS VARCHAR))"
)

TABLE_DIFF_ORACLE = f"""
WITH src AS (
  SELECT o_orderkey, o_orderdate,
         CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents
  FROM orders),
snap AS (
  SELECT o_orderkey, o_orderdate,
         cents + CASE WHEN o_orderkey % {_TD_UPD_MOD} = 0 THEN 1 ELSE 0 END
           AS cents
  FROM src WHERE o_orderkey % {_TD_DEL_MOD} != 0),
db AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         COUNT(*) AS n_base,
         CAST(SUM({_TD_ORACLE_H} % {_TD_CKS_MOD}) AS BIGINT) AS ck_base
  FROM src GROUP BY 1),
ds AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         COUNT(*) AS n_snap,
         CAST(SUM({_TD_ORACLE_H} % {_TD_CKS_MOD}) AS BIGINT) AS ck_snap
  FROM snap GROUP BY 1)
SELECT COALESCE(db.month, ds.month) AS month,
       COALESCE(n_base, 0) AS n_base,
       COALESCE(n_snap, 0) AS n_snap,
       COALESCE(ck_base, 0) AS ck_base,
       COALESCE(ck_snap, 0) AS ck_snap
FROM db FULL OUTER JOIN ds ON db.month = ds.month
WHERE COALESCE(n_base, 0) != COALESCE(n_snap, 0)
   OR COALESCE(ck_base, 0) != COALESCE(ck_snap, 0)
"""


# --------------------------------------------------------------------------
# BPE merge learning (tokenizer training, fixed unrolled rounds)
# --------------------------------------------------------------------------

_BPE_ROUNDS = 3

# Initial encoding: every character double-space-separated. The DOUBLE
# delimiter is what makes naive string replace a correct BPE merge step:
# the search pattern ' l  r ' carries ONE outer space on each side, so a
# match consumes only half of each neighboring delimiter and consecutive
# occurrences ('x y x y x') never share characters — leftmost
# non-overlapping replace in both engines == the greedy left-to-right BPE
# merge pass. A single-space delimiter would also let a pair match across
# token boundaries (token 'xa' followed by 'b' contains 'a b').
_BPE_ENC0 = "trim(regexp_replace(w, '(.)', '$1  '))"


def text_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first _BPE_ROUNDS byte-pair-encoding merges from the
    document corpus — the tokenizer-training reduce (Sennrich et al.
    2016): per round, count adjacent symbol pairs weighted by word
    frequency, merge the most frequent pair corpus-wide, re-encode,
    repeat. Output: (merge_round, l, r, merged, pair_count) — the merge
    table a BPE tokenizer ships.

    Deterministic ties (count DESC, l DESC, r DESC via one
    max(struct(cnt, l, r)) aggregation — no sort) and pure string/integer
    arithmetic make the whole training loop exactly replayable by an
    unrolled-CTE DuckDB oracle, including the merge applications.

    Scale shape: the ONLY corpus-sized work is the initial tokenize +
    word-frequency count (one shuffle); every round after that operates
    on the WORD-TYPE table, whose cardinality is bounded by the language
    (~10^5-10^6 types), not the corpus — the standard BPE-training
    factorization. Per round: one map-side pair explode over the vocab,
    one map-combinable count, one 1-row argmax broadcast back into a
    map-side replace; the vocab encoding is localCheckpoint'd per round
    (each round references it twice: pair count + re-encode)."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    vocab = (
        docs.select(F.explode(F.expr(words_expr("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # Kept: 0.76 -> 1.01 s at sf0.1 without it (tools/checkpoint_sweep.py).
    enc = vocab.select("w", "tf", F.expr(_BPE_ENC0).alias("enc")).localCheckpoint(eager=True)
    merges = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        toks = enc.select("tf", F.split("enc", "  ").alias("a")).filter(
            F.size("a") >= 2
        )
        pairs = toks.select(
            "tf",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(a) - 1),"
                    " i -> struct(a[i-1] AS l, a[i] AS r))"
                )
            ).alias("p"),
        )
        cnt = pairs.groupBy("p.l", "p.r").agg(
            F.expr("CAST(SUM(tf) AS BIGINT)").alias("cnt")
        )
        top = (
            cnt.agg(F.max(F.struct("cnt", "l", "r")).alias("m"))
            .select(
                F.col("m.l").alias("l"),
                F.col("m.r").alias("r"),
                F.col("m.cnt").alias("cnt"),
            )
            .localCheckpoint(eager=True)
        )
        merges.append(
            top.select(
                F.lit(rnd).cast("bigint").alias("merge_round"),
                "l",
                "r",
                F.concat("l", "r").alias("merged"),
                F.col("cnt").alias("pair_count"),
            )
        )
        enc = (
            enc.crossJoin(F.broadcast(top))
            .select(
                "w",
                "tf",
                F.expr(
                    "trim(replace(concat(' ', enc, ' '),"
                    " concat(' ', l, '  ', r, ' '),"
                    " concat(' ', l, r, ' ')))"
                ).alias("enc"),
            )
            .localCheckpoint(eager=True)
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out


def _bpe_oracle() -> str:
    ctes = [
        f"""vocab AS MATERIALIZED (
  SELECT t.word AS w, COUNT(*) AS tf
  FROM (SELECT {oracle_words_expr("text")} AS lw FROM documents),
       unnest(lw) AS t(word)
  GROUP BY 1),
e0 AS MATERIALIZED (
  SELECT w, tf, trim(regexp_replace(w, '(.)', '\\1  ', 'g')) AS enc
  FROM vocab)"""
    ]
    for r in range(1, _BPE_ROUNDS + 1):
        ctes.append(f"""p{r} AS (
  SELECT a[i] AS l, a[i + 1] AS r, CAST(SUM(tf) AS BIGINT) AS cnt
  FROM (SELECT tf, string_split(enc, '  ') AS a FROM e{r - 1}) s,
       unnest(range(1, len(a))) AS u(i)
  GROUP BY 1, 2),
t{r} AS MATERIALIZED (
  SELECT l, r, cnt FROM p{r}
  ORDER BY cnt DESC, l DESC, r DESC LIMIT 1),
e{r} AS MATERIALIZED (
  SELECT w, tf,
         trim(replace(' ' || enc || ' ',
                      ' ' || t.l || '  ' || t.r || ' ',
                      ' ' || t.l || t.r || ' ')) AS enc
  FROM e{r - 1}, t{r} t)""")
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_round, l, r,"
        f" l || r AS merged, cnt AS pair_count FROM t{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + rows


BPE_MERGES_ORACLE = _bpe_oracle()


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE the corpus with the learned BPE merges — the tokenizer
    APPLICATION op the learn face implies (late-r10, SURVEY §7.4
    r11-candidate 1 pulled forward): run the same _BPE_ROUNDS training
    loop as text_bpe_learn_merges, then use the final vocab encoding
    (each word type's post-merge symbol sequence) as the tokenizer:
    tokens(word) = symbols in its final encoding. Per-language output:
    word occurrences, total BPE tokens, total characters, and the
    integer compression ratio tokens*100 DIV words — the numbers a
    training-data pipeline budgets context windows with.

    Scale shape: the training loop's per-round work is vocab-sized (see
    text_bpe_learn_merges); the encode step joins the corpus's exploded
    (lang, word) pairs to the vocab's (word -> n_tokens) table — the
    token-count table is language-bounded (word TYPES), so AQE picks
    broadcast vs shuffle by its runtime size; the final rollup groups by
    the 5-value lang enum. No new corpus-sized shuffle beyond the
    explode's map-side combine into the join."""
    docs = parallelize_scan(spark, load_table(spark, sf_dir, "documents"))
    words = docs.select(
        "lang", F.explode(F.expr(words_expr("text"))).alias("w")
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("tf"))
    # Kept: 0.95 -> 1.13 s at sf0.01 without it (tools/checkpoint_sweep.py).
    enc = vocab.select(
        "w", "tf", F.expr(_BPE_ENC0).alias("enc")
    ).localCheckpoint(eager=True)
    for _ in range(1, _BPE_ROUNDS + 1):
        toks = enc.select("tf", F.split("enc", "  ").alias("a")).filter(
            F.size("a") >= 2
        )
        pairs = toks.select(
            "tf",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(a) - 1),"
                    " i -> struct(a[i-1] AS l, a[i] AS r))"
                )
            ).alias("p"),
        )
        cnt = pairs.groupBy("p.l", "p.r").agg(
            F.expr("CAST(SUM(tf) AS BIGINT)").alias("cnt")
        )
        top = (
            cnt.agg(F.max(F.struct("cnt", "l", "r")).alias("m"))
            .select(F.col("m.l").alias("l"), F.col("m.r").alias("r"))
            .localCheckpoint(eager=True)
        )
        enc = (
            enc.crossJoin(F.broadcast(top))
            .select(
                "w",
                "tf",
                F.expr(
                    "trim(replace(concat(' ', enc, ' '),"
                    " concat(' ', l, '  ', r, ' '),"
                    " concat(' ', l, r, ' ')))"
                ).alias("enc"),
            )
            .localCheckpoint(eager=True)
        )
    tok_table = enc.select(
        "w", F.expr("CAST(size(split(enc, '  ')) AS BIGINT)").alias("n_tok")
    )
    return (
        words.join(tok_table, "w")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.expr("CAST(SUM(n_tok) AS BIGINT)").alias("n_tokens"),
            F.expr("CAST(SUM(length(w)) AS BIGINT)").alias("n_chars"),
        )
        .select(
            "lang",
            "n_words",
            "n_tokens",
            "n_chars",
            F.expr("n_tokens * 100 DIV n_words").alias("tokens_x100_per_word"),
        )
    )


def _bpe_encode_oracle() -> str:
    # Reuse the learn oracle's unrolled training CTEs (vocab/e0..eR/t1..tR)
    # verbatim, cutting at the first top-level SELECT (the learn oracle's
    # UNION ALL rows — every CTE-internal SELECT is indented, so the
    # newline-anchored split is unambiguous).
    ctes = BPE_MERGES_ORACLE.split("\nSELECT CAST(")[0][len("WITH ") :]
    return f"""
WITH {ctes},
corpus AS (
  SELECT lang, t.word AS w
  FROM (SELECT lang, {oracle_words_expr("text")} AS lw FROM documents),
       unnest(lw) AS t(word)),
tok AS (
  SELECT w, CAST(len(string_split(enc, '  ')) AS BIGINT) AS n_tok
  FROM e{_BPE_ROUNDS})
SELECT lang,
       COUNT(*) AS n_words,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(length(w)) AS BIGINT) AS n_chars,
       CAST(SUM(n_tok) AS BIGINT) * 100 // COUNT(*) AS tokens_x100_per_word
FROM corpus JOIN tok USING (w)
GROUP BY lang
"""


BPE_ENCODE_ORACLE = _bpe_encode_oracle()


# --------------------------------------------------------------------------
# Join-cardinality profiler (pre-flight diagnostics)
# --------------------------------------------------------------------------


def diag_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT pre-flight join-size profile for orders ⋈ lineitem on
    o_orderkey, WITHOUT running the join: |A ⋈ B| = Σ_k cA(k)·cB(k) over
    per-key counts — plus the key count, the hottest key and its output
    contribution, and the p-largest per-key product. These are the
    numbers that pick the strategy for a 100 TB join (broadcast? salt?
    AQE skew split?) at the cost of two map-side-combinable counts and a
    join of the COUNT tables (|keys| rows, not |rows|), never the join
    itself. Counterpart of diag_key_skew_profile (which profiles one
    table's groupBy keys; this profiles a join's output).

    All integer; the hot-key argmax is one max(struct) — no sort."""
    a = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    b = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    prod = a.join(b, "k").select(
        "k", F.expr("CAST(ca * cb AS BIGINT)").alias("rows_k")
    )
    return prod.agg(
        F.count(F.lit(1)).alias("n_join_keys"),
        F.expr("CAST(SUM(rows_k) AS BIGINT)").alias("join_rows"),
        F.expr("CAST(MAX(rows_k) AS BIGINT)").alias("max_key_rows"),
        F.expr("max_by(k, named_struct('r', rows_k, 'k', k))").alias("hot_key"),
    )


JOIN_CARDINALITY_ORACLE = """
WITH a AS (SELECT o_orderkey AS k, COUNT(*) AS ca FROM orders GROUP BY 1),
b AS (SELECT l_orderkey AS k, COUNT(*) AS cb FROM lineitem GROUP BY 1),
prod AS (SELECT a.k, CAST(ca * cb AS BIGINT) AS rows_k FROM a JOIN b ON a.k = b.k)
SELECT COUNT(*) AS n_join_keys,
       CAST(SUM(rows_k) AS BIGINT) AS join_rows,
       CAST(MAX(rows_k) AS BIGINT) AS max_key_rows,
       (SELECT k FROM prod ORDER BY rows_k DESC, k DESC LIMIT 1) AS hot_key
FROM prod
"""


# --------------------------------------------------------------------------
# CDC changelog apply (log compaction with deletes)
# --------------------------------------------------------------------------

_CDC_UPD_MOD = 5  # keys receiving an UPDATE (cents + 7)
_CDC_DEL_MOD = 7  # keys receiving a DELETE
_CDC_INS_MOD = 11  # base keys spawning an INSERT clone (key + max(k)+1)


def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply an ordered insert/update/delete changelog to a base
    snapshot — the CDC log-compaction primitive behind every lakehouse
    MERGE: union base rows (seq 0) with the change ops (seq 1..3), take
    the LAST op per key with ONE window (key, seq DESC), drop tombstones.
    A key can carry several ops (an updated key can later be deleted);
    the seq order resolves them exactly like a Debezium/Kafka compacted
    topic. The changelog is derived deterministically in-query (every
    5th key updated, every 7th deleted, every 11th cloned as an insert
    under key + max(k)+1) so the oracle replays it bit-for-bit. The
    insert offset is DERIVED from the base (1-row max aggregate,
    broadcast) rather than a constant: a fixed 10^7 offset collides
    with live o_orderkey values at SF >= 10, silently turning "inserts"
    into upserts; max(k)+1 keeps insert keys disjoint from the base at
    every scale factor.

    Scale shape: one unionAll (no shuffle) + one hash shuffle on the key
    for the window; rn = 1 compiles to WindowGroupLimit so each map task
    truncates its per-key run before the exchange. Output is the final
    state aggregated per order priority (bounded)."""
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        "o_orderpriority",
        F.expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").alias("cents"),
    )
    ops = [base.select("k", "o_orderpriority", "cents", F.lit(0).alias("seq"))]
    off = base.agg(F.expr("CAST(MAX(k) + 1 AS BIGINT)").alias("ins_off"))
    ins = (
        base.filter(F.expr(f"k % {_CDC_INS_MOD} = 0"))
        .crossJoin(F.broadcast(off))
        .select(
            F.expr("k + ins_off").alias("k"),
            "o_orderpriority",
            F.expr("cents + 13").alias("cents"),
            F.lit(1).alias("seq"),
        )
    )
    upd = base.filter(F.expr(f"k % {_CDC_UPD_MOD} = 0")).select(
        "k",
        "o_orderpriority",
        F.expr("cents + 7").alias("cents"),
        F.lit(2).alias("seq"),
    )
    dele = base.filter(F.expr(f"k % {_CDC_DEL_MOD} = 0")).select(
        "k",
        "o_orderpriority",
        F.lit(None).cast("bigint").alias("cents"),
        F.lit(3).alias("seq"),
    )
    log = ops[0].unionAll(ins).unionAll(upd).unionAll(dele)
    w = Window.partitionBy("k").orderBy(F.desc("seq"))
    final = (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("seq") != 3))
        .drop("rn", "seq")
    )
    return final.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("CAST(SUM(cents) AS BIGINT)").alias("sum_cents"),
    )


CDC_APPLY_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey AS k, o_orderpriority,
         CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents
  FROM orders),
log AS (
  SELECT k, o_orderpriority, cents, 0 AS seq FROM base
  UNION ALL
  SELECT k + (SELECT CAST(MAX(k) + 1 AS BIGINT) FROM base),
         o_orderpriority, cents + 13, 1
  FROM base WHERE k % {_CDC_INS_MOD} = 0
  UNION ALL
  SELECT k, o_orderpriority, cents + 7, 2
  FROM base WHERE k % {_CDC_UPD_MOD} = 0
  UNION ALL
  SELECT k, o_orderpriority, CAST(NULL AS BIGINT), 3
  FROM base WHERE k % {_CDC_DEL_MOD} = 0),
final AS (
  SELECT k, o_orderpriority, cents FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
    FROM log)
  WHERE rn = 1 AND seq != 3)
SELECT o_orderpriority, COUNT(*) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM final GROUP BY 1
"""


# --------------------------------------------------------------------------
# SCD2 point-in-time join (slowly-changing-dimension Type 2 lookup)
# --------------------------------------------------------------------------

_SCD2_MOD = 3  # customers whose balance has a second version
_SCD2_CUTOFF = "1998-07-01"  # v2 effective date (mid order-date range)
_SCD2_START = "1992-01-01"
_SCD2_END = "2002-12-31"
_SCD2_BUMP = 1000  # v2 balance delta, cents


def join_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time fact lookup against an SCD Type 2 dimension — the
    versioned-dimension join every warehouse runs: each order joins the
    customer VERSION whose [valid_from, valid_to) window contains the
    order date, not the current row. The versioned dim is derived
    deterministically in-query (every 3rd customer's balance gains a
    +10.00 version effective 1998-07-01; validity windows tile the full
    order-date range) so the oracle replays the history build exactly.

    Scale shape: the join keeps its EQUI key (custkey) so it stays a
    hash join — the validity-range predicate is a residual filter
    evaluated per matched pair, and with <= 2 versions per key the
    residual work is O(1) per fact row. The dim side is |customer| * <=2
    rows, the classic broadcast candidate (AQE picks it up at test SF).
    Never turn an SCD2 lookup into a pure range join — losing the equi
    key is what makes it quadratic. Output is bounded: per-segment
    counts and balance sums, all integer cents."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.expr("CAST(round(c_acctbal * 100.0) AS BIGINT)").alias("bal_cents"),
    )
    v1 = cust.select(
        "c_custkey",
        "c_mktsegment",
        "bal_cents",
        F.lit(_SCD2_START).cast("date").alias("valid_from"),
        F.expr(
            f"CASE WHEN c_custkey % {_SCD2_MOD} = 0 THEN DATE'{_SCD2_CUTOFF}' "
            f"ELSE DATE'{_SCD2_END}' END"
        ).alias("valid_to"),
    )
    v2 = cust.filter(F.expr(f"c_custkey % {_SCD2_MOD} = 0")).select(
        "c_custkey",
        "c_mktsegment",
        F.expr(f"bal_cents + {_SCD2_BUMP}").alias("bal_cents"),
        F.lit(_SCD2_CUTOFF).cast("date").alias("valid_from"),
        F.lit(_SCD2_END).cast("date").alias("valid_to"),
    )
    dim = v1.unionAll(v2)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.expr("CAST(o_orderdate AS DATE)").alias("od")
    )
    j = orders.join(
        dim,
        (orders["o_custkey"] == dim["c_custkey"])
        & (F.col("od") >= dim["valid_from"])
        & (F.col("od") < dim["valid_to"]),
    )
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr("CAST(SUM(bal_cents) AS BIGINT)").alias("sum_bal_cents"),
        F.expr(
            f"CAST(SUM(CASE WHEN valid_from = DATE'{_SCD2_CUTOFF}' "
            "THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_v2_hits"),
    )


SCD2_ORACLE = f"""
WITH cust AS (
  SELECT c_custkey, c_mktsegment,
         CAST(round(c_acctbal * 100.0) AS BIGINT) AS bal_cents
  FROM customer),
dim AS (
  SELECT c_custkey, c_mktsegment, bal_cents,
         DATE '{_SCD2_START}' AS valid_from,
         CASE WHEN c_custkey % {_SCD2_MOD} = 0 THEN DATE '{_SCD2_CUTOFF}'
              ELSE DATE '{_SCD2_END}' END AS valid_to
  FROM cust
  UNION ALL
  SELECT c_custkey, c_mktsegment, bal_cents + {_SCD2_BUMP},
         DATE '{_SCD2_CUTOFF}', DATE '{_SCD2_END}'
  FROM cust WHERE c_custkey % {_SCD2_MOD} = 0)
SELECT c_mktsegment, COUNT(*) AS n_orders,
       CAST(SUM(bal_cents) AS BIGINT) AS sum_bal_cents,
       CAST(SUM(CASE WHEN valid_from = DATE '{_SCD2_CUTOFF}'
                THEN 1 ELSE 0 END) AS BIGINT) AS n_v2_hits
FROM orders JOIN dim
  ON o_custkey = c_custkey
 AND CAST(o_orderdate AS DATE) >= valid_from
 AND CAST(o_orderdate AS DATE) < valid_to
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Declarative constraint audit (data-quality expectations, Deequ-style)
# --------------------------------------------------------------------------

_AUDIT_FRESH = "1996-01-01"  # freshness expectation on order dates


def diag_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit: evaluate a declared constraint suite (range,
    sign, freshness, and referential-integrity checks over customer /
    orders / lineitem) and emit one (check_name, n_checked,
    n_violations) row per constraint — the Deequ/expectations pattern.

    Scale shape: ONE aggregate pass per fact table, never one scan per
    constraint — every predicate check is a SUM(CASE ...) folded into
    the same aggregate, and the FK checks ride along: customer→nation is
    a broadcast left join (25 rows), orders→customer a key left join,
    and lineitem→orders the COUNT-TABLE form (pre-aggregate per
    l_orderkey, join |keys| rows — never ship |rows| into the RI join).
    The per-pass result is ONE row explode()d into constraint rows, so
    at 100 TB the audit costs three scans + two key joins total."""
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey")
    nation = F.broadcast(nation)  # constant 25 rows
    cust = load_table(spark, sf_dir, "customer")
    cust_row = (
        cust.join(nation, cust["c_nationkey"] == nation["n_nationkey"], "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("v_bal"),
            F.expr(
                "CAST(SUM(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("v_fk"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("customer_acctbal_nonnegative").alias("check_name"),
                        F.col("n").alias("n_checked"),
                        F.col("v_bal").alias("n_violations"),
                    ),
                    F.struct(
                        F.lit("customer_nation_fk").alias("check_name"),
                        F.col("n").alias("n_checked"),
                        F.col("v_fk").alias("n_violations"),
                    ),
                )
            ).alias("c")
        )
        .select("c.*")
    )
    ckeys = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck")
    )
    orders = load_table(spark, sf_dir, "orders")
    ord_row = (
        orders.join(ckeys, orders["o_custkey"] == ckeys["ck"], "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("v_price"),
            F.expr(
                f"CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) < "
                f"DATE'{_AUDIT_FRESH}' THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("v_fresh"),
            F.expr(
                "CAST(SUM(CASE WHEN ck IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("v_fk"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("orders_totalprice_positive").alias("check_name"),
                        F.col("n").alias("n_checked"),
                        F.col("v_price").alias("n_violations"),
                    ),
                    F.struct(
                        F.lit("orders_fresh_since_1996").alias("check_name"),
                        F.col("n").alias("n_checked"),
                        F.col("v_fresh").alias("n_violations"),
                    ),
                    F.struct(
                        F.lit("orders_custkey_fk").alias("check_name"),
                        F.col("n").alias("n_checked"),
                        F.col("v_fk").alias("n_violations"),
                    ),
                )
            ).alias("c")
        )
        .select("c.*")
    )
    okeys = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok")
    )
    li_perkey = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.expr(
                "CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 "
                "THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("v_qty"),
            F.expr(
                "CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 "
                "THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("v_disc"),
        )
    )
    li_row = (
        li_perkey.join(okeys, li_perkey["l_orderkey"] == okeys["ok"], "left")
        .agg(
            F.expr("CAST(SUM(cnt) AS BIGINT)").alias("n"),
            F.expr("CAST(SUM(v_qty) AS BIGINT)").alias("v_qty"),
            F.expr("CAST(SUM(v_disc) AS BIGINT)").alias("v_disc"),
            F.expr(
                "CAST(SUM(CASE WHEN ok IS NULL THEN cnt ELSE 0 END) AS BIGINT)"
            ).alias("v_fk"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("lineitem_quantity_range").alias("check_name"),
                        F.col("n").alias("n_checked"),
                        F.col("v_qty").alias("n_violations"),
                    ),
                    F.struct(
                        F.lit("lineitem_discount_range").alias("check_name"),
                        F.col("n").alias("n_checked"),
                        F.col("v_disc").alias("n_violations"),
                    ),
                    F.struct(
                        F.lit("lineitem_order_fk").alias("check_name"),
                        F.col("n").alias("n_checked"),
                        F.col("v_fk").alias("n_violations"),
                    ),
                )
            ).alias("c")
        )
        .select("c.*")
    )
    return cust_row.unionAll(ord_row).unionAll(li_row)


CONSTRAINT_AUDIT_ORACLE = f"""
SELECT 'customer_acctbal_nonnegative' AS check_name,
       (SELECT COUNT(*) FROM customer) AS n_checked,
       CAST((SELECT COUNT(*) FROM customer WHERE c_acctbal < 0) AS BIGINT)
         AS n_violations
UNION ALL
SELECT 'customer_nation_fk', (SELECT COUNT(*) FROM customer),
       CAST((SELECT COUNT(*) FROM customer LEFT JOIN nation
             ON c_nationkey = n_nationkey WHERE n_nationkey IS NULL) AS BIGINT)
UNION ALL
SELECT 'orders_totalprice_positive', (SELECT COUNT(*) FROM orders),
       CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0) AS BIGINT)
UNION ALL
SELECT 'orders_fresh_since_1996', (SELECT COUNT(*) FROM orders),
       CAST((SELECT COUNT(*) FROM orders
             WHERE CAST(o_orderdate AS DATE) < DATE '{_AUDIT_FRESH}') AS BIGINT)
UNION ALL
SELECT 'orders_custkey_fk', (SELECT COUNT(*) FROM orders),
       CAST((SELECT COUNT(*) FROM orders LEFT JOIN customer
             ON o_custkey = c_custkey WHERE c_custkey IS NULL) AS BIGINT)
UNION ALL
SELECT 'lineitem_quantity_range', (SELECT COUNT(*) FROM lineitem),
       CAST((SELECT COUNT(*) FROM lineitem
             WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT)
UNION ALL
SELECT 'lineitem_discount_range', (SELECT COUNT(*) FROM lineitem),
       CAST((SELECT COUNT(*) FROM lineitem
             WHERE l_discount < 0 OR l_discount > 0.1) AS BIGINT)
UNION ALL
SELECT 'lineitem_order_fk', (SELECT COUNT(*) FROM lineitem),
       CAST((SELECT COUNT(*) FROM lineitem LEFT JOIN orders
             ON l_orderkey = o_orderkey WHERE o_orderkey IS NULL) AS BIGINT)
"""


# --------------------------------------------------------------------------
# Group-aware train/val/test split (leakage-free partitioning)
# --------------------------------------------------------------------------

_SPLIT_MOD = 5  # md5(source) % 5: 0-2 train, 3 val, 4 test


def curation_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test assignment for the documents corpus:
    ALL documents of a source land in the same split (hash the GROUP
    key, not the row), the standard guard against near-duplicate leakage
    across splits when a crawl source repeats content. The split is a
    pure map-side expression — portable md5 60-bit hash of the source,
    mod {_SPLIT_MOD} (0-2 train / 3 val / 4 test) — so assignment needs
    no shuffle, no split table, and replays identically on any engine
    or at any scale (a document's split never changes as the corpus
    grows, which is what makes held-out sets stable across crawls).

    Output: per split, group count, doc count, and char volume."""
    h = md5_bigint_expr("source")
    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        "n_chars",
        F.expr(
            f"CASE WHEN {h} % {_SPLIT_MOD} <= 2 THEN 'train' "
            f"WHEN {h} % {_SPLIT_MOD} = 3 THEN 'val' ELSE 'test' END"
        ).alias("split"),
    )
    return docs.groupBy("split").agg(
        F.countDistinct("source").alias("n_groups"),
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("CAST(SUM(n_chars) AS BIGINT)").alias("sum_chars"),
    )


_SPLIT_ORACLE_H = oracle_md5_bigint_expr("source")

GROUP_SPLIT_ORACLE = f"""
SELECT CASE WHEN {_SPLIT_ORACLE_H} % {_SPLIT_MOD} <= 2 THEN 'train'
            WHEN {_SPLIT_ORACLE_H} % {_SPLIT_MOD} = 3 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(DISTINCT source) AS n_groups,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY 1
"""


QUERIES = {
    "dedup_edit_distance_join": dedup_edit_distance_join,
    "events_gini_diversity": events_gini_diversity,
    "ivm_delta_join_maintenance": ivm_delta_join_maintenance,
    "agg_equidepth_histogram": agg_equidepth_histogram,
    "diag_table_diff": diag_table_diff,
    "text_bpe_learn_merges": text_bpe_learn_merges,
    "text_bpe_encode": text_bpe_encode,
    "diag_join_cardinality": diag_join_cardinality,
    "cdc_apply_changelog": cdc_apply_changelog,
    "join_scd2_point_in_time": join_scd2_point_in_time,
    "diag_constraint_audit": diag_constraint_audit,
    "curation_group_split": curation_group_split,
}

ORACLES = {
    "join_scd2_point_in_time": SCD2_ORACLE,
    "diag_constraint_audit": CONSTRAINT_AUDIT_ORACLE,
    "curation_group_split": GROUP_SPLIT_ORACLE,
    "text_bpe_learn_merges": BPE_MERGES_ORACLE,
    "text_bpe_encode": BPE_ENCODE_ORACLE,
    "diag_join_cardinality": JOIN_CARDINALITY_ORACLE,
    "cdc_apply_changelog": CDC_APPLY_ORACLE,
    "dedup_edit_distance_join": EDIT_DISTANCE_ORACLE,
    "events_gini_diversity": GINI_DIVERSITY_ORACLE,
    "ivm_delta_join_maintenance": IVM_DELTA_ORACLE,
    "agg_equidepth_histogram": EQUIDEPTH_ORACLE,
    "diag_table_diff": TABLE_DIFF_ORACLE,
}
