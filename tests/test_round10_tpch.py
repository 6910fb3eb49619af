"""Round-10 TPC-H completion wave (relational5.py): behavioral tests
beyond the registry-wide oracle-parity sweep.

What the sweep already covers: value-level equality of all 7 queries vs
their DuckDB oracles at sf0.01. What lives here instead:

* the synthesis invariants the oracles can't see (they'd be wrong in the
  SAME way on both sides if the derivation were broken): partsupp PK
  distinctness, the 4-per-part rotation bound, a pure-Python md5 replay
  of the grid columns, and the shipping-column day-offset domains;
* plan-shape assertions (pushdown reaches the part/lineitem scans, the
  constant dims broadcast);
* the q21 EXISTS->aggregate rewrite equivalence against a literal
  semi/anti-join Spark formulation (the oracle checks it cross-engine;
  this checks it cross-FORMULATION inside Spark, so a Spark-specific
  null/distinct subtlety can't hide behind a matching DuckDB quirk).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table
from lua_mapreduce_spark.operators import relational5 as r5
from tests.conftest import SF_SMALL


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_partsupp_primary_key_and_rotation(spark):
    ps = r5.partsupp_df(spark, SF_SMALL).cache()
    try:
        n_parts = load_table(spark, SF_SMALL, "part").count()
        n_supp = load_table(spark, SF_SMALL, "supplier").count()
        rows = ps.count()
        # exactly 4 rows per part, (partkey, suppkey) a true PK
        assert rows == 4 * n_parts
        assert ps.select("ps_partkey", "ps_suppkey").distinct().count() == rows
        per_part = ps.groupBy("ps_partkey").count().select(
            F.min("count"), F.max("count")
        ).first()
        assert per_part == (4, 4)
        # every assigned suppkey is a real supplier key (0-based, dense)
        bounds = ps.select(F.min("ps_suppkey"), F.max("ps_suppkey")).first()
        assert bounds[0] >= 0 and bounds[1] < n_supp
        # grid domains
        dom = ps.select(
            F.min("ps_availqty"),
            F.max("ps_availqty"),
            F.min("ps_supplycost_cents"),
            F.max("ps_supplycost_cents"),
        ).first()
        assert 1 <= dom[0] and dom[1] <= 9999
        assert 100 <= dom[2] and dom[3] <= 100000
    finally:
        ps.unpersist()


def test_partsupp_rotation_distinct_for_any_supplier_count():
    """The adapted rotation `(p + i*(S DIV 4)) % S` yields 4 DISTINCT
    suppkeys per part for EVERY supplier count S >= 4 — the property the
    module docstring claims, checked exhaustively far beyond the driver
    SFs (S = 10/100/1000)."""
    for s in range(4, 600):
        step = s // 4
        for p in range(0, 3 * s):
            keys = {(p + i * step) % s for i in range(4)}
            assert len(keys) == 4, f"collision at S={s}, p={p}"


def test_partsupp_python_md5_replay(spark):
    """The md5 grid columns replay exactly in pure Python — the synthesis
    is the documented arithmetic, not an engine artifact."""
    sample = r5.partsupp_df(spark, SF_SMALL).orderBy("ps_partkey", "ps_suppkey").limit(20).collect()
    assert sample
    for row in sample:
        pk, sk = row.ps_partkey, row.ps_suppkey
        assert row.ps_availqty == 1 + _md5_60(f"psaq|{pk}|{sk}") % 9999
        assert (
            row.ps_supplycost_cents
            == 100 + _md5_60(f"pscost|{pk}|{sk}") % 99901
        )


def test_lineitem_ext_offset_domains(spark):
    li = r5.lineitem_ext(spark, SF_SMALL)
    stats = li.select(
        F.min(F.datediff("l_commitdate", "l_shipdate")).alias("cmin"),
        F.max(F.datediff("l_commitdate", "l_shipdate")).alias("cmax"),
        F.min(F.datediff("l_receiptdate", "l_shipdate")).alias("rmin"),
        F.max(F.datediff("l_receiptdate", "l_shipdate")).alias("rmax"),
        F.countDistinct("l_shipmode").alias("modes"),
    ).first()
    assert -30 <= stats.cmin and stats.cmax <= 30
    assert 1 <= stats.rmin and stats.rmax <= 30
    assert stats.modes == 7


def test_all_seven_nonempty_at_smallest_sf(spark):
    """Non-vacuity at sf0.001 — the SF where single-nation supplier
    filters go empty (10 suppliers over 25 nations), which is why q11/q20
    filter by REGION. Guards the gate's non-vacuity assumption."""
    for name, fn in r5.QUERIES.items():
        assert fn(spark, SF_SMALL).count() > 0, f"{name} vacuous at sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q20_pushdown_and_broadcast_shape(spark):
    plan = _plan(r5.q20_part_promotion(spark, SF_SMALL))
    # the part-name prefix and the shipdate range must reach the scans
    assert "StringStartsWith(p_name,small)" in plan, plan
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01" in plan, plan
    assert "LessThan(l_shipdate,1997-01-01" in plan, plan
    # constant dims ride broadcast joins, never shuffle the fact side
    assert "BroadcastHashJoin" in plan


def test_q12_implied_shipdate_window_pushes_down(spark):
    """Predicates on the SYNTHESIZED shipping columns can never reach the
    scan; q12 therefore carries the redundant ship-date window they imply
    (receipt in [ship+1, ship+30]). If that implied window is ever
    dropped, the md5 derivation re-runs over every year of lineitem —
    this pins the pushdown."""
    plan = _plan(r5.q12_shipmode_priority(spark, SF_SMALL))
    assert "GreaterThanOrEqual(l_shipdate,1995-12-02" in plan, plan
    assert "LessThan(l_shipdate,1997-01-01" in plan, plan


def test_q9_joins_stay_hash_joins(spark):
    """Q9's five equi-joins must all be hash joins (broadcast or
    sort-merge); the only nested-loop NODE in the tree is the 1-row
    supplier count feeding the partsupp synthesis. (Formatted explain
    prints each node twice — tree line + numbered detail — so count
    detail headers, not raw substring hits.)"""
    import re

    plan = _plan(r5.q9_product_type_profit(spark, SF_SMALL))
    nl_nodes = re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)
    assert len(nl_nodes) <= 1, plan
    assert "CartesianProduct" not in plan


def test_q21_rewrite_matches_literal_semi_anti_formulation(spark):
    """The orderkey-grouped rewrite == the literal EXISTS/NOT EXISTS
    semantics, expressed in Spark as semi/anti self-joins."""
    li = r5.lineitem_ext(spark, SF_SMALL).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_receiptdate") > F.col("l_commitdate")).alias("late"),
    )
    orders = load_table(spark, SF_SMALL, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    flagged = li.join(
        orders.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey")
    ).select("l_orderkey", "l_suppkey", "late")
    l1 = flagged.filter(F.col("late"))
    other = flagged.select(
        F.col("l_orderkey").alias("r_orderkey"),
        F.col("l_suppkey").alias("r_suppkey"),
        "late",
    )
    literal = (
        l1.join(
            other,
            (F.col("l_orderkey") == F.col("r_orderkey"))
            & (F.col("l_suppkey") != F.col("r_suppkey")),
            "left_semi",
        ).join(
            other.filter(F.col("late")),
            (F.col("l_orderkey") == F.col("r_orderkey"))
            & (F.col("l_suppkey") != F.col("r_suppkey")),
            "left_anti",
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    supplier = load_table(spark, SF_SMALL, "supplier")
    nation = load_table(spark, SF_SMALL, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    literal_named = (
        literal.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "numwait")
    )
    got = {
        (r.s_name, r.numwait)
        for r in r5.q21_suppliers_kept_waiting(spark, SF_SMALL).collect()
    }
    want = {(r.s_name, r.numwait) for r in literal_named.collect()}
    assert got == want and want, (got, want)


# --------------------------------------------------------------------------
# Last-wave r10 operators (analytics5.py): stratified A-ES + trade closure
# --------------------------------------------------------------------------

from lua_mapreduce_spark.operators import analytics5 as a5  # noqa: E402
from lua_mapreduce_spark.operators import graph  # noqa: E402
from tests.conftest import SF_MEDIUM  # noqa: E402


def test_stratified_sample_quota_and_boundary_margin(spark):
    """Every stratum fills its quota (docs-per-lang >> k at every SF),
    and the only float-order-sensitive comparison — the race key at the
    rank-k/k+1 boundary within each stratum — has a relative gap many
    orders above last-ulp libm divergence, at the driver's parity SF."""
    from pyspark.sql import Window

    out = a5.curation_stratified_weighted_sample(spark, SF_MEDIUM)
    per = {r.lang: r.n for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(per) == {"de", "en", "es", "fr", "zh"}
    assert all(n == a5._SAES_K for n in per.values()), per
    # boundary margin: rank k vs k+1 per stratum
    h = "CAST(conv(substr(md5(concat('doc-', CAST(doc_id AS STRING))),1,15),16,10) AS BIGINT)"
    race = (
        f"-ln((CAST({h} AS DOUBLE) + 0.5d) / CAST({1 << 60} AS DOUBLE))"
        " / CAST(n_chars AS DOUBLE)"
    )
    w = Window.partitionBy("lang").orderBy(F.col("e").asc(), F.col("doc_id"))
    ranked = (
        spark.read.parquet(f"{SF_MEDIUM}/documents.parquet")
        .select("doc_id", "lang", F.expr(race).alias("e"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn").isin(a5._SAES_K, a5._SAES_K + 1))
        .collect()
    )
    by_lang = {}
    for r in ranked:
        by_lang.setdefault(r.lang, {})[r.rn] = r.e
    for lang, es in by_lang.items():
        gap = abs(es[a5._SAES_K + 1] - es[a5._SAES_K])
        rel = gap / abs(es[a5._SAES_K])
        assert rel > 1e-9, f"{lang}: boundary margin {rel} too thin"


def test_trade_closure_structure(spark):
    """The closure must contain multi-hop pairs (the recursion actually
    recursed), only hops >= 1, and no self-pairs; every 1-hop pair count
    respects the per-src fanout bound."""
    rows = graph.graph_trade_closure_recursive_cte(spark, SF_MEDIUM).collect()
    assert rows
    assert all(r.hops >= 1 and r.src != r.dst for r in rows)
    assert max(r.hops for r in rows) >= 2, "no multi-hop pair: vacuous recursion"
    one_hop = {}
    for r in rows:
        if r.hops == 1:
            one_hop[r.src] = one_hop.get(r.src, 0) + 1
    assert one_hop and max(one_hop.values()) <= graph._TC_FANOUT


def test_compaction_rewrite_actually_compacts(spark):
    """Non-vacuity of the OPTIMIZE story at the driver's parity SF:
    at least one bin must merge MULTIPLE input files (else the rewrite
    is an identity relabeling and proves nothing), and every bin's
    byte total respects the binning invariant: a bin only exceeds the
    target because its LAST group straddles the boundary, so
    bin_bytes < target + max group size."""
    rows = a5.layout_compaction_rewrite(spark, SF_MEDIUM).collect()
    assert rows
    assert max(r.n_files_in for r in rows) >= 2, "no bin merged files"
    import duckdb

    max_grp = duckdb.connect().execute(
        f"SELECT MAX(s) FROM (SELECT SUM(n_chars) AS s FROM"
        f" '{SF_MEDIUM}/documents.parquet' GROUP BY lang, source)"
    ).fetchone()[0]
    for r in rows:
        assert r.bin_bytes < a5._CRW_TARGET + max_grp, r


def test_bpe_encode_compression_invariants(spark):
    """Tokenizing with the learned merges must (a) never produce more
    tokens than characters, (b) never fewer tokens than words, and
    (c) actually COMPRESS: after _BPE_ROUNDS merges the corpus-wide
    token count must be strictly below the character count (the merges
    exist because the top pairs had nonzero counts)."""
    from lua_mapreduce_spark.operators import analytics3 as a3

    rows = a3.text_bpe_encode(spark, SF_MEDIUM).collect()
    assert {r.lang for r in rows} == {"de", "en", "es", "fr", "zh"}
    for r in rows:
        assert r.n_words <= r.n_tokens <= r.n_chars, r
        assert r.tokens_x100_per_word == r.n_tokens * 100 // r.n_words
    assert sum(r.n_tokens for r in rows) < sum(r.n_chars for r in rows)


def test_record_linkage_recall_and_linearity(spark):
    """BLOCKING recall is structural: every surviving corrupted row's
    true pair exists SOMEWHERE in the output (the block key is immune to
    all perturbations), so the true-entity counts across the three
    classes sum to exactly |B|. The match class is PURE: no cross-entity
    pair can clear the match threshold (max cross-entity score is
    prefix 10 + coincidental cents 20 + segment 15 + nation 5 = 50 < 60).
    Classification recall is deliberately NOT 100% — the worst same-
    entity corruption (truncated name + drifted balance + dropped
    segment) scores below even the 'possible' floor, which is the
    realistic behavior the evaluation rollup exists to measure.
    Candidate volume stays linear: the 8-stable-digit block holds only
    decade-mates, so total pairs <= 10x the corrupted-source size."""
    import duckdb

    rows = {r.decision: r for r in a5.dedup_record_linkage(spark, SF_MEDIUM).collect()}
    con = duckdb.connect()
    n_b = con.execute(
        f"SELECT COUNT(*) FROM '{SF_MEDIUM}/customer.parquet'"
        " WHERE CAST(('0x' || substr(md5(concat('rlkeep|',"
        " CAST(c_custkey AS VARCHAR))),1,15)) AS BIGINT) % 10 <> 0"
    ).fetchone()[0]
    assert sum(r.n_true_entity for r in rows.values()) == n_b
    match = rows["match"]
    assert match.n_pairs == match.n_true_entity > 0, match
    total_pairs = sum(r.n_pairs for r in rows.values())
    assert total_pairs <= 10 * n_b, (total_pairs, n_b)


def test_trade_closure_matches_python_bfs(spark):
    """Independent replay: rebuild the edge set relationally, then run a
    plain Python BFS per source — min-hop distances must match the
    recursive CTE exactly."""
    out = {
        (r.src, r.dst): r.hops
        for r in graph.graph_trade_closure_recursive_cte(spark, SF_SMALL).collect()
    }
    # edge set = the 1-hop pairs of the closure itself is circular; build
    # it independently from the raw tables in pandas
    import duckdb

    con = duckdb.connect()
    edges = con.execute(f"""
        WITH trade AS (
          SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS n_lines
          FROM '{SF_SMALL}/lineitem.parquet'
          JOIN '{SF_SMALL}/orders.parquet' ON l_orderkey = o_orderkey
          JOIN '{SF_SMALL}/customer.parquet' ON o_custkey = c_custkey
          JOIN '{SF_SMALL}/nation.parquet' cn ON c_nationkey = cn.n_nationkey
          JOIN '{SF_SMALL}/supplier.parquet' ON l_suppkey = s_suppkey
          JOIN '{SF_SMALL}/nation.parquet' sn ON s_nationkey = sn.n_nationkey
          WHERE cn.n_name <> sn.n_name GROUP BY 1, 2)
        SELECT src, dst FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                                       ORDER BY n_lines DESC, dst) AS rn
          FROM trade) WHERE rn <= {graph._TC_FANOUT}
    """).fetchall()
    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    want = {}
    for start in adj:
        dist = {start: 0}
        frontier = [start]
        d = 0
        while frontier and d < graph._TC_HOPS:
            d += 1
            nxt = []
            for u in frontier:
                for v in adj.get(u, []):
                    if v not in dist:
                        dist[v] = d
                        nxt.append(v)
            frontier = nxt
        for node, dd in dist.items():
            if dd >= 1 and node != start:
                want[(start, node)] = dd
    assert out == want, (
        len(out),
        len(want),
        set(out.items()) ^ set(want.items()),
    )


def test_supplier_names_unique_all_sfs(spark):
    """q21's output grain is per l_suppkey while the column shown is
    s_name; the oracle now groups by (s_suppkey, s_name) to match, and
    this pins the generator property that makes the two framings agree —
    and that makes the ORDER BY s_name tiebreak deterministic (r10
    VERDICT item 2)."""
    for sf in (SF_SMALL, SF_MEDIUM):
        s = load_table(spark, sf, "supplier")
        assert (
            s.select("s_name").distinct().count() == s.count()
        ), f"duplicate s_name in {sf}"
