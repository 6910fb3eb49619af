"""Behavioral invariants for the analytics operators (oracle parity is in
test_oracle_parity.py; these check the semantics the hash can't see)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from lua_mapreduce_spark.operators import QUERIES
from lua_mapreduce_spark.operators.analytics import _RD_FRAME
from lua_mapreduce_spark.operators.graph import _PR_ITERS, _PR_SCALE
from tests.conftest import SF_MEDIUM, SF_SMALL


def _plan(df, mode="formatted"):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


# ---------------------------------------------------------------- PageRank


def test_pagerank_mass_and_floor(spark):
    rows = QUERIES["graph_pagerank_nations"](spark, SF_MEDIUM).collect()
    n = len(rows)
    assert n == 25  # one score per nation, including edge-less ones
    floor = (15 * _PR_SCALE) // (100 * n)
    assert all(r.pr_scaled >= floor for r in rows), "teleport floor violated"
    # Mass conservation up to truncating-division loss: each of the 3
    # iterations can only LOSE mass (every DIV truncates), never create it.
    total = sum(r.pr_scaled for r in rows)
    assert total <= _PR_SCALE
    assert total >= _PR_SCALE * 0.95, f"implausible mass loss: {total}"


def test_pagerank_single_big_scan(spark):
    """The 4 growing tables are each scanned exactly once: the unrolled
    iterations run on the localCheckpoint'd <= 625-row edge relation, not
    on re-executions of the lineitem join subtree (the 100 TB killer)."""
    plan = _plan(QUERIES["graph_pagerank_nations"](spark, SF_MEDIUM))
    # nation (constant 25 rows) may appear several times; the four growing
    # tables contribute one scan each -> bounded total.
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 10
    assert "ExistingRDD" in plan or "LocalTableScan" in plan or "Scan ExistingRDD" in plan


def test_pagerank_deterministic_across_runs(spark):
    a = {r.node: r.pr_scaled for r in QUERIES["graph_pagerank_nations"](spark, SF_SMALL).collect()}
    b = {r.node: r.pr_scaled for r in QUERIES["graph_pagerank_nations"](spark, SF_SMALL).collect()}
    assert a == b
    assert _PR_ITERS == 3  # oracle CTE unrolling and Spark loop must agree


# ------------------------------------------------------- Hypertable rollup


def test_hypertable_rollup_matches_single_level(spark):
    """Sum-of-partials must equal a direct single-level daily aggregate
    (the continuous-aggregate correctness contract), and the per-hour
    shape columns must be internally consistent."""
    two_level = {
        r.day: r for r in QUERIES["agg_hypertable_rollup"](spark, SF_MEDIUM).collect()
    }
    ev = spark.read.parquet(f"{SF_MEDIUM}/events.parquet")
    direct = {
        r.day: r.n
        for r in ev.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(two_level) == set(direct)
    for day, r in two_level.items():
        assert r.n_events == direct[day]
        assert 1 <= r.n_active_hours <= 24
        assert r.peak_hour_events <= r.n_events
        assert r.peak_hour_events * r.n_active_hours >= r.n_events  # max >= mean


def test_hypertable_two_shuffles_only(spark):
    plan = _plan(QUERIES["agg_hypertable_rollup"](spark, SF_MEDIUM))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


# ------------------------------------------------------ Null-aware NOT IN


def test_not_in_is_null_aware_and_nonempty(spark):
    df = QUERIES["subquery_not_in_null_aware"](spark, SF_MEDIUM)
    # The trailing `true` on the LeftAnti BroadcastHashJoin is Spark's
    # isNullAwareAntiJoin flag: the plan went through the null-aware path,
    # not a plain anti join (which would be WRONG for NOT IN semantics).
    simple = _plan(df, "simple")
    m = re.search(r"LeftAnti, BuildRight, true", simple)
    assert m, f"null-aware anti join missing from plan:\n{simple}"
    rows = df.collect()
    assert rows, "threshold excludes nothing at sf0.01 — trivial result"
    # Survivors must be disjoint from the subquery's priority set.
    surviving = {r.o_orderpriority for r in rows}
    orders = spark.read.parquet(f"{SF_MEDIUM}/orders.parquet")
    li = spark.read.parquet(f"{SF_MEDIUM}/lineitem.parquet")
    excluded = {
        r.o_orderpriority
        for r in orders.join(li, orders.o_orderkey == li.l_orderkey)
        .where((F.col("l_returnflag") == "R") & (F.col("o_totalprice") > 499900))
        .select("o_orderpriority")
        .distinct()
        .collect()
    }
    assert surviving and excluded and not (surviving & excluded)


# -------------------------------------------------- Rolling distinct count


def test_rolling_distinct_bounds_and_replay(spark):
    df = QUERIES["window_rolling_distinct"](spark, SF_SMALL)
    rows = df.collect()
    assert all(1 <= r.n_distinct_types <= _RD_FRAME + 1 for r in rows)
    # Replay one user in plain Python over the same (ts, event_id) order.
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    uid = ev.groupBy("user_id").count().orderBy(F.desc("count")).first().user_id
    seq = (
        ev.where(F.col("user_id") == uid)
        .orderBy("ts", "event_id")
        .select("event_id", "event_type")
        .collect()
    )
    expect = {}
    for i, r in enumerate(seq):
        window = [s.event_type for s in seq[max(0, i - _RD_FRAME) : i + 1]]
        expect[r.event_id] = len(set(window))
    got = {r.event_id: r.n_distinct_types for r in rows if r.user_id == uid}
    assert got == expect


def test_rolling_distinct_single_shuffle(spark):
    plan = _plan(QUERIES["window_rolling_distinct"](spark, SF_MEDIUM))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


# ------------------------------------- Prefix-filtered exact Jaccard join


def test_prefix_join_lossless_vs_direct_spark(spark):
    """Independent of the DuckDB oracle: the prefix-filtered join returns
    exactly the pairs a direct all-candidates exact join finds."""
    from lua_mapreduce_spark.operators.dedup import (
        _PJ_T,
        _shingles_df,
        dedup_jaccard_prefix_join,
    )

    got = {
        (r.doc_a, r.doc_b): r.jaccard_permille
        for r in dedup_jaccard_prefix_join(spark, SF_MEDIUM).collect()
    }
    sh = _shingles_df(spark, SF_MEDIUM)
    sizes = sh.groupBy("doc_id").count()
    direct = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count(F.lit(1)).alias("inter"))
        .join(sizes.select(F.col("doc_id").alias("da"), F.col("count").alias("na")), "da")
        .join(sizes.select(F.col("doc_id").alias("db"), F.col("count").alias("nb")), "db")
        .filter(F.col("inter") * 1000 >= _PJ_T * (F.col("na") + F.col("nb") - F.col("inter")))
        .collect()
    )
    expect = {
        (r.da, r.db): (r.inter * 1000) // (r.na + r.nb - r.inter) for r in direct
    }
    assert got == expect and got, f"prefix join diverged: {len(got)} vs {len(expect)}"


def test_prefix_join_actually_prunes(spark):
    """The candidate index is materially smaller than the full inverted
    index — the point of prefix filtering (t=0.5 -> about half each set
    plus one, always below 0.7 of the full index here)."""
    from pyspark.sql import Window

    from lua_mapreduce_spark.operators.dedup import _PJ_T, _shingle_arrays_df

    sets = _shingle_arrays_df(spark, SF_MEDIUM).select(
        "doc_id", "shingles", F.size("shingles").alias("s")
    )
    sh = sets.select("doc_id", "s", F.explode("shingles").alias("shingle"))
    dftbl = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(dftbl, "shingle").withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "shingle")),
    )
    total = sh.count()
    kept = ranked.filter(
        F.col("rk") <= F.col("s") - F.expr(f"({_PJ_T} * s + 999) DIV 1000") + 1
    ).count()
    assert 0 < kept < 0.7 * total, f"prefix kept {kept}/{total}"


def test_prefix_join_length_filter_prunes_candidates(spark):
    """The PPJoin length filter (1000*min(|A|,|B|) >= t*max(|A|,|B|), a
    lossless consequence of J >= t) must strictly shrink the candidate
    pair set relative to prefix collisions alone. Losslessness itself is
    proven by test_prefix_join_lossless_vs_direct_spark + the prefix-free
    oracle; this pins that the filter is actually doing work."""
    from pyspark.sql import Window

    from lua_mapreduce_spark.operators.dedup import _PJ_T, _shingle_arrays_df

    sets = _shingle_arrays_df(spark, SF_MEDIUM).select(
        "doc_id", "shingles", F.size("shingles").alias("s")
    )
    sh = sets.select("doc_id", "s", F.explode("shingles").alias("shingle"))
    ranked = sh.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    ).withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "shingle")),
    )
    prefix = ranked.filter(
        F.col("rk") <= F.col("s") - F.expr(f"({_PJ_T} * s + 999) DIV 1000") + 1
    ).select("doc_id", "s", "shingle")
    base_cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col("a.doc_id") < F.col("b.doc_id")
    )
    length_cond = F.least(F.col("a.s"), F.col("b.s")) * 1000 >= _PJ_T * F.greatest(
        F.col("a.s"), F.col("b.s")
    )
    without = (
        prefix.alias("a").join(prefix.alias("b"), base_cond)
        .select("a.doc_id", "b.doc_id").distinct().count()
    )
    with_filter = (
        prefix.alias("a").join(prefix.alias("b"), base_cond & length_cond)
        .select("a.doc_id", "b.doc_id").distinct().count()
    )
    assert 0 < with_filter < without, (
        f"length filter pruned nothing: {with_filter} vs {without}"
    )


# ------------------------------------------------------------- Python UDTF


def test_udtf_shingles_cap_and_positions(spark):
    from lua_mapreduce_spark.operators.analytics import _UDTF_MAX_POS

    rows = QUERIES["udtf_ngram_shingles"](spark, SF_SMALL).collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r.pos)
    assert per_doc
    for doc_id, positions in per_doc.items():
        positions.sort()
        assert positions == list(range(len(positions))), f"gap in doc {doc_id}"
        assert len(positions) <= _UDTF_MAX_POS
    # every shingle is exactly 3 space-joined lowercase alpha tokens
    sample = [r.shingle for r in rows[:100]]
    assert all(len(s.split(" ")) == 3 and s == s.lower() for s in sample)


# ---------------------------------------- Incremental ingestion dedup gate


def test_incremental_ingest_bloom_gate_prunes_and_flags(spark):
    """The bloom gate sends only a minority of new-doc band keys into the
    candidate join (the fast path actually fires), and every flagged
    new doc really has a corpus near-dup partner at the threshold (spot
    verification against the LSH pair list)."""
    from lua_mapreduce_spark.operators.dedup import (
        _ING_MOD,
        _banded_keys,
        _minhash_signatures,
    )
    from lua_mapreduce_spark.operators.scale_ops import (
        _BLOOM_SALTS,
        _bloom_bitset,
        _bloom_hit,
    )

    mh = _minhash_signatures(spark, SF_MEDIUM)
    banded = _banded_keys(mh)
    is_batch = F.col("doc_id") % _ING_MOD == _ING_MOD - 1
    corpus_b = banded.filter(~is_batch)
    batch_b = banded.filter(is_batch)
    bits = _bloom_bitset(corpus_b.select("bk"), "bk")
    probed = batch_b.join(F.broadcast(bits)).select(
        (
            _bloom_hit("bk", _BLOOM_SALTS[0]) & _bloom_hit("bk", _BLOOM_SALTS[1])
        ).alias("hit")
    )
    n = probed.count()
    n_hit = probed.filter("hit").count()
    assert 0 < n_hit < 0.5 * n, f"bloom gate pruned nothing: {n_hit}/{n}"

    result = {
        r.doc_id: r.is_dup
        for r in QUERIES["dedup_incremental_ingest"](spark, SF_MEDIUM).collect()
    }
    assert result and any(result.values()) and not all(result.values())
    # Every flagged doc must appear in the full LSH near-dup pair list
    # with a partner on the corpus side of the split.
    lsh_pairs = QUERIES["dedup_minhash_lsh"](spark, SF_MEDIUM).collect()
    flagged_by_lsh = set()
    for r in lsh_pairs:
        for new, old in ((r.doc_a, r.doc_b), (r.doc_b, r.doc_a)):
            if new % _ING_MOD == _ING_MOD - 1 and old % _ING_MOD != _ING_MOD - 1:
                flagged_by_lsh.add(new)
    assert {d for d, dup in result.items() if dup} == flagged_by_lsh


# ---------------------------------------------------------- Triangle count


def test_triangle_orientation_bounds_fanout_and_matches_naive(spark):
    """Degree orientation caps the wedge-join fan-out (max oriented
    out-degree well below the max raw degree), and the count equals a
    naive per-edge common-neighbor count computed independently."""
    from lua_mapreduce_spark.operators.graph import graph_triangle_count

    row = graph_triangle_count(spark, SF_SMALL).collect()[0]
    assert row.n_triangles > 0

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    adj = {}
    for r in pairs.collect():
        adj.setdefault(r.u, set()).add(r.v)
        adj.setdefault(r.v, set()).add(r.u)
    naive = sum(
        len(adj[u] & adj[v]) for u in adj for v in adj[u] if u < v
    ) // 3
    assert row.n_triangles == naive
    assert row.n_edges == pairs.count() and row.n_nodes == len(adj)
    # orientation bound: oriented out-degree <= raw max degree / 2 + 1-ish;
    # assert the cap is materially below the hub degree.
    max_deg = max(len(s) for s in adj.values())
    order = sorted(adj, key=lambda n: (len(adj[n]), n))
    rank = {n: i for i, n in enumerate(order)}
    max_out = max(
        sum(1 for v in adj[u] if rank[v] > rank[u]) for u in adj
    )
    assert max_out < max_deg


# -------------------------------------------------------------- Dyadic EWMA


def test_ewma_dyadic_matches_python_replay_bitwise(spark):
    """Dyadic weights make the smoothing EXACT: the Spark doubles equal a
    plain-Python replay bit-for-bit (== on floats, no tolerance)."""
    from lua_mapreduce_spark.operators.analytics import _RD_FRAME  # noqa: F401
    from lua_mapreduce_spark.operators.windows import _EWMA_DEPTH, _EWMA_WEIGHTS

    rows = QUERIES["window_ewma_dyadic"](spark, SF_SMALL).collect()
    got = {r.event_id: r.ewma for r in rows}
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    by_user = {}
    for r in ev.select("user_id", "ts", "event_id", "value").collect():
        by_user.setdefault(r.user_id, []).append(r)
    checked = 0
    for user, seq in by_user.items():
        seq.sort(key=lambda r: (r.ts, r.event_id))
        vals = [r.value for r in seq]
        for i, r in enumerate(seq):
            acc = vals[i] * _EWMA_WEIGHTS[0]
            for k in range(1, _EWMA_DEPTH):
                x = vals[i - k] if i - k >= 0 else 0.0
                acc = acc + x * _EWMA_WEIGHTS[k]
            assert got[r.event_id] == acc, (user, r.event_id)
            checked += 1
    assert checked == len(got) > 0


# --------------------------------------------------------------- k-core peel


def test_kcore_peel_prunes_fringe_keeps_core(spark):
    """The derived 3*mean/4 threshold peels SOME nodes but keeps a core
    (neither no-op nor collapse), every survivor meets the threshold on
    the induced subgraph, and survivors shrink monotonically per round."""
    from lua_mapreduce_spark.operators.graph import graph_kcore_peel

    rows = graph_kcore_peel(spark, SF_SMALL).collect()
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        .collect()
    )
    adj = {}
    for r in pairs:
        adj.setdefault(r.u, set()).add(r.v)
        adj.setdefault(r.v, set()).add(r.u)
    n_nodes = len(adj)
    # Match the operator/oracle exactly: (3 * total_degree) DIV (4 * n) —
    # NOT 3 * (total // n) // 4, which diverges for some distributions
    # (sum=59, n=10: 4 vs 3).
    k = (3 * sum(len(s) for s in adj.values())) // (4 * n_nodes)
    assert 0 < len(rows) < n_nodes, f"peel degenerate: {len(rows)}/{n_nodes}"
    # Python replay of the 3 fixed rounds
    alive = set(adj)
    for _ in range(3):
        deg = {u: sum(1 for v in adj[u] if v in alive) for u in alive}
        alive = {u for u in alive if deg[u] >= k}
    deg = {u: sum(1 for v in adj[u] if v in alive) for u in alive}
    expect = {u: d for u, d in deg.items() if d >= k}
    assert {r.node: r.degree for r in rows} == expect


def test_copurchase_hot_order_fanout_capped(spark):
    """A pathological hot order (one basket holding 1000 parts) must NOT
    emit C(1000,2) ~ 500k pairs into the shuffle: the per-order cap keeps
    the _CP_ORDER_CAP lowest-partkey items, bounding per-order fan-out at
    C(cap, 2), and the truncation compiles to WindowGroupLimit (map-side,
    before the self-join). Normal-sized orders are untouched."""
    from lua_mapreduce_spark.operators.graph import (
        _CP_ORDER_CAP,
        _copurchase_pairs_from,
    )

    hot = [(1, p) for p in range(1000)]
    normal = [(o, p) for o in (2, 3) for p in (2000, 2001, 2002)]
    li = spark.createDataFrame(
        hot + normal, "l_orderkey long, l_partkey long"
    )
    pairs = _copurchase_pairs_from(li)
    cap_pairs = _CP_ORDER_CAP * (_CP_ORDER_CAP - 1) // 2
    got = pairs.collect()
    # hot order contributes exactly C(cap,2) pairs over its lowest partkeys
    hot_pairs = [r for r in got if r.u < _CP_ORDER_CAP and r.v < _CP_ORDER_CAP]
    assert len(hot_pairs) == cap_pairs
    # nothing beyond the cap frontier survives from the hot order
    assert all(r.v < _CP_ORDER_CAP or r.u >= 2000 for r in got)
    # normal orders keep their full C(3,2) pairs (cap is pure headroom)
    assert {(r.u, r.v) for r in got if r.u >= 2000} == {
        (2000, 2001),
        (2000, 2002),
        (2001, 2002),
    }
    # truncation is map-side: the rank filter compiled to WindowGroupLimit
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        pairs.explain("formatted")
    assert "WindowGroupLimit" in buf.getvalue()


def test_copurchase_cap_is_headroom_on_real_data(spark):
    """On TPC-H-shaped data (max items/order is single-digit at any SF) the
    cap binds nowhere: the capped edge list equals the uncapped one."""
    from pyspark.sql import functions as F

    from lua_mapreduce_spark.operators.graph import _copurchase_pairs_from

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    capped = {(r.u, r.v) for r in _copurchase_pairs_from(li).collect()}
    a, b = li.alias("a"), li.alias("b")
    uncapped = {
        (r.u, r.v)
        for r in a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        .collect()
    }
    assert capped == uncapped
