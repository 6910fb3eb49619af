"""Behavioral invariants for the round-7 analytics wave (oracle parity is
in test_oracle_parity.py; these check semantics the hash can't see)."""

from __future__ import annotations

import collections

from pyspark.sql import functions as F

from lua_mapreduce_spark.operators import QUERIES
from tests.conftest import SF_MEDIUM, SF_SMALL


# ------------------------------------------------------- label propagation


def test_lpa_python_replay(spark):
    """Bit-exact replay of the 3 synchronous rounds with the same
    (count DESC, label ASC) tie rule, over the same capped edge list."""
    from lua_mapreduce_spark.operators.analytics import _copurchase_pairs
    from lua_mapreduce_spark.operators.analytics2 import _LPA_ROUNDS

    got = {
        r.node: r.community
        for r in QUERIES["graph_label_propagation"](spark, SF_SMALL).collect()
    }
    pairs = _copurchase_pairs(spark, SF_SMALL).collect()
    adj: dict = collections.defaultdict(list)
    for r in pairs:
        adj[r.u].append(r.v)
        adj[r.v].append(r.u)
    labels = {n: n for n in adj}
    for _ in range(_LPA_ROUNDS):
        new = {}
        for n, nbrs in adj.items():
            cnt = collections.Counter(labels[m] for m in nbrs)
            # most frequent label, ties to the smallest label
            new[n] = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        labels = new
    assert got == labels
    # communities actually merge nodes (not the degenerate identity map)
    assert len(set(got.values())) < len(got)


def test_copurchase_derived_cache_reuse_and_eviction(spark):
    """The shared degree / symmetrized-edge relations are memoized, agree
    with the edge list, and are evicted with it when the scale factor
    switches."""
    import gc
    import weakref

    from lua_mapreduce_spark import memo
    from lua_mapreduce_spark.operators import analytics as A

    memo.clear(A._copurchase_pairs, A._copurchase_derived)
    deg = A._copurchase_derived(spark, SF_SMALL, "deg")
    sym = A._copurchase_derived(spark, SF_SMALL, "sym")
    assert A._copurchase_derived(spark, SF_SMALL, "deg") is deg  # memoized
    assert A._copurchase_derived(spark, SF_SMALL, "sym") is sym
    pairs = A._copurchase_pairs(spark, SF_SMALL).collect()
    want = collections.Counter()
    for r in pairs:
        want[r.u] += 1
        want[r.v] += 1
    assert {r.n: r.d for r in deg.collect()} == dict(want)
    assert {(r.src, r.dst) for r in sym.collect()} == {
        (r.u, r.v) for r in pairs
    } | {(r.v, r.u) for r in pairs}
    # switching sf_dir evicts the previous entries (edge AND derived)
    refs = [weakref.ref(A._copurchase_pairs(spark, SF_SMALL))]
    refs += [weakref.ref(deg), weakref.ref(sym)]
    del deg, sym
    edges = A._copurchase_pairs(spark, SF_MEDIUM)
    gc.collect()
    assert [r() for r in refs] == [None, None, None]
    assert A._copurchase_pairs(spark, SF_MEDIUM) is edges
    deg = A._copurchase_derived(spark, SF_MEDIUM, "deg")
    assert A._copurchase_derived(spark, SF_MEDIUM, "deg") is deg


# --------------------------------------------------------- market basket


def test_market_basket_rule_identities(spark):
    rows = QUERIES["events_market_basket"](spark, SF_SMALL).collect()
    assert 0 < len(rows) <= 50
    items = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    n_orders = items.select("l_orderkey").distinct().count()
    for r in rows:
        assert r.u < r.v
        assert r.sup <= min(r.sup_u, r.sup_v)
        assert r.confidence_permille == (1000 * r.sup) // r.sup_u
        assert r.confidence_permille <= 1000
        assert r.lift_permille == (1000 * n_orders * r.sup) // (r.sup_u * r.sup_v)
    # descending-lift frontier (the deterministic top-k contract)
    lifts = [r.lift_permille for r in rows]
    assert lifts == sorted(lifts, reverse=True)


# -------------------------------------------------------- count of counts


def test_count_of_counts_mass_conservation(spark):
    rows = QUERIES["text_count_of_counts"](spark, SF_SMALL).collect()
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    from lua_mapreduce_spark.functions.texthash import words_expr

    n_tokens = docs.select(
        F.expr(f"size({words_expr('text')})").alias("n")
    ).agg(F.sum("n")).collect()[0][0]
    uni = [r for r in rows if r.ngram_order == 1]
    # sum over c of c * N_c recovers the total token count exactly
    assert sum(r.freq * r.n_types for r in uni) == n_tokens
    bi = [r for r in rows if r.ngram_order == 2]
    assert bi and sum(r.freq * r.n_types for r in bi) == n_tokens - docs.count()


# --------------------------------------------------------- delta postings


def test_postings_delta_reconstructs_doc_ids(spark):
    """Cumulative-summing the serialized gap prefix (from the -1 origin)
    must reproduce the sorted doc-id prefix of the plain inverted index."""
    from lua_mapreduce_spark.operators.curation import inverted_index_postings

    rows = QUERIES["text_postings_delta"](spark, SF_SMALL).collect()
    assert rows, "df floor left no terms — recalibrate"
    tf = inverted_index_postings(spark, SF_SMALL).collect()
    postings: dict = collections.defaultdict(list)
    for r in tf:
        postings[r.word].append(r.doc_id)
    for r in rows:
        docs = sorted(postings[r.word])
        gaps = [int(g) for g in r.gaps_csv.split(",")]
        acc, rebuilt = -1, []
        for g in gaps:
            acc += g
            rebuilt.append(acc)
        assert rebuilt == docs[: len(gaps)]
        assert r.first_doc == docs[0]
        assert r.df == len(docs)
        all_gaps = [docs[0] + 1] + [
            b - a for a, b in zip(docs, docs[1:])
        ]
        assert r.max_gap == max(all_gaps)


# -------------------------------------------------------- key-skew profile


def test_key_skew_profile_replay(spark):
    r = QUERIES["diag_key_skew_profile"](spark, SF_SMALL).collect()[0]
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").collect()
    sizes = collections.Counter(e.user_id for e in ev)
    assert r.n_keys == len(sizes)
    assert r.n_rows == len(ev)
    assert r.max_size == max(sizes.values())
    top = max(sizes.items(), key=lambda kv: (kv[1], -kv[0]))
    assert (r.top_key, r.top_size) == top
    assert r.p50_size <= r.p99_size <= r.max_size
    assert r.mean_size == len(ev) / len(sizes)


# ----------------------------------------------------- registry/bench sync


def test_bench_headline_names_are_registered():
    """Every name bench.py times must exist in the registry (a typo'd or
    renamed query would crash the driver's per-round bench run), and the
    headline list carries no duplicates."""
    import importlib.util
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    spec = importlib.util.spec_from_file_location("bench", root / "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not missing, f"bench names not in registry: {missing}"
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE)), "duplicate bench names"
    # The cold-build lines are a bench_history.jsonl series: pin their names.
    builds = bench._cold_builds()
    assert set(builds) <= set(bench.HEADLINE)
    assert {b[0] for lines in builds.values() for b in lines} == {
        "dedup_minhash_signature_build",
        "semdedup_cells_build",
        "copurchase_edges_build",
        "copurchase_deg_build",
        "copurchase_sym_build",
        "basket_items_build",
        "sim_ivf_centroid_train",
    }


# ------------------------------------------- property: edge-build fan-out


def _edge_build_python(rows, cap):
    """Plain-Python replay of the capped co-purchase edge build."""
    import collections

    orders = collections.defaultdict(set)
    for o, p in rows:
        orders[o].add(p)
    pairs = set()
    for items in orders.values():
        kept = sorted(items)[:cap]
        pairs.update(
            (u, v) for i, u in enumerate(kept) for v in kept[i + 1 :]
        )
    return pairs


def test_copurchase_pairs_property(spark):
    """On arbitrary basket shapes (hot baskets, duplicates, singletons)
    the Spark edge build equals the Python replay of 'distinct items,
    cap to lowest-partkey per order, all pairs'."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from lua_mapreduce_spark.operators.analytics import (
        _CP_ORDER_CAP,
        _copurchase_pairs_from,
    )

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=4),
                st.integers(min_value=0, max_value=200),
            ),
            min_size=1,
            max_size=300,
        )
    )
    def run(rows):
        li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
        got = {(r.u, r.v) for r in _copurchase_pairs_from(li).collect()}
        assert got == _edge_build_python(rows, _CP_ORDER_CAP)

    run()


def test_market_basket_property_random_baskets(spark):
    """On random basket data the full rule table (before top-k) replays
    exactly in Python: supports, confidence, lift."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from lua_mapreduce_spark.operators.analytics2 import _MB_TOP_K

    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=5),
                st.integers(min_value=0, max_value=12),
            ),
            min_size=2,
            max_size=60,
        )
    )
    def run(rows):
        import collections
        import itertools

        # Python replay
        orders = collections.defaultdict(set)
        for o, p in rows:
            orders[o].add(p)
        pair_sup: collections.Counter = collections.Counter()
        item_sup: collections.Counter = collections.Counter()
        for items in orders.values():
            kept = sorted(items)  # cap never binds at <= 13 items
            item_sup.update(kept)
            pair_sup.update(itertools.combinations(kept, 2))
        n_orders = len(orders)
        expect = {}
        for (u, v), sup in pair_sup.items():
            expect[(u, v)] = (
                sup,
                item_sup[u],
                item_sup[v],
                (1000 * sup) // item_sup[u],
                (1000 * n_orders * sup) // (item_sup[u] * item_sup[v]),
            )
        # Spark side: rebuild the same pipeline on an inline relation
        # (the registered query reads the sf_dir table; the pipeline is
        # identical modulo the source).
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from lua_mapreduce_spark.operators.analytics import _capped_order_items

        li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
        items = _capped_order_items(li)
        a, b = items.alias("a"), items.alias("b")
        ps = (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
            .agg(F.count(F.lit(1)).alias("sup"))
        )
        isup = items.groupBy(F.col("l_partkey").alias("p")).agg(
            F.count(F.lit(1)).alias("isup")
        )
        tot = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
        got = {
            (r.u, r.v): (r.sup, r.sup_u, r.sup_v, r.conf, r.lift)
            for r in ps.join(isup.select(F.col("p").alias("u"), F.col("isup").alias("sup_u")), "u")
            .join(isup.select(F.col("p").alias("v"), F.col("isup").alias("sup_v")), "v")
            .crossJoin(F.broadcast(tot))
            .select(
                "u",
                "v",
                "sup",
                "sup_u",
                "sup_v",
                F.expr("(1000 * sup) DIV sup_u").alias("conf"),
                F.expr("(1000 * n_orders * sup) DIV (sup_u * sup_v)").alias("lift"),
            )
            .collect()
        }
        assert got == expect
        assert _MB_TOP_K > 0  # constant sanity (keeps the import honest)

    run()


def test_lpa_property_random_graphs(spark):
    """On random edge lists the registered LPA pipeline (rebuilt over an
    inline relation) equals the synchronous Python replay."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from lua_mapreduce_spark.operators.analytics2 import _LPA_ROUNDS

    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.sets(
            st.tuples(
                st.integers(min_value=0, max_value=15),
                st.integers(min_value=0, max_value=15),
            ).filter(lambda e: e[0] < e[1]),
            min_size=1,
            max_size=30,
        )
    )
    def run(edges):
        import collections

        from pyspark.sql import functions as F

        pairs = spark.createDataFrame(sorted(edges), "u long, v long")
        sym = pairs.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
            pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
        labels = (
            sym.select(F.col("src").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("lbl"))
        )
        for _ in range(_LPA_ROUNDS):
            msgs = sym.join(
                labels.select(F.col("node").alias("src"), "lbl"), "src"
            ).select(F.col("dst").alias("node"), "lbl")
            cnt = msgs.groupBy("node", "lbl").agg(F.count(F.lit(1)).alias("c"))
            labels = (
                cnt.groupBy("node")
                .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))).alias("m"))
                .select("node", (-F.col("m.nl")).alias("lbl"))
            )
        got = {r.node: r.lbl for r in labels.collect()}

        adj = collections.defaultdict(list)
        for u, v in edges:
            adj[u].append(v)
            adj[v].append(u)
        expect = {n: n for n in adj}
        for _ in range(_LPA_ROUNDS):
            expect = {
                n: max(
                    collections.Counter(expect[m] for m in nbrs).items(),
                    key=lambda kv: (kv[1], -kv[0]),
                )[0]
                for n, nbrs in adj.items()
            }
        assert got == expect

    run()
