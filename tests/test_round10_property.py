"""Property tests for the round-10 operators.

Each hypothesis example runs real Spark jobs, so examples are capped
(the house convention from test_mapreduce_property.py).
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


# ------------------------------------------------- sink roundtrip property


def test_sink_roundtrip_property(spark, tmp_path):
    """Arbitrary (key, value) multisets — duplicates, negatives, empty
    strings, skewed partition counts — survive the write -> two-phase
    commit -> manifest read-back unchanged."""
    from lua_mapreduce_spark.sources.python_datasink import (
        read_sharded_sink,
        register_sharded_sink,
    )

    register_sharded_sink(spark)
    counter = {"n": 0}

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=-(2**40), max_value=2**40),
                st.text(
                    alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
                    max_size=12,
                ),
            ),
            min_size=1,
            max_size=80,
        ),
        nparts=st.integers(min_value=1, max_value=9),
    )
    def run(rows, nparts):
        counter["n"] += 1
        path = str(tmp_path / f"prop_sink_{counter['n']}")
        df = spark.createDataFrame(rows, "k LONG, s STRING").repartition(nparts)
        df.write.format("lmrs_sharded_sink").mode("overwrite").save(path)
        back = read_sharded_sink(spark, path, "k LONG, s STRING")
        assert sorted((r.k, r.s) for r in back.collect()) == sorted(rows)

    run()


# ------------------------------------------------- A-ES sampling property


def test_aes_selection_property(spark):
    """On arbitrary positive integer weight tables the Spark A-ES top-k
    equals the Python reference implementation (same md5 draw, same
    exponential race), and a weight large enough to dominate is always
    selected (w -> inf drives -ln(u)/w -> 0)."""
    import hashlib

    from pyspark.sql import functions as F

    from lua_mapreduce_spark.functions.texthash import md5_bigint_expr

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        weights=st.lists(
            st.integers(min_value=1, max_value=10**6),
            min_size=3,
            max_size=60,
        ),
        k=st.integers(min_value=1, max_value=10),
    )
    def run(weights, k):
        k = min(k, len(weights))
        rows = list(enumerate(weights))
        h = md5_bigint_expr("concat('order-', CAST(id AS STRING))")
        df = (
            spark.createDataFrame(rows, "id LONG, w LONG")
            .select(
                "id",
                F.expr(
                    f"-ln((CAST({h} AS DOUBLE) + 0.5d)"
                    f" / CAST({1 << 60} AS DOUBLE)) / w"
                ).alias("_e"),
            )
            .orderBy("_e")
            .limit(k)
        )
        got = {r.id for r in df.collect()}
        keyed = sorted(
            (
                -math.log(
                    (
                        int(
                            hashlib.md5(f"order-{i}".encode()).hexdigest()[:15],
                            16,
                        )
                        + 0.5
                    )
                    / float(1 << 60)
                )
                / w,
                i,
            )
            for i, w in rows
        )
        assert got == {i for _, i in keyed[:k]}

    run()

    # Degenerate-dominance check: one astronomically heavy row must be in
    # any k>=1 sample regardless of its hash draw.
    import hashlib as _hl

    from pyspark.sql import functions as F  # noqa: F811

    rows = [(i, 1) for i in range(20)] + [(99, 10**15)]
    h = md5_bigint_expr("concat('order-', CAST(id AS STRING))")
    df = (
        spark.createDataFrame(rows, "id LONG, w LONG")
        .select(
            "id",
            F.expr(
                f"-ln((CAST({h} AS DOUBLE) + 0.5d)"
                f" / CAST({1 << 60} AS DOUBLE)) / w"
            ).alias("_e"),
        )
        .orderBy("_e")
        .limit(1)
    )
    assert [r.id for r in df.collect()] == [99]


# ------------------------------------------------- URL canonicalization


def test_url_canonicalization_property(spark):
    """The SQL canonicalization pipeline equals the Python reference on
    arbitrary URL-ish strings, and is IDEMPOTENT (canon(canon(x)) ==
    canon(x)) — the property that makes re-canonicalizing an already
    compacted frontier a no-op."""
    from pyspark.sql import functions as F

    from lua_mapreduce_spark.operators.analytics5 import _canon_expr

    def canon_py(u: str) -> str:
        u = u.split("#")[0].split("?")[0].lower()
        u = u.replace("://www.", "://")
        return u.rstrip("/")

    frag = st.sampled_from(
        list("abcXYZ0189-._~:/?#[]@!$&'()*+,;=%") + ["://www.", "https://"]
    )
    url_st = st.lists(frag, min_size=0, max_size=12).map("".join)

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(urls=st.lists(url_st, min_size=1, max_size=40))
    def run(urls):
        df = spark.createDataFrame([(u,) for u in urls], "raw_url STRING")
        canon = _canon_expr("spark", "raw_url")
        got = [
            r.c
            for r in df.select(F.expr(canon).alias("c")).collect()
        ]
        want = [canon_py(u) for u in urls]
        assert got == want
        # idempotence through the SAME SQL pipeline
        df2 = spark.createDataFrame([(c,) for c in got], "raw_url STRING")
        got2 = [r.c for r in df2.select(F.expr(canon).alias("c")).collect()]
        assert got2 == got

    run()


# --------------------------------------- partition-invariance (late-r10)


def test_late_r10_operators_partition_invariant(spark):
    """Physical-layout independence — the scale-correctness property the
    oracle gate can't see (DuckDB has no partitions): the late-r10
    deterministic operators must return IDENTICAL results when the
    session's shuffle parallelism changes. Catches accidental reliance
    on partition-local state (row_number without a full ordering,
    per-partition limits, input_file_name aggregation quirks)."""
    from lua_mapreduce_spark.operators import analytics5 as a5
    from lua_mapreduce_spark.operators import graph
    from lua_mapreduce_spark.operators import relational5 as r5
    from tests.conftest import SF_SMALL

    cases = {
        "stratified": a5.curation_stratified_weighted_sample,
        "linkage": a5.dedup_record_linkage,
        "closure": graph.graph_trade_closure_recursive_cte,
        "compaction": a5.layout_compaction_rewrite,
        "q21": r5.q21_suppliers_kept_waiting,
    }
    before = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for parts in ("3", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for name, fn in cases.items():
                rows = sorted(
                    tuple(r) for r in fn(spark, SF_SMALL).collect()
                )
                key = (name, parts)
                results[key] = rows
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    for name in cases:
        assert results[(name, "3")] == results[(name, "17")], name
        assert results[(name, "3")], f"{name} vacuous"
