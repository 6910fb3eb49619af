"""The nation trade graph's shared substrates against the shared oracle CTEs
that replay them in DuckDB.

Most trade queries and their oracles read the same capped edges, and three
of them the same bounded distance walk. Comparing the substrates directly
names a drift in a shared definition once, instead of as one mismatch per
query."""

from __future__ import annotations

import pytest

from lua_mapreduce_spark.operators import graph
from tests.conftest import SF_SMALL
from tests.oracle import compare


@pytest.mark.parametrize("fanout", [graph._SCC_FANOUT, graph._TC_FANOUT])
def test_capped_edges_match_oracle_cte(spark, fanout):
    sql = f"WITH {graph._trade_edges_sql(fanout)}\nSELECT src, dst FROM edges"
    edges = graph._scc_edges(spark, SF_SMALL, fanout)
    res = compare(f"trade edges, fanout {fanout}", edges, sql, SF_SMALL)
    assert res.ok, str(res)
    assert res.spark_rows > 0


def test_undirected_view_matches_oracle_cte(spark):
    sql = f"WITH {graph._trade_edges_sql()},\n{graph._TRADE_SYM_SQL}\nSELECT u, w FROM sym"
    res = compare("trade sym", graph._trade_sym(spark, SF_SMALL), sql, SF_SMALL)
    assert res.ok, str(res)


def test_trade_dists_match_oracle_walk(spark):
    sql = (
        f"WITH RECURSIVE {graph._trade_edges_sql()},\n"
        f"{graph._trade_walk_sql(graph._CC_HOPS)}\n"
        "SELECT src, dst, hops FROM dists"
    )
    dists = graph._trade_dists(spark, SF_SMALL)
    res = compare("trade dists", dists, sql, SF_SMALL)
    assert res.ok, str(res)
    assert dists.agg({"hops": "max"}).first()[0] >= 2, "the walk never recursed"
