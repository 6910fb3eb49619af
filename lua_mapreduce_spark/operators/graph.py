"""Graph operators: every ``graph_*`` query, on two shared substrates.

The reference's fixed map->shuffle->reduce skeleton
(lua-mapreduce-server.lua:269-317) can express an iterative graph job
only as a chain of separate jobs with driver-side state between them.
Here each is one declarative Spark plan (or a short driver loop of
bounded joins) with a DuckDB oracle, and the queries share their edge
relations instead of rebuilding them:

* **Part co-purchase graph** — parts sharing an order, with a per-order
  fan-out cap (``_copurchase_pairs``, memoized, plus its memoized degree
  and symmetrized relations). Triangle count, k-core peel, label
  propagation, common-neighbor link prediction and the two bounded BFS
  faces run on it. It grows with the data.
* **Nation trade graph** — customer nation -> supplier nation, one edge
  per lineitem of a Q7-shaped 5-way join (``_trade_line_pairs``), capped
  to each nation's top partners (``_scc_edges``; memoized as
  ``_trade_edges_ck``) and walked by one bounded shortest-distance
  recursion (``_trade_dists``). Every relation after the fact join is
  bounded by the schema (25 nations), not by data volume. PageRank,
  SCC, closeness, the transitive closure, the maximum spanning tree,
  betweenness, Girvan-Newman, bridges, reciprocity, assortativity,
  Jaccard / Adamic-Adar / resource-allocation link prediction, Katz,
  SimRank, local clustering and eccentricity run on it.

The oracles share the substrates' SQL the same way (``_CP_PAIRS_SQL``,
``_trade_edges_sql``); that text carries no ``WITH``, so each oracle
keeps its own ``WITH`` or ``WITH RECURSIVE`` prefix. The Spark side and
the oracles stay independent implementations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lua_mapreduce_spark.catalog import load_table, load_tables
from lua_mapreduce_spark.memo import memo

# --------------------------------------------------------------------------
# Part co-purchase graph substrate (triangles, k-core, LPA, link
# prediction and BFS share it)
# --------------------------------------------------------------------------

_CP_ORDER_CAP = 64  # max distinct parts per order entering the pair build


def _capped_order_items(li: DataFrame) -> DataFrame:
    """(l_orderkey, l_partkey): distinct items per order, truncated to the
    _CP_ORDER_CAP lowest-partkey items (WindowGroupLimit, map-side)."""
    li = li.select("l_orderkey", "l_partkey").distinct()
    w = Window.partitionBy("l_orderkey").orderBy("l_partkey")
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _CP_ORDER_CAP)
        .drop("rn")
    )


def _copurchase_pairs_from(li: DataFrame) -> DataFrame:
    """Distinct co-purchase edges (u < v share an order) from a
    (l_orderkey, l_partkey) relation, with a PER-ORDER FAN-OUT CAP.

    The self-join emits C(items, 2) pairs per order — quadratic in basket
    size, so one pathological hot order (10^4 items) would emit ~10^8
    rows into the shuffle. Each order is therefore truncated to its
    _CP_ORDER_CAP lowest-partkey items first (deterministic, replayed
    verbatim in the SQL oracles), bounding per-order fan-out at
    C(cap, 2) = 2016 pairs. TPC-H-shaped orders hold <= 7 items at ANY
    scale factor, so on real data the cap is semantics-free headroom;
    rn <= cap compiles to WindowGroupLimit, so truncation happens
    map-side before the join, and the window's hash partitioning on
    l_orderkey is exactly the join's partitioning (no extra Exchange)."""
    a, b = _capped_order_items(li).alias("a"), _capped_order_items(li).alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )


@memo
def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capped edge list over the sf_dir lineitem table, materialized
    once (it is referenced by degree counts, orientation, and per-round
    semi joins downstream — the standard persist of a derived edge
    relation) and memoized: triangle count, k-core, and label propagation
    all consume the same relation, so rebuilding the self-join per query
    wastes a scan + shuffle and piles dead checkpoint blocks into the
    block manager."""
    li = load_table(spark, sf_dir, "lineitem")
    return _copurchase_pairs_from(li).localCheckpoint(eager=True)


def _degrees_from(rel: DataFrame) -> DataFrame:
    """(n, d): undirected degree of every endpoint of an (u, v) edge
    relation — one map-side-combinable count over the doubled endpoints."""
    return (
        rel.select(F.col("u").alias("n"))
        .unionAll(rel.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )


@memo
def _copurchase_derived(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """Memoized relations DERIVED from the shared edge list:

    - ``"deg"``: the (n, d) degree relation — referenced twice by triangle
      orientation, plus the k-core threshold and its round-0 peel; without
      memoization each reference replays the unionAll+groupBy shuffle.
    - ``"sym"``: the symmetrized directed edge list — label propagation
      joins it once per round (and seeds labels from it), BFS joins it
      once per hop — so materializing the 2m rows once beats
      re-expanding the checkpointed pairs per round. It is materialized
      REPARTITIONED AND SORTED BY src: localCheckpoint preserves
      outputPartitioning/outputOrdering in the LogicalRDD, so every
      per-round sort-merge join reuses the layout and only the small
      (<= |nodes|) label/frontier side shuffles — the classic
      pre-partitioned-build-side pattern for iterated joins. An
      order-controlled A/B at sf0.1 (layout-change side measured FIRST
      so page-cache warmth favors the baseline) showed both LPA and BFS
      ~25-30% faster with the layout, identical results both ways;
      the recorded per-round figures live in bench_detail.json (the
      graph_* medians, with this relation's build cost on its own
      `copurchase_sym_build` line since r10 — absolute numbers belong
      there, not here).

    Both are bounded (<= |parts| rows resp. 2x edges), so the checkpoint
    cost is small next to the shuffles it removes."""
    pairs = _copurchase_pairs(spark, sf_dir)
    if kind == "deg":
        got = _degrees_from(pairs)
    elif kind == "sym":
        got = (
            pairs.select(F.col("u").alias("src"), F.col("v").alias("dst"))
            .unionAll(
                pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"))
            )
            .repartition("src")
            .sortWithinPartitions("src")
        )
    else:  # pragma: no cover - programming error
        raise ValueError(f"unknown derived kind: {kind}")
    return got.localCheckpoint(eager=True)


# Oracle replay of the capped edge build (DuckDB). MATERIALIZED because
# every consumer references `pairs` several times.
_CP_CAPPED_SQL = f"""capped AS (
  SELECT l_orderkey, l_partkey FROM (
    SELECT l_orderkey, l_partkey,
           ROW_NUMBER() OVER (PARTITION BY l_orderkey
                              ORDER BY l_partkey) AS rn
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem))
  WHERE rn <= {_CP_ORDER_CAP})"""

_CP_PAIRS_SQL = f"""{_CP_CAPPED_SQL},
pairs AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM capped a JOIN capped b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)"""

# ... plus the symmetrized directed edges, _copurchase_derived(kind="sym").
_CP_SYM_SQL = f"""{_CP_PAIRS_SQL},
sym AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM pairs
  UNION ALL SELECT v AS src, u AS dst FROM pairs)"""


# --------------------------------------------------------------------------
# Triangle counting (degree-oriented, the MapReduce classic)
# --------------------------------------------------------------------------


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the part co-purchase graph (parts sharing an order).

    Spark side uses DEGREE ORIENTATION + the compact-forward adjacency
    intersection (Latapy 2008; Schank-Wagner): each undirected edge points
    from its lower-(degree, id) endpoint to the higher one, every triangle
    {a<b<c} (orientation order) is counted exactly once as
    |adj(a) ∩ adj(b)| at edge (a,b), and — the scale points — (1) the
    oriented out-degree is bounded by O(sqrt(m)), so the per-src
    collect_list adjacency arrays are PROVABLY bounded (a celebrity part
    with degree 10^6 holds almost no out-edges because nearly all its
    edges point toward it), and (2) the per-edge array_intersect replaces
    the 34x-larger wedge-materialization join (41M wedge rows vs 1.2M
    edge rows at sf0.1 — measured 10s -> 2.7s). The oracle is the
    orientation-free canonical 3-way self-join; count equality proves the
    oriented intersection loses and double-counts nothing.

    Output: one row (n_nodes, n_edges, n_triangles)."""
    # Capped shared edge build (per-order fan-out bound; see
    # _copurchase_pairs_from), materialized once like PageRank's edges.
    pairs = _copurchase_pairs(spark, sf_dir)
    # Shared memoized degree relation (also consumed by k-core): the
    # orientation references it twice, so the checkpoint saves a shuffle
    # per reference.
    deg = _copurchase_derived(spark, sf_dir, "deg")
    # Oriented edge list.
    e = (
        pairs.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            F.expr("IF((du, u) < (dv, v), u, v)").alias("src"),
            F.expr("IF((du, u) < (dv, v), v, u)").alias("dst"),
        )
    )
    # Out-adjacency arrays: bounded per src by the orientation (<= sqrt(2m)
    # entries), which is what makes this collect_list safe at any scale.
    adj = e.groupBy("src").agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
    # Re-derive the edge stream FROM the adjacency (explode) instead of
    # joining e back against adj on src (r17 optimization round, guide
    # §2.4 — share one exchange): collect_list over e
    # holds exactly one entry per edge, so exploding it regenerates the
    # same (src, dst) bag with src's adjacency already attached — the
    # src-side join (a full shuffle of the 1.2M-row edge relation at
    # sf0.1) disappears; the dst-side join shuffles the identical
    # (src, dst, nu) rows it always did.
    ex = adj.select("src", F.explode("nbrs").alias("dst"), F.col("nbrs").alias("nu"))
    # Triangles at edge (src, dst) = common out-neighbors; a dst with no
    # out-edges contributes an empty array via the left join.
    scored = ex.join(
        adj.select(F.col("src").alias("v2"), F.col("nbrs").alias("nv")),
        F.col("dst") == F.col("v2"),
        "left",
    ).select(
        F.size(F.array_intersect("nu", F.coalesce("nv", F.array()))).alias("c")
    )
    n_tri = scored.agg(F.expr("CAST(SUM(c) AS BIGINT)").alias("n_triangles"))
    n_edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return n_nodes.crossJoin(F.broadcast(n_edges)).crossJoin(F.broadcast(n_tri))


TRIANGLE_ORACLE = f"""
WITH {_CP_PAIRS_SQL},
deg AS (
  SELECT n, COUNT(*) AS d FROM (
    SELECT u AS n FROM pairs UNION ALL SELECT v AS n FROM pairs)
  GROUP BY n),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM pairs e1
  JOIN pairs e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN pairs e3 ON e3.u = e1.v AND e3.v = e2.v)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM pairs) AS n_edges,
       n_triangles
FROM tri
"""


_KC_ROUNDS = 3  # unrolled peel rounds (fixed-depth contract, like PageRank)


def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-depth k-core peeling over the part co-purchase graph: drop
    every node with degree < k, recompute degrees on the induced
    subgraph, repeat _KC_ROUNDS times. Full convergence is a data-dependent
    loop; the FIXED-round form (like the PageRank iterations) keeps the
    operator a pure unrolled plan with an exact unrolled-CTE oracle while
    exercising the real peel step. k is DERIVED from the data — three
    quarters of the round-0 mean degree (integer division) — because the
    co-purchase graph densifies with scale: a constant k stops pruning at
    larger SFs, a mean-or-above k collapses the whole graph (degree
    concentration -> full cascade), while 3*mean/4 peels the low-degree
    fringe (~10-25%% here) and keeps a stable core at any size.
    Output: surviving nodes with their degree after the last peel.

    Scale shape: each round is one map-side-combinable degree count plus
    two semi joins of the edge list against the <= |nodes| survivor set;
    the edge relation is the same localCheckpoint'd co-purchase pairs the
    triangle counter builds; k is a 1-row broadcast. Integer-only ->
    exact oracle."""
    pairs = _copurchase_pairs(spark, sf_dir)
    degrees = _degrees_from

    # Threshold from the ORIGINAL degrees: (3 * total_degree) DIV
    # (4 * n_nodes) — three quarters of the mean, integer — fixed for all
    # rounds. The round-0 degree relation is the shared memoized one
    # (also consumed by triangle orientation), referenced here twice
    # (threshold + first peel) for free.
    deg0 = _copurchase_derived(spark, sf_dir, "deg")
    kdf = deg0.agg(
        F.expr("CAST((3 * SUM(d)) DIV (4 * COUNT(*)) AS BIGINT)").alias("kthr")
    )
    edges = pairs
    for _round in range(_KC_ROUNDS):
        alive = (
            (deg0 if _round == 0 else degrees(edges))
            .crossJoin(F.broadcast(kdf))
            .filter(F.col("d") >= F.col("kthr"))
            .select("n")
        )
        # Per-round lineage truncation (the CC convention): round r's
        # survivor set references the round-r edge relation TWICE (degree
        # count + both semi joins), so without materialization the edge
        # subtree re-executes ~2^r times — measured minutes at sf0.1 for
        # 3 rounds vs seconds linearized.
        edges = (
            edges.join(alive.select(F.col("n").alias("u")), "u", "left_semi")
            .join(alive.select(F.col("n").alias("v")), "v", "left_semi")
            .localCheckpoint(eager=True)
        )
    return (
        degrees(edges)
        .crossJoin(F.broadcast(kdf))
        .filter(F.col("d") >= F.col("kthr"))
        .select(F.col("n").alias("node"), F.col("d").alias("degree"))
    )


def _kcore_oracle() -> str:
    ctes = [
        f"""{_CP_PAIRS_SQL},
e0 AS MATERIALIZED (SELECT u, v FROM pairs)"""
    ]
    # AS MATERIALIZED: every e{r}/a{r} is referenced 2-3x downstream;
    # DuckDB would otherwise inline the CTE per reference and the peel
    # chain re-executes exponentially (the same blowup the Spark side
    # avoids with per-round localCheckpoint).
    ctes.append("""kd AS MATERIALIZED (
  SELECT CAST((3 * SUM(d)) // (4 * COUNT(*)) AS BIGINT) AS kthr FROM (
    SELECT n, COUNT(*) AS d FROM (
      SELECT u AS n FROM e0 UNION ALL SELECT v AS n FROM e0)
    GROUP BY n))""")
    for r in range(_KC_ROUNDS):
        ctes.append(f"""d{r} AS MATERIALIZED (
  SELECT n, COUNT(*) AS d FROM (
    SELECT u AS n FROM e{r} UNION ALL SELECT v AS n FROM e{r})
  GROUP BY n),
a{r} AS MATERIALIZED (SELECT n FROM d{r} CROSS JOIN kd WHERE d >= kthr),
e{r + 1} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{r} e
  JOIN a{r} au ON e.u = au.n
  JOIN a{r} av ON e.v = av.n)""")
    last = f"e{_KC_ROUNDS}"
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT node, degree FROM (
  SELECT n AS node, COUNT(*) AS degree FROM (
    SELECT u AS n FROM {last} UNION ALL SELECT v AS n FROM {last})
  GROUP BY n) CROSS JOIN kd
WHERE degree >= kthr
"""
    )


# --------------------------------------------------------------------------
# Label propagation (community detection, fixed unrolled rounds)
# --------------------------------------------------------------------------

_LPA_ROUNDS = 3


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, community): _LPA_ROUNDS synchronous LPA rounds over the
    capped co-purchase graph; label(n) <- the most frequent label among
    n's neighbors, ties to the SMALLEST label (deterministic -> exact
    unrolled-CTE oracle). Initial label = node id.

    Scale shape per round: one join of the directed edge list against the
    <= |nodes| label relation, then a map-side-combinable (node, label)
    count and a single max(struct(count, -label)) aggregation per node —
    no window sort. Unlike k-core (which references its edge relation 2-3
    times per round and NEEDS per-round localCheckpoint against the 2^r
    lineage blowup), each LPA round references the label relation exactly
    once, so lineage grows linearly and no round is checkpointed. The
    argmax trick: max over (count, -label) structs picks the highest
    count and, within it, the smallest label (labels are node ids,
    non-negative by schema, so the negation is a safe total-order flip —
    the same assumption the skew profile's -user_id argmax makes).

    Heavy-hitter bound of the round's single raw-message exchange: a node
    receives one message per neighbor, so the hottest key carries the max
    degree: 206 messages at sf0.01, 222 at sf0.1 (mean degree 116 and 120;
    BASELINE.md, "Label propagation")."""
    # Shared memoized symmetrized edge list: joined once per round plus
    # the label seed, so the single materialization replaces per-round
    # re-expansion of the checkpointed pairs.
    sym = _copurchase_derived(spark, sf_dir, "sym")
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
    )
    for _ in range(_LPA_ROUNDS):
        msgs = sym.join(
            labels.select(F.col("node").alias("src"), "lbl"), "src"
        ).select(F.col("dst").alias("node"), "lbl")
        # One exchange for BOTH aggregations (r17 optimization round,
        # guide §2.4): hashpartitioning(node) satisfies the clustered
        # distribution of groupBy(node, lbl) AND groupBy(node), so the
        # explicit repartition replaces the two aggregate exchanges of
        # the previous form with one. The trade is map-side combining on
        # (node, lbl) — worth ~nothing here because a neighbor list's
        # labels are near-unique within a map task (dup factor ~1), so
        # the raw message stream crossing the single exchange is the
        # same volume the combined partials were.
        cnt = (
            msgs.repartition("node")
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            cnt.groupBy("node")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))).alias("m"))
            .select("node", (-F.col("m.nl")).alias("lbl"))
        )
    return labels.select("node", F.col("lbl").alias("community"))


def _lpa_oracle() -> str:
    ctes = [
        f"""{_CP_SYM_SQL},
l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM sym)"""
    ]
    for r in range(_LPA_ROUNDS):
        ctes.append(f"""c{r} AS MATERIALIZED (
  SELECT e.dst AS node, l.lbl, COUNT(*) AS c
  FROM sym e JOIN l{r} l ON e.src = l.node
  GROUP BY 1, 2),
l{r + 1} AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY c DESC, lbl ASC) AS rn
    FROM c{r})
  WHERE rn = 1)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, lbl AS community FROM l{_LPA_ROUNDS}\n"
    )


# --------------------------------------------------------------------------
# Link prediction: common-neighbor / resource-allocation scoring
# --------------------------------------------------------------------------

_CN_CAP = 32  # per-node adjacency cap for wedge generation (deterministic,
#               lowest-id neighbors; replayed verbatim by the oracle)
_CN_TOP = 50


def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-_CN_TOP predicted links in the part co-purchase graph: score
    every NON-adjacent pair by common-neighbor count, tie-broken by the
    resource-allocation index Σ 1000 DIV deg(z) over shared neighbors z
    (Zhou et al. 2009 — the 1/deg form without transcendentals, integer
    permille).

    Scale shape: wedges come from the CAPPED adjacency (row_number <=
    _CN_CAP per node, WindowGroupLimit map-side truncation — the same
    hub-bound as the triangle counter's orientation), so per-node wedge
    fan-out is <= C(cap, 2) regardless of hub degree. Degree and
    symmetrized-edge relations are the graph family's shared memoized
    artifacts; the frontier is orderBy+limit (TakeOrderedAndProject — a
    per-partition top-k plus one singleton merge, no global sort) over a
    fully deterministic (cn DESC, ra DESC, a, b) total order."""
    pairs = _copurchase_pairs(spark, sf_dir)
    sym = _copurchase_derived(spark, sf_dir, "sym")
    deg = _copurchase_derived(spark, sf_dir, "deg")
    cadj = (
        sym.withColumn(
            "rn", F.row_number().over(Window.partitionBy("src").orderBy("dst"))
        )
        .filter(F.col("rn") <= _CN_CAP)
        .select(F.col("src").alias("z"), F.col("dst").alias("nbr"))
    )
    # Join BEFORE the wedge explosion (guide §3.3): the per-z RA
    # contribution 1000 DIV deg(z) is attached to the CAPPED adjacency
    # (<= _CN_CAP rows per node), not to the exploded wedge stream
    # (<= C(_CN_CAP, 2) rows per node) — both wedge sides share z, so
    # carrying side a's contribution through the self-join is exact and
    # the degree join probes ~15x fewer rows.
    cadjd = cadj.join(deg.select(F.col("n").alias("z"), "d"), "z").withColumn(
        "ra_c", F.expr("1000 DIV d")
    )
    wedges = (
        cadjd.alias("a")
        .join(
            cadj.alias("b"),
            (F.col("a.z") == F.col("b.z")) & (F.col("a.nbr") < F.col("b.nbr")),
        )
        .select(
            F.col("a.nbr").alias("na"),
            F.col("b.nbr").alias("nb"),
            F.col("a.ra_c").alias("ra_c"),
        )
    )
    scored = wedges.groupBy("na", "nb").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.expr("CAST(SUM(ra_c) AS BIGINT)").alias("ra_milli"),
    )
    nonedge = scored.join(
        pairs,
        (scored["na"] == pairs["u"]) & (scored["nb"] == pairs["v"]),
        "left_anti",
    )
    return (
        nonedge.select(
            F.col("na").alias("node_a"),
            F.col("nb").alias("node_b"),
            "common_neighbors",
            "ra_milli",
        )
        .orderBy(
            F.desc("common_neighbors"), F.desc("ra_milli"), "node_a", "node_b"
        )
        .limit(_CN_TOP)
    )


COMMON_NEIGHBORS_ORACLE = f"""
WITH {_CP_SYM_SQL},
deg AS (SELECT src AS n, COUNT(*) AS d FROM sym GROUP BY 1),
cadj AS (
  SELECT src AS z, dst AS nbr FROM (
    SELECT src, dst,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn
    FROM sym)
  WHERE rn <= {_CN_CAP}),
wedges AS (
  SELECT a.z, a.nbr AS na, b.nbr AS nb
  FROM cadj a JOIN cadj b ON a.z = b.z AND a.nbr < b.nbr),
scored AS (
  SELECT na, nb, COUNT(*) AS common_neighbors,
         CAST(SUM(1000 // d) AS BIGINT) AS ra_milli
  FROM wedges JOIN deg ON deg.n = wedges.z
  GROUP BY 1, 2),
nonedge AS (
  SELECT s.* FROM scored s
  LEFT JOIN pairs p ON p.u = s.na AND p.v = s.nb
  WHERE p.u IS NULL)
SELECT na AS node_a, nb AS node_b, common_neighbors, ra_milli
FROM nonedge
ORDER BY common_neighbors DESC, ra_milli DESC, node_a, node_b
LIMIT {_CN_TOP}
"""


# --------------------------------------------------------------------------
# Bounded BFS over the co-purchase graph (frontier iteration)
# --------------------------------------------------------------------------

_BFS_HOPS = 4  # hop bound — both engines cut the expansion here


def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS distances (<= _BFS_HOPS hops) from the minimum
    node of the part co-purchase graph — the Pregel iteration pattern in
    DataFrame form: per round, join the CURRENT FRONTIER (only the nodes
    discovered last round, not the whole visited set) against the shared
    symmetrized edge list, anti-join away already-visited nodes, and
    localCheckpoint to cut the growing lineage. The frontier join is the
    scale point: work per round is O(edges touched by the frontier), and
    the visited set is only re-read by the (hash, bounded) anti-join.
    Early exit when a frontier drains. The oracle is a bounded recursive
    CTE (DuckDB WITH RECURSIVE, d < hops) + MIN(d) per node — equal to
    frontier BFS for every node within the bound.

    Output: one bounded row per BFS level (count, min/max node, id
    checksum)."""
    sym = _copurchase_derived(spark, sf_dir, "sym")
    src = sym.agg(F.min("src").alias("node"))
    # Kept: 1.85 -> 2.13 s at sf0.1 without it (tools/checkpoint_sweep.py).
    dist = src.select("node", F.lit(0).alias("dist")).localCheckpoint(eager=True)
    frontier = dist
    for hop in range(1, _BFS_HOPS + 1):
        nxt = (
            frontier.join(sym, frontier["node"] == sym["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .select("node", F.lit(hop).alias("dist"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        # UNION of already-checkpointed frontiers, NOT re-checkpointed
        # (r17 optimization round): every leg is its own ExistingRDD, so
        # re-materializing the concatenation each round copied the whole
        # visited set O(hops) times for no lineage benefit — the union of
        # h materialized legs is depth-1 lineage already. The anti-join
        # and the final rollup read the same rows either way.
        dist = dist.unionAll(nxt)
        frontier = nxt
    return dist.groupBy("dist").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.expr("CAST(MIN(node) AS BIGINT)").alias("min_node"),
        F.expr("CAST(MAX(node) AS BIGINT)").alias("max_node"),
        F.expr("CAST(SUM(node) AS BIGINT)").alias("id_checksum"),
    )


BFS_ORACLE = f"""
WITH RECURSIVE {_CP_SYM_SQL},
root AS (SELECT MIN(src) AS node FROM sym),
walk(node, d) AS (
  SELECT node, 0 FROM root
  UNION
  SELECT sym.dst, walk.d + 1
  FROM walk JOIN sym ON sym.src = walk.node
  WHERE walk.d < {_BFS_HOPS}),
bfs AS (SELECT node, MIN(d) AS dist FROM walk GROUP BY 1)
SELECT dist, COUNT(*) AS n_nodes,
       CAST(MIN(node) AS BIGINT) AS min_node,
       CAST(MAX(node) AS BIGINT) AS max_node,
       CAST(SUM(node) AS BIGINT) AS id_checksum
FROM bfs GROUP BY 1
"""


def graph_bfs_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWIN of graph_bfs_distances through Spark 4.1's ``WITH RECURSIVE``
    (SPARK-24497): the same bounded single-source BFS declared as a
    recursive CTE instead of a driver-side frontier loop, over the same
    shared symmetrized edge relation. Both faces share one oracle — the
    driver gate proves the declarative and iterative forms identical.

    Spark 4.1 supports only UNION ALL recursion (UNION dedup raises
    UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE — verified r10), and a naive
    UNION ALL walk ENUMERATES WALKS: measured 214M/258M length-<=4 walks
    at sf0.01/sf0.1 on this graph — it blows the 1M
    RECURSION_ROW_LIMIT_EXCEEDED guard and would be a genuine scale
    anti-pattern (hub degree grows with the data, so walk counts grow
    super-linearly). The fix that keeps the CTE scale-correct: DISTINCT
    in the recursive term (supported) collapses each level to node
    granularity — level k holds the distinct nodes reachable in exactly
    k steps, <= |nodes| rows per level, revisits resolved by the outer
    MIN(d) exactly as in the oracle's UNION walk. The iterative form
    (graph_bfs_distances) additionally anti-joins the visited set so its
    frontier SHRINKS; the CTE re-derives reachable sets per level — the
    remaining cost of declarativeness until UNION-dedup recursion
    lands. Scale knob: cumulative walk rows are bounded by
    (hops+1) x |reachable nodes|, which clears the default
    spark.sql.cteRecursionRowLimit (1,000,000) up to ~200k-node graphs;
    beyond that, raise the conf — the per-level DISTINCT keeps the
    actual work linear in nodes regardless."""
    sym = _copurchase_derived(spark, sf_dir, "sym")
    sym.createOrReplaceTempView("lmrs_bfs_sym_v")
    return spark.sql(
        f"""
        WITH RECURSIVE walk(node, d) AS (
          SELECT CAST(MIN(src) AS BIGINT), 0 FROM lmrs_bfs_sym_v
          UNION ALL
          SELECT DISTINCT s.dst, walk.d + 1
          FROM walk JOIN lmrs_bfs_sym_v s ON s.src = walk.node
          WHERE walk.d < {_BFS_HOPS}
        ),
        bfs AS (SELECT node, MIN(d) AS dist FROM walk GROUP BY node)
        SELECT dist,
               COUNT(*) AS n_nodes,
               CAST(MIN(node) AS BIGINT) AS min_node,
               CAST(MAX(node) AS BIGINT) AS max_node,
               CAST(SUM(node) AS BIGINT) AS id_checksum
        FROM bfs GROUP BY dist
        """
    )


# --------------------------------------------------------------------------
# Nation trade graph substrate: the capped directed edges, the bounded
# shortest-distance walk over them, and their DuckDB replays
# --------------------------------------------------------------------------

_SCC_FANOUT = 2  # top trade partners kept per nation (sparser than the
#                  closure's 3: more interesting SCC structure)
_TC_FANOUT = 3  # the transitive closure's fanout (edge sparsifier)
_CC_HOPS = 12  # hop bound: h-bounded harmonic centrality (Boldi & Vigna
#                2014 treat truncated variants as first-class; the bound
#                is part of the SEMANTICS here, identical in the oracle)


def _trade_line_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cn, sn): one row per lineitem with the customer and supplier
    nation names (cn != sn) — the Q7-shaped 5-way join every trade edge
    build shares: the capped directed edges at either fanout and the
    MST's undirected weights."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation_c = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cn")
    )
    nation_s = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("sn")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation_c), F.col("c_nationkey") == F.col("cn_key"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation_s), F.col("s_nationkey") == F.col("sn_key"))
        .filter(F.col("cn") != F.col("sn"))
        .select("cn", "sn")
    )


def _scc_edges(
    spark: SparkSession, sf_dir: str, fanout: int = _SCC_FANOUT
) -> DataFrame:
    """Directed nation trade graph: for each customer nation its top
    ``fanout`` supplier nations by lineitem count (count DESC, name ASC
    — exact-integer deterministic), a WindowGroupLimit sparsifier over
    the shared 5-way join. The closure keeps _TC_FANOUT partners, every
    other trade query _SCC_FANOUT."""
    trade = (
        _trade_line_pairs(spark, sf_dir)
        .groupBy(F.col("cn").alias("src"), F.col("sn").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )
    wr = Window.partitionBy("src").orderBy(
        F.col("n_lines").desc(), F.col("dst")
    )
    return (
        trade.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= fanout)
        .select("src", "dst")
    )


def _trade_walk(spark: SparkSession, edges: DataFrame, hops: int) -> DataFrame:
    """(src, dst, hops): MIN shortest-path hops within ``hops`` over
    ``edges``. UNION ALL recursion with DISTINCT in the recursive term
    (Spark 4.1 rejects UNION-dedup recursion:
    UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE) and a d < hops guard — the
    graph is CYCLIC, so per-level DISTINCT + outer MIN(d) is what makes
    the walk terminate at <= 625 rows/level instead of enumerating
    infinitely many walks."""
    edges.createOrReplaceTempView("lmrs_trade_edges_v")
    return spark.sql(
        f"""
        WITH RECURSIVE r(src, dst, d) AS (
          SELECT src, dst, 1 FROM lmrs_trade_edges_v
          UNION ALL
          SELECT DISTINCT r.src, e.dst, r.d + 1
          FROM r JOIN lmrs_trade_edges_v e ON r.dst = e.src
          WHERE r.d < {hops} AND r.src <> e.dst
        )
        SELECT src, dst, CAST(MIN(d) AS BIGINT) AS hops
        FROM r GROUP BY src, dst
        """
    )


# Memoized trade-graph substrate (r16 optimization round, guide §2.4:
# "remove shuffles outright"). Most trade queries consume the SAME
# <=50-row capped edge relation, and closeness, eccentricity and the
# Brandes base additionally walk the SAME <=_CC_HOPS-hop shortest-distance
# relation over it; before r16 every one of them re-ran the Q7-shaped
# 5-way fact join (~1-2 s at sf0.1) and closeness/eccentricity each re-ran
# the identical depth-12 recursion (~3-5 s) — per-query substrate
# rebuild, not per-query work. Both are localCheckpoint'd and memoized.


@memo
def _trade_edges_ck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized localCheckpoint'd _scc_edges — the shared capped directed
    trade graph every graph_* query on the nation substrate consumes."""
    return _scc_edges(spark, sf_dir).localCheckpoint(eager=True)


@memo
def _trade_dists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, hops): the _CC_HOPS-bounded walk over the shared edge
    relation, memoized so one process executes it once."""
    return _trade_walk(
        spark, _trade_edges_ck(spark, sf_dir), _CC_HOPS
    ).localCheckpoint(eager=True)


def _edge_nodes(edges: DataFrame) -> DataFrame:
    """(node): every endpoint of a (src, dst) edge relation, once."""
    return (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def _trade_sym(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, w): the undirected view of the shared capped trade graph —
    both orientations of every edge, DISTINCT, so a reciprocated pair is
    one undirected edge."""
    edges = _trade_edges_ck(spark, sf_dir)
    return (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("w"))
        .unionByName(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("w"))
        )
        .distinct()
    )


# DuckDB replays of the builders above, shared by the trade oracles only
# (never by the Spark side). No WITH: each oracle keeps its own WITH or
# WITH RECURSIVE prefix.


def _trade_sql(src: str = "cn.n_name", dst: str = "sn.n_name") -> str:
    """``trade(src, dst, n_lines)``: _trade_line_pairs' 5-way join
    counted per (src, dst) — expressions over the nation names cn/sn."""
    return f"""trade AS (
  SELECT {src} AS src, {dst} AS dst, COUNT(*) AS n_lines
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE cn.n_name <> sn.n_name
  GROUP BY 1, 2)"""


def _trade_edges_sql(fanout: int = _SCC_FANOUT) -> str:
    """``trade`` plus ``edges(src, dst)``: _scc_edges(fanout)."""
    return f"""{_trade_sql()},
edges AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                                 ORDER BY n_lines DESC, dst) AS rn
    FROM trade)
  WHERE rn <= {fanout})"""


def _trade_walk_sql(hops: int) -> str:
    """``r`` plus ``dists(src, dst, hops)``: _trade_walk over ``edges``."""
    return f"""r(src, dst, d) AS (
  SELECT src, dst, 1 FROM edges
  UNION ALL
  SELECT DISTINCT r.src, e.dst, r.d + 1
  FROM r JOIN edges e ON r.dst = e.src
  WHERE r.d < {hops} AND r.src <> e.dst),
dists AS MATERIALIZED (
  SELECT src, dst, CAST(MIN(d) AS BIGINT) AS hops FROM r GROUP BY 1, 2)"""


# _edge_nodes over ``edges``. Explicit DISTINCT over UNION ALL: inside a
# WITH RECURSIVE clause DuckDB gives a two-branch UNION recursive-union
# semantics and does NOT apply the final dedup (observed 100 rows / 25
# distinct).
_TRADE_NODES_SQL = """nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges))"""

# _trade_sym over ``edges``.
_TRADE_SYM_SQL = """sym AS MATERIALIZED (
  SELECT DISTINCT u, w FROM (
    SELECT src AS u, dst AS w FROM edges
    UNION ALL SELECT dst, src FROM edges))"""


# --------------------------------------------------------------------------
# PageRank over the nation trade graph (fixed-point integer arithmetic)
# --------------------------------------------------------------------------

_PR_SCALE = 1_000_000  # fixed-point denominator: 6 decimal digits
_PR_ITERS = 3

# Engine-shared update rule (``{div}`` = truncating integer division:
# ``DIV`` in Spark, ``//`` in DuckDB — identical on the non-negative
# operands used here). m = sum(t * r) over in-edges, n = node count.
#   r' = (15 * SCALE) div (100 * n)  +  (85 * (m div SCALE)) div 100
_PR_STEP = (
    f"(15 * {_PR_SCALE}) {{div}} (100 * n)"
    f" + (85 * (COALESCE(m, CAST(0 AS BIGINT)) {{div}} {_PR_SCALE})) {{div}} 100"
)


def graph_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank (d=0.85) over nation->nation trade edges.

    Edge weight = lineitem count from customer-nation to supplier-nation.
    Dangling mass is dropped (no nation lacks out-edges in TPC-H data;
    the contract documents the simplification). Scores are scaled BIGINTs
    (true score x 1e6), exact in both engines.
    """
    li, orders, cust, supp, nation = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    edges = (
        li.select("l_orderkey", "l_suppkey")
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(supp.select("s_suppkey", "s_nationkey"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        # Kept: test_pagerank_single_big_scan pins one scan per growing table.
        .localCheckpoint(eager=True)
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    trans = edges.join(outw, "src").select(
        "src", "dst", F.expr(f"(w * {_PR_SCALE}) DIV ow").alias("t")
    )
    nodes = nation.select(F.col("n_nationkey").alias("node"), "n_name")
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))  # single row: node count

    # r carries (node, r, n); the node-count column rides along so each
    # unrolled step needs no further cross join.
    r = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.expr(f"CAST({_PR_SCALE} DIV n AS BIGINT)").alias("r"), "n"
    )
    step = _PR_STEP.format(div="DIV")
    for _ in range(_PR_ITERS):
        inm = (
            trans.join(r.select(F.col("node").alias("src"), "r"), "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("t * r")).alias("m"))
        )
        r = (
            r.select("node", "n")
            .join(inm, F.col("node") == F.col("dst"), "left")
            .select("node", F.expr(f"CAST({step} AS BIGINT)").alias("r"), "n")
        )
    return (
        r.select("node", "r")
        .join(nodes, "node")
        .select("node", "n_name", F.col("r").alias("pr_scaled"))
    )


def _pagerank_oracle() -> str:
    ctes = [
        """
edges AS (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2),
outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
trans AS (SELECT e.src, e.dst, (e.w * {S}) // ow AS t
          FROM edges e JOIN outw USING (src)),
nn AS (SELECT COUNT(*) AS n FROM nation),
r0 AS (SELECT n_nationkey AS node, CAST({S} // n AS BIGINT) AS r
       FROM nation CROSS JOIN nn)""".format(S=_PR_SCALE)
    ]
    for k in range(1, _PR_ITERS + 1):
        ctes.append(
            f"""
m{k} AS (SELECT t.dst, SUM(t.t * r.r) AS m
        FROM trans t JOIN r{k - 1} r ON t.src = r.node GROUP BY t.dst),
r{k} AS (SELECT nt.n_nationkey AS node, CAST({_PR_STEP.format(div='//')} AS BIGINT) AS r
        FROM nation nt CROSS JOIN nn
        LEFT JOIN m{k} ON nt.n_nationkey = m{k}.dst)"""
        )
    return (
        "WITH " + ",".join(ctes) + f"""
SELECT r.node AS node, n.n_name AS n_name, r.r AS pr_scaled
FROM r{_PR_ITERS} r JOIN nation n ON r.node = n.n_nationkey
"""
    )


# --------------------------------------------------------------------------
# Trade-graph transitive closure via recursive CTE (late-r10 — §7.4.3)
# --------------------------------------------------------------------------

_TC_HOPS = 8  # recursion depth bound (25-node graph: diameter << 8)


def graph_trade_closure_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop reachability over the nation trade graph as a second
    ``WITH RECURSIVE`` face (SPARK-24497), exercising multi-CTE
    composition + cycle handling where graph_bfs_recursive_cte exercised
    single-source BFS. Edges: for each customer nation, its top
    _TC_FANOUT supplier nations by lineitem count (_scc_edges at the
    closure's wider fanout). Closure: the shared bounded walk
    (_trade_walk) at a d < _TC_HOPS guard; hops = MIN(d) is the
    shortest-path distance, identical in both engines.

    Scale shape: the edge build aggregates the fact join down to <= 25*25
    pairs BEFORE the window rank (nation dims broadcast; the lineitem⋈
    orders⋈customer joins shuffle on their keys exactly like q7); the
    recursion then runs on a <= 25*_TC_FANOUT-row relation — constant-
    bounded by SCHEMA (25 nations), not by data volume, which is what
    makes an iterated self-join safe to declare recursively here."""
    # Kept: the recursion re-reads it per level (1.66 -> 3.48 s at sf0.01 without).
    edges = _scc_edges(spark, sf_dir, _TC_FANOUT).localCheckpoint(eager=True)
    return _trade_walk(spark, edges, _TC_HOPS)


TRADE_CLOSURE_ORACLE = f"""
WITH RECURSIVE {_trade_edges_sql(_TC_FANOUT)},
{_trade_walk_sql(_TC_HOPS)}
SELECT src, dst, hops FROM dists
"""


# --------------------------------------------------------------------------
# Strongly connected components (Kosaraju — SURVEY §7.4 r12 candidate 4)
# --------------------------------------------------------------------------

_SCC_STEPS = 7  # recursion depth over the <=4-hop step relation:
#                 levels 1..7 cover path lengths 1..28 > 24 = the longest
#                 possible shortest path on 25 nodes — structurally EXACT


def _square_steps(steps: DataFrame) -> DataFrame:
    """paths(<=2L) from paths(<=L): steps ∪ (steps ∘ steps), self-pairs
    dropped (any walk through a (u,u) loop has a shorter loop-free walk,
    so dropping them never loses a reachable pair)."""
    j = (
        steps.alias("a")
        .join(steps.alias("b"), F.col("a.dst") == F.col("b.src"))
        .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    return steps.unionByName(j).distinct()


def graph_scc_kosaraju(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the directed nation trade graph —
    Kosaraju's characterization: u and v share an SCC iff u reaches v in
    the graph AND u reaches v in the REVERSED graph (i.e. v also reaches
    u). Forward and backward reachability are two bounded ``WITH
    RECURSIVE`` closures (the cyclic-graph complement of
    graph_trade_closure_recursive_cte, SURVEY §7.4 r12 candidate 4); the
    component id is the canonical MIN member name and every node carries
    its component's size.

    Depth bound, structurally exact: the recursion walks a PRE-SQUARED
    step relation (edges doubled twice -> all <=4-hop pairs, itself a
    bounded <=625-row relation), so _SCC_STEPS=7 levels cover shortest
    paths up to length 28 > 24 = n_nodes - 1 — no reachable pair can
    need more. Squaring first matters operationally: a depth-25 walk on
    raw edges costs 25 per-level recursion rounds (measured 14.7 s at
    sf0.1 — per-level fixed cost, not data), while 2 tiny self-joins +
    7 levels run in ~3 s with IDENTICAL pair coverage.

    Scale shape: the edge build aggregates the fact join down to <=625
    pairs BEFORE the window rank (dims broadcast, fact joins shuffle on
    keys exactly like q7); everything after — squaring, both recursions,
    the mutual intersection, the min-label rollup — runs on
    schema-bounded <=625-row relations (25 nations), localCheckpoint'd
    so no level recomputes the fact join. On a bigger graph the same
    plan holds with the step relation bucketed by src; the recursion
    depth grows with log(diameter), not node count."""
    edges = _trade_edges_ck(spark, sf_dir)
    # Kept: 1.89 -> 4.52 s at sf0.01 without it (tools/checkpoint_sweep.py).
    steps4 = _square_steps(_square_steps(edges)).localCheckpoint(eager=True)
    steps4.createOrReplaceTempView("lmrs_scc_steps_v")
    closure_sql = """
        WITH RECURSIVE r(src, dst, d) AS (
          SELECT src, dst, 1 FROM {view}
          UNION ALL
          SELECT DISTINCT r.src, e.dst, r.d + 1
          FROM r JOIN {view} e ON r.dst = e.src
          WHERE r.d < {steps} AND r.src <> e.dst
        )
        SELECT DISTINCT src, dst FROM r
    """
    # Kept: 1.89 -> 2.26 s at sf0.01 without its checkpoint.
    fwd = spark.sql(
        closure_sql.format(view="lmrs_scc_steps_v", steps=_SCC_STEPS)
    ).localCheckpoint(eager=True)
    # bwd(u, v): u reaches v in the REVERSED graph == v reaches u in the
    # original — so the backward closure is exactly the forward closure
    # TRANSPOSED, and since the depth bound is structurally exact (28 >
    # the longest possible shortest path on 25 nodes, see the docstring)
    # both closures are FULL reachability and the transpose identity is
    # exact. One recursion instead of two (r16 optimization round); the
    # checkpoint stops the surviving recursion from executing twice under
    # its two consumers. fwd ∩ bwd on (src, dst) is mutual reachability.
    bwd = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mutual = fwd.join(bwd, ["src", "dst"])
    nodes = _edge_nodes(edges)
    members = mutual.select(
        F.col("src").alias("node"), F.col("dst").alias("peer")
    ).unionByName(nodes.select("node", F.col("node").alias("peer")))
    scc = members.groupBy("node").agg(F.min("peer").alias("scc_id"))
    sizes = scc.groupBy("scc_id").agg(
        F.count(F.lit(1)).alias("scc_size")
    )
    return scc.join(sizes, "scc_id").select("node", "scc_id", "scc_size")


SCC_ORACLE = f"""
WITH RECURSIVE {_trade_edges_sql()},
s2 AS (
  SELECT src, dst FROM edges
  UNION
  SELECT a.src, b.dst FROM edges a JOIN edges b ON a.dst = b.src
  WHERE a.src <> b.dst),
s4 AS (
  SELECT src, dst FROM s2
  UNION
  SELECT a.src, b.dst FROM s2 a JOIN s2 b ON a.dst = b.src
  WHERE a.src <> b.dst),
fwd(src, dst, d) AS (
  SELECT src, dst, 1 FROM s4
  UNION ALL
  SELECT DISTINCT r.src, e.dst, r.d + 1
  FROM fwd r JOIN s4 e ON r.dst = e.src
  WHERE r.d < {_SCC_STEPS} AND r.src <> e.dst),
bwd(src, dst, d) AS (
  SELECT dst, src, 1 FROM s4
  UNION ALL
  SELECT DISTINCT r.src, e.src, r.d + 1
  FROM bwd r JOIN s4 e ON r.dst = e.dst
  WHERE r.d < {_SCC_STEPS} AND r.src <> e.src),
mutual AS (
  SELECT DISTINCT f.src, f.dst
  FROM (SELECT DISTINCT src, dst FROM fwd) f
  JOIN (SELECT DISTINCT src, dst FROM bwd) b
    ON f.src = b.src AND f.dst = b.dst),
{_TRADE_NODES_SQL},
members AS (
  SELECT src AS node, dst AS peer FROM mutual
  UNION
  SELECT node, node FROM nodes),
scc AS (
  SELECT node, MIN(peer) AS scc_id FROM members GROUP BY node),
sizes AS (
  SELECT scc_id, COUNT(*) AS scc_size FROM scc GROUP BY scc_id)
SELECT node, scc.scc_id AS scc_id, scc_size
FROM scc JOIN sizes ON scc.scc_id = sizes.scc_id
"""


# --------------------------------------------------------------------------
# Harmonic closeness centrality (bounded-hop, over the SCC trade graph)
# --------------------------------------------------------------------------


def graph_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic closeness centrality of the directed nation trade graph
    (the top-2-partner edges shared with graph_scc_kosaraju) — the
    reachability-weighted complement of the family's pagerank
    (influence) and k-core (cohesion) members: H(u) = sum over v
    reached within _CC_HOPS hops of 1000 DIV d(u, v), in integer
    permille, plus the reach count. Harmonic (not classic 1/sum-d)
    because it handles unreachable pairs gracefully — they contribute
    zero instead of poisoning the sum — and the hop bound is explicit
    TRUNCATED-centrality semantics (both engines apply the same bound,
    so the gate checks the truncated definition exactly). Distances are
    shortest-path hops from a bounded ``WITH RECURSIVE`` walk with
    per-level DISTINCT over the cyclic graph (the trade-closure
    convention; depth 12 on raw edges measured ~3 s at sf0.1 — the
    recursion's per-level fixed cost, not data volume).

    Scale shape: the edge build collapses the fact join to <=50 rows
    before the recursion (the shared _scc_edges path); the walk, the
    MIN(d) grain and the per-node rollup all run on schema-bounded
    <=625-row relations."""
    edges = _trade_edges_ck(spark, sf_dir)
    dists = _trade_dists(spark, sf_dir)
    nodes = _edge_nodes(edges)
    per_node = dists.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("n_reached"),
        F.expr("CAST(SUM(1000 DIV hops) AS BIGINT)").alias(
            "harmonic_permille"
        ),
    )
    return (
        nodes.join(per_node, "node", "left")
        .select(
            "node",
            F.expr("COALESCE(n_reached, 0)").alias("n_reached"),
            F.expr("COALESCE(harmonic_permille, 0)").alias(
                "harmonic_permille"
            ),
        )
    )


CLOSENESS_ORACLE = f"""
WITH RECURSIVE {_trade_edges_sql()},
{_trade_walk_sql(_CC_HOPS)},
{_TRADE_NODES_SQL},
per_node AS (
  SELECT src AS node, COUNT(*) AS n_reached,
         CAST(SUM(1000 // hops) AS BIGINT) AS harmonic_permille
  FROM dists GROUP BY src)
SELECT node, COALESCE(n_reached, 0) AS n_reached,
       COALESCE(harmonic_permille, 0) AS harmonic_permille
FROM nodes LEFT JOIN per_node USING (node)
"""


# --------------------------------------------------------------------------
# Maximum spanning tree via the min-max (bottleneck) semiring closure
# --------------------------------------------------------------------------

_MST_DOUBLINGS = 5  # minimax closure doublings: paths <= 2^5 = 32 > 24 hops


def _mst_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected weighted nation trade graph: per unordered nation pair
    the total lineitem count in either direction, ranked 1 = heaviest
    (ROW_NUMBER over (n_lines DESC, src, dst) — DISTINCT ranks, so the
    spanning forest below is unique). Shares _trade_line_pairs with the
    SCC edge build, un-sparsified: the pair space is bounded by SCHEMA
    at C(25,2)."""
    trade = (
        _trade_line_pairs(spark, sf_dir)
        .groupBy(
            F.expr("least(cn, sn)").alias("src"),
            F.expr("greatest(cn, sn)").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )
    wr = Window.orderBy(F.col("n_lines").desc(), F.col("src"), F.col("dst"))
    # unpartitioned rank over the schema-bounded <=C(25,2)-row pair table
    return trade.withColumn("rank", F.row_number().over(wr))


def graph_mst_maximum_spanning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum spanning tree of the weighted nation trade graph — the
    trade BACKBONE (heaviest acyclic subgraph touching every nation),
    computed WITHOUT union-find or any sequential Kruskal scan: with
    DISTINCT edge ranks (1 = heaviest), edge e=(u,v) is in the unique
    maximum spanning forest iff NO path between u and v uses only
    strictly heavier edges — equivalently iff the MINIMAX path value
    between u and v (min over paths of the max rank on the path, the
    min-max/bottleneck SEMIRING closure) equals e's own rank. The
    closure is computed by _MST_DOUBLINGS relation doublings
    (M ∪ minmax-compose(M, M), keeping MIN bottleneck per pair), so 5
    rounds cover every <=32-hop path on 25 nodes — the same
    squaring-beats-stepping discipline as graph_scc_kosaraju, carried
    from the boolean to the bottleneck semiring. Every edge is emitted
    with its rank, its pair's closure bottleneck, and the membership
    verdict, so the gate value-checks the closure itself, not just the
    chosen tree; an independent pure-Python KRUSKAL replay (union-find,
    the textbook algorithm this plan refuses to serialize) pins the
    same tree in tests.

    Scale shape: the fact join collapses to a schema-bounded <=C(25,2)
    pair table before the rank; each doubling is a self-join + groupBy
    MIN on a <=2*C(25,2)-row localCheckpoint'd relation. On a larger
    graph the same doubling runs bucketed by src with log(diameter)
    rounds — never a driver-side union-find."""
    # Kept: 1.78 -> 2.43 s at sf0.1 without it (tools/checkpoint_sweep.py).
    edges = _mst_edges(spark, sf_dir).localCheckpoint(eager=True)
    m = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v"),
        F.col("rank").alias("b"),
    ).unionByName(
        edges.select(
            F.col("dst").alias("u"), F.col("src").alias("v"),
            F.col("rank").alias("b"),
        )
    )
    for _ in range(_MST_DOUBLINGS):
        composed = (
            m.alias("a")
            .join(m.alias("c"), F.col("a.v") == F.col("c.u"))
            .filter(F.col("a.u") != F.col("c.v"))
            .select(
                F.col("a.u").alias("u"),
                F.col("c.v").alias("v"),
                F.expr("greatest(a.b, c.b)").alias("b"),
            )
        )
        m = (
            m.unionByName(composed)
            .groupBy("u", "v")
            .agg(F.min("b").alias("b"))
            .localCheckpoint(eager=True)
        )
    return (
        edges.join(
            m,
            (F.col("src") == F.col("u")) & (F.col("dst") == F.col("v")),
        )
        .select(
            "src",
            "dst",
            "n_lines",
            "rank",
            F.col("b").alias("bottleneck"),
            F.expr("b = rank").alias("in_mst"),
        )
    )


def _mst_oracle() -> str:
    # unrolled doublings of the minimax closure (the kmeans-oracle
    # convention: a fixed-depth iterative operator replayed as a CTE
    # chain), over the same deterministic ranked edge table
    squarings = []
    prev = "m0"
    for i in range(1, _MST_DOUBLINGS + 1):
        cur = f"m{i}"
        squarings.append(
            f"""{cur} AS MATERIALIZED (
  SELECT u, v, MIN(b) AS b FROM (
    SELECT u, v, b FROM {prev}
    UNION ALL
    SELECT a.u, c.v, greatest(a.b, c.b) AS b
    FROM {prev} a JOIN {prev} c ON a.v = c.u
    WHERE a.u <> c.v)
  GROUP BY u, v)"""
        )
        prev = cur
    chain = ",\n".join(squarings)
    trade = _trade_sql(
        "least(cn.n_name, sn.n_name)", "greatest(cn.n_name, sn.n_name)"
    )
    return f"""
WITH {trade},
edges AS (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY n_lines DESC, src, dst)
                 AS BIGINT) AS rank
  FROM trade),
m0 AS (
  SELECT src AS u, dst AS v, rank AS b FROM edges
  UNION ALL
  SELECT dst AS u, src AS v, rank AS b FROM edges),
{chain}
SELECT src, dst, n_lines, rank, b AS bottleneck, b = rank AS in_mst
FROM edges JOIN {prev} ON src = u AND dst = v
"""


MST_ORACLE = _mst_oracle()


# --------------------------------------------------------------------------
# Betweenness centrality (bounded-hop Brandes dependencies, trade graph)
# --------------------------------------------------------------------------

_BC_HOPS = _CC_HOPS  # the sigma DP walks _trade_dists' levels


@memo
def _bc_base(spark: SparkSession, sf_dir: str):
    """(edges, dists, sigma): the bounded trade-graph edge relation, the
    <=_BC_HOPS-hop shortest distances, and the level-synchronous
    shortest-path-count DP — all localCheckpoint'd (<= 625-row
    relations; see graph_betweenness_centrality's scale-shape note).
    Memoized because the node-grain betweenness and the edge-grain
    Girvan-Newman step share it, so the 12-level sigma DP runs once per
    input when both queries execute in one process (bench, the driver's
    per-query loop)."""
    edges = _trade_edges_ck(spark, sf_dir)
    dists = _trade_dists(spark, sf_dir).withColumnRenamed("hops", "d")

    # Level-synchronous path-count DP over the hop levels.
    sigma = (
        edges.join(dists, ["src", "dst"])
        .filter(F.col("d") == 1)
        .select("src", "dst", F.lit(1).cast("bigint").alias("sigma"), "d")
        .localCheckpoint(eager=True)
    )
    for lvl in range(2, _BC_HOPS + 1):
        prev = sigma.filter(F.col("d") == lvl - 1).select(
            F.col("src").alias("w"), F.col("dst").alias("t"), "sigma"
        )
        nxt = (
            edges.select(F.col("src").alias("s"), F.col("dst").alias("w"))
            .join(prev, "w")
            .groupBy(F.col("s").alias("src"), F.col("t").alias("dst"))
            .agg(F.expr("CAST(SUM(sigma) AS BIGINT)").alias("sigma"))
            .join(dists, ["src", "dst"])
            .filter(F.col("d") == lvl)
            .select("src", "dst", "sigma", "d")
        )
        sigma = sigma.unionByName(nxt).localCheckpoint(eager=True)
    return edges, dists, sigma


def graph_betweenness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Betweenness centrality of the directed nation trade graph — the
    centrality family's last classic (pagerank = influence, k-core =
    cohesion, harmonic closeness = reach; betweenness = BROKERAGE, how
    much shortest-path traffic a node carries): B(v) = sum over ordered
    pairs (s, t), s != v != t, of sigma_st(v) / sigma_st, where sigma_st
    counts shortest s->t paths and sigma_st(v) those through v. Brandes
    1998 gives the per-pair dependency sigma_sv * sigma_vt / sigma_st
    when d(s,v) + d(v,t) = d(s,t) (zero otherwise); each term is emitted
    in integer permille with per-term truncation (1000 * sigma_sv *
    sigma_vt DIV sigma_st) applied IDENTICALLY in the oracle and the
    pure-Python replay, so the gate is value-exact.

    Distances come from the closeness query's bounded recursive walk
    (shared _scc_edges build); path COUNTS from the level-synchronous DP
    sigma_l(u, v) = sum over edges (u, w) with d(w, v) = l - 1 of
    sigma(w, v) — a Python-driven loop of _BC_HOPS bounded joins (the
    graph-family convention), exact because every shortest path
    decomposes uniquely over its first edge.

    Scale shape: the edge build collapses the fact join to <= 50 rows
    before anything iterates; distances, the sigma DP, and the triple
    dependency join all run on schema-bounded (<= 625-row, <= 25^3
    intermediate) relations, localCheckpoint'd per level (the DP is
    memoized in _bc_base, shared with the edge-grain Girvan-Newman
    query). Path counts are bounded by fanout^hops <= 2^12, so the
    permille product stays ~1e10 — far inside int64."""
    edges, dists, sigma = _bc_base(spark, sf_dir)

    sv = sigma.select(
        F.col("src").alias("s"),
        F.col("dst").alias("v"),
        F.col("sigma").alias("s_sv"),
        F.col("d").alias("d_sv"),
    )
    vt = sigma.select(
        F.col("src").alias("v"),
        F.col("dst").alias("t"),
        F.col("sigma").alias("s_vt"),
        F.col("d").alias("d_vt"),
    )
    st = sigma.select(
        F.col("src").alias("s"),
        F.col("dst").alias("t"),
        F.col("sigma").alias("s_st"),
        F.col("d").alias("d_st"),
    )
    dep = (
        sv.join(vt, "v")
        .join(st, ["s", "t"])
        .filter("d_sv + d_vt = d_st AND v <> s AND v <> t")
        .groupBy(F.col("v").alias("node"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs_through"),
            F.expr(
                "CAST(SUM(1000 * s_sv * s_vt DIV s_st) AS BIGINT)"
            ).alias("betweenness_milli"),
        )
    )
    nodes = _edge_nodes(edges)
    return nodes.join(dep, "node", "left").select(
        "node",
        F.expr("CAST(COALESCE(n_pairs_through, 0) AS BIGINT)").alias(
            "n_pairs_through"
        ),
        F.expr("CAST(COALESCE(betweenness_milli, 0) AS BIGINT)").alias(
            "betweenness_milli"
        ),
    )


def _bc_oracle_prefix() -> str:
    """The shared oracle CTE prefix through ``sigma`` (trade graph,
    capped edges, bounded-hop distances, the unrolled path-count DP) —
    used verbatim by both the node-grain betweenness oracle and the
    edge-grain Girvan-Newman oracle, so the two can never train apart
    (the pq._pq_oracle_ctes convention)."""
    sig_ctes = [
        """sig1 AS MATERIALIZED (
  SELECT e.src, e.dst, CAST(1 AS BIGINT) AS sigma, d.hops AS d
  FROM edges e JOIN dists d ON d.src = e.src AND d.dst = e.dst
  WHERE d.hops = 1)"""
    ]
    for lvl in range(2, _BC_HOPS + 1):
        sig_ctes.append(f"""sig{lvl} AS MATERIALIZED (
  SELECT * FROM sig{lvl - 1}
  UNION ALL
  SELECT src, dst, sigma, hops AS d FROM (
    SELECT e.src AS src, p.dst AS dst,
           CAST(SUM(p.sigma) AS BIGINT) AS sigma
    FROM edges e JOIN sig{lvl - 1} p
      ON p.src = e.dst AND p.d = {lvl - 1}
    GROUP BY 1, 2) n
  JOIN dists USING (src, dst)
  WHERE dists.hops = {lvl})""")
    sig_chain = ",\n".join(sig_ctes)
    return f"""{_trade_edges_sql()},
{_trade_walk_sql(_BC_HOPS)},
{sig_chain},
sigma AS MATERIALIZED (SELECT * FROM sig{_BC_HOPS})"""


def _betweenness_oracle() -> str:
    return f"""
WITH RECURSIVE {_bc_oracle_prefix()},
dep AS (
  SELECT sv.dst AS node,
         COUNT(*) AS n_pairs_through,
         CAST(SUM(1000 * sv.sigma * vt.sigma // st.sigma) AS BIGINT)
           AS betweenness_milli
  FROM sigma sv
  JOIN sigma vt ON vt.src = sv.dst
  JOIN sigma st ON st.src = sv.src AND st.dst = vt.dst
  WHERE sv.d + vt.d = st.d AND sv.dst <> st.src AND sv.dst <> st.dst
  GROUP BY 1),
{_TRADE_NODES_SQL}
SELECT node,
       CAST(COALESCE(n_pairs_through, 0) AS BIGINT) AS n_pairs_through,
       CAST(COALESCE(betweenness_milli, 0) AS BIGINT) AS betweenness_milli
FROM nodes LEFT JOIN dep USING (node)
"""


# --------------------------------------------------------------------------
# One Girvan-Newman step: edge betweenness + component split
# --------------------------------------------------------------------------

_GN_DOUBLING = 5  # reach-doubling rounds: 2^5 = 32 >= 25 nodes (nation
#                   domain is schema-bounded, the SCC/MST convention)


def _weak_component_counts_tagged(
    nodes: DataFrame, sym_by_tag: list[tuple[int, DataFrame]]
) -> DataFrame:
    """(g, n) component counts for SEVERAL symmetrized edge relations in
    ONE doubling loop: every relation is tagged with its graph id g and
    the reach join keys on (g, node), so the before/after closures the
    Girvan-Newman step needs share each round's shuffle and
    localCheckpoint instead of paying the per-level scheduling overhead
    twice (measured ~half the fixed cost at sf0.1). Component rep = MIN
    reachable node; _GN_DOUBLING rounds cover 2^5 = 32 >= 25 hops."""
    selfs = [
        nodes.select(
            F.lit(g).alias("g"),
            F.col("node").alias("u"),
            F.col("node").alias("v"),
        )
        for g, _ in sym_by_tag
    ]
    tagged = [
        df.select(F.lit(g).alias("g"), "u", "v") for g, df in sym_by_tag
    ]
    reach = selfs[0]
    for extra in selfs[1:] + tagged:
        reach = reach.unionByName(extra)
    reach = reach.distinct()
    for _ in range(_GN_DOUBLING):
        step = (
            reach.alias("a")
            .join(
                reach.alias("b"),
                (F.col("a.v") == F.col("b.u"))
                & (F.col("a.g") == F.col("b.g")),
            )
            .select("a.g", F.col("a.u").alias("u"), F.col("b.v").alias("v"))
        )
        reach = reach.unionByName(step).distinct().localCheckpoint(eager=True)
    comp = reach.groupBy("g", "u").agg(F.min("v").alias("c"))
    return (
        comp.groupBy("g")
        .agg(F.expr("CAST(COUNT(DISTINCT c) AS BIGINT)").alias("n"))
    )


def graph_edge_betweenness_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One Girvan-Newman community-detection step (Girvan & Newman
    2002) on the directed nation trade graph: edge betweenness EB(u,v)
    = sum over (s, t) pairs of sigma_su * sigma_vt / sigma_st for every
    shortest s->t path crossing the edge (d(s,u) + 1 + d(v,t) =
    d(s,t)), in the node query's integer-permille per-term truncation;
    the top edge by (EB DESC, src, dst) is removed and the weak-
    component counts before/after ride on every row — the measured
    community-splitting step, and the edge-grain complement of
    graph_betweenness_centrality's node brokerage.

    Reuses the node query's memoized (edges, dists, sigma) DP verbatim
    (_bc_base — one 12-level sigma build serves both
    queries per process), extended with d=0 self rows so s=u / t=v
    endpoint terms count (every edge is its own length-1 shortest
    path, so every edge scores >= 1000).

    Scale shape: every relation after the shared edge build is schema-
    bounded (<= 625 sigma rows, <= 25^3 join intermediates); the
    before/after component counts share ONE tagged doubling loop
    (_GN_DOUBLING rounds — half the per-level scheduling overhead of
    two separate closures); the 1-row counts broadcast-cross-join onto
    the <= 50 output rows."""
    edges, _dists, sigma = _bc_base(spark, sf_dir)
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    nodes = _edge_nodes(edges)
    sigma0 = sigma.unionByName(
        nodes.select(
            F.col("node").alias("src"),
            F.col("node").alias("dst"),
            F.lit(1).cast("bigint").alias("sigma"),
            F.lit(0).cast("bigint").alias("d"),
        )
    )
    su = sigma0.select(
        F.col("src").alias("s"),
        F.col("dst").alias("u"),
        F.col("sigma").alias("s_su"),
        F.col("d").alias("d_su"),
    )
    vt = sigma0.select(
        F.col("src").alias("v"),
        F.col("dst").alias("t"),
        F.col("sigma").alias("s_vt"),
        F.col("d").alias("d_vt"),
    )
    st = sigma.select(
        F.col("src").alias("s"),
        F.col("dst").alias("t"),
        F.col("sigma").alias("s_st"),
        F.col("d").alias("d_st"),
    )
    eb = (
        e.join(su, "u")
        .join(vt, "v")
        .join(st, ["s", "t"])
        .filter("d_su + 1 + d_vt = d_st")
        .groupBy("u", "v")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_pairs_through"),
            F.expr(
                "CAST(SUM(1000 * s_su * s_vt DIV s_st) AS BIGINT)"
            ).alias("edge_betweenness_milli"),
        )
        # Kept: with this query's other four checkpoints deleted, 1.73 ->
        # 2.47 s at sf0.01 without it (tools/checkpoint_sweep.py).
        .localCheckpoint(eager=True)
    )
    top = (
        eb.orderBy(
            F.desc("edge_betweenness_milli"), F.asc("u"), F.asc("v")
        )
        .limit(1)
        .select("u", "v")
    )
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    # remove BOTH orientations of the top edge (GN operates on the
    # underlying undirected graph)
    top_sym = top.unionByName(
        top.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    sym_after = sym.join(top_sym, ["u", "v"], "left_anti")
    counts = _weak_component_counts_tagged(
        nodes, [(0, sym), (1, sym_after)]
    )
    nb = counts.filter("g = 0").select(F.col("n").alias("n_comp_before"))
    na = counts.filter("g = 1").select(F.col("n").alias("n_comp_after"))
    return (
        e.join(eb, ["u", "v"], "left")
        .join(
            top.select("u", "v", F.lit(True).alias("rm")), ["u", "v"], "left"
        )
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(na))
        .select(
            F.col("u").alias("src"),
            F.col("v").alias("dst"),
            F.expr("CAST(COALESCE(n_pairs_through, 0) AS BIGINT)").alias(
                "n_pairs_through"
            ),
            F.expr(
                "CAST(COALESCE(edge_betweenness_milli, 0) AS BIGINT)"
            ).alias("edge_betweenness_milli"),
            F.expr("COALESCE(rm, FALSE)").alias("is_removed"),
            "n_comp_before",
            "n_comp_after",
        )
    )


def _gn_oracle() -> str:
    return f"""
WITH RECURSIVE {_bc_oracle_prefix()},
e AS MATERIALIZED (SELECT src AS u, dst AS v FROM edges),
nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT u AS node FROM e UNION ALL SELECT v FROM e)),
sigma0 AS MATERIALIZED (
  SELECT src, dst, sigma, d FROM sigma
  UNION ALL
  SELECT node, node, CAST(1 AS BIGINT), CAST(0 AS BIGINT) FROM nodes),
eb AS MATERIALIZED (
  SELECT e.u, e.v,
         CAST(COUNT(*) AS BIGINT) AS n_pairs_through,
         CAST(SUM(1000 * su.sigma * vt.sigma // st.sigma) AS BIGINT)
           AS edge_betweenness_milli
  FROM e
  JOIN sigma0 su ON su.dst = e.u
  JOIN sigma0 vt ON vt.src = e.v
  JOIN sigma st ON st.src = su.src AND st.dst = vt.dst
  WHERE su.d + 1 + vt.d = st.d
  GROUP BY 1, 2),
top AS MATERIALIZED (
  SELECT u, v FROM eb
  ORDER BY edge_betweenness_milli DESC, u, v LIMIT 1),
sym_b AS MATERIALIZED (
  SELECT DISTINCT u, v FROM (
    SELECT u, v FROM e UNION ALL SELECT v, u FROM e
    UNION ALL SELECT node, node FROM nodes)),
sym_a AS MATERIALIZED (
  SELECT s.u, s.v FROM sym_b s
  WHERE NOT EXISTS (SELECT 1 FROM top t
                    WHERE (s.u = t.u AND s.v = t.v)
                       OR (s.u = t.v AND s.v = t.u))),
reach_b(u, v) AS (
  SELECT u, v FROM sym_b
  UNION
  SELECT r.u, s.v FROM reach_b r JOIN sym_b s ON r.v = s.u),
reach_a(u, v) AS (
  SELECT u, v FROM sym_a
  UNION
  SELECT r.u, s.v FROM reach_a r JOIN sym_a s ON r.v = s.u),
nb AS (SELECT CAST(COUNT(DISTINCT c) AS BIGINT) AS n_comp_before
       FROM (SELECT u, MIN(v) AS c FROM reach_b GROUP BY u)),
na AS (SELECT CAST(COUNT(DISTINCT c) AS BIGINT) AS n_comp_after
       FROM (SELECT u, MIN(v) AS c FROM reach_a GROUP BY u))
SELECT e.u AS src, e.v AS dst,
       CAST(COALESCE(eb.n_pairs_through, 0) AS BIGINT) AS n_pairs_through,
       CAST(COALESCE(eb.edge_betweenness_milli, 0) AS BIGINT)
         AS edge_betweenness_milli,
       COALESCE(t.u IS NOT NULL, FALSE) AS is_removed,
       nb.n_comp_before, na.n_comp_after
FROM e
LEFT JOIN eb ON eb.u = e.u AND eb.v = e.v
LEFT JOIN top t ON t.u = e.u AND t.v = e.v
CROSS JOIN nb CROSS JOIN na
"""


# --------------------------------------------------------------------------
# Strong-bridge detection (per-edge exclusion closures, bounded graph)
# --------------------------------------------------------------------------

_BR_STEPS = 7  # depth over the per-eid pre-squared relation (the SCC bound:
#               7 levels x 4-hop steps cover paths to length 28 > 24 = n-1)


def graph_bridge_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strong-bridge detection on the directed trade graph (Italiano et
    al. 2012 call (u,v) a STRONG BRIDGE when its removal breaks some
    reachability; here the definitional per-edge test: (u,v) is a
    bridge iff v is unreachable from u in the graph WITHOUT that edge)
    — the connectivity-criticality complement of betweenness's traffic
    centrality: betweenness says where shortest-path load concentrates,
    bridges say which single links are irreplaceable.

    The engine runs ALL per-edge exclusion closures in ONE bounded
    recursion: the exclusion relation (eid, src, dst) carries every
    edge except eid's own (|E|^2 - |E| <= 2450 rows on the <=50-edge
    graph), is pre-squared per eid (the SCC lesson — 2 self-joins
    replace 18 recursion levels), and a single WITH RECURSIVE walk
    keyed by eid answers every exclusion reachability simultaneously —
    embarrassingly parallel across eids, never one job per edge.

    Scale shape: everything is schema-bounded (<= C(25,2)-scale
    relations); on an unbounded graph the definitional form gives way
    to Italiano's DFS-based algorithm on a sampled subgraph — stated
    here because the per-edge closure is quadratic in |E| by
    construction and honest about it."""
    edges = _trade_edges_ck(spark, sf_dir)
    e = edges.selectExpr(
        "concat(src, '->', dst) AS eid", "src AS u", "dst AS v"
    )
    excl = (
        e.alias("a")
        .join(
            edges.alias("b"),
            F.expr("NOT (a.u = b.src AND a.v = b.dst)"),
        )
        .select("eid", F.col("b.src").alias("src"), F.col("b.dst").alias("dst"))
    )
    # pre-square per eid: paths of length <= 4 in two bounded self-joins
    sq = excl
    for _ in range(2):
        j = (
            sq.alias("x")
            .join(
                sq.alias("y"),
                (F.col("x.eid") == F.col("y.eid"))
                & (F.col("x.dst") == F.col("y.src")),
            )
            .select(
                F.col("x.eid").alias("eid"),
                F.col("x.src").alias("src"),
                F.col("y.dst").alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
        )
        sq = sq.unionByName(j).distinct()
    # Kept: 2.07 -> 3.88 s at sf0.01 without it (tools/checkpoint_sweep.py).
    sq = sq.localCheckpoint(eager=True)
    sq.createOrReplaceTempView("lmrs_bridge_steps_v")
    e.createOrReplaceTempView("lmrs_bridge_edges_v")
    reach = spark.sql(
        f"""
        WITH RECURSIVE r(eid, node, d) AS (
          SELECT e.eid, s.dst, 1
          FROM lmrs_bridge_edges_v e
          JOIN lmrs_bridge_steps_v s ON s.eid = e.eid AND s.src = e.u
          UNION ALL
          SELECT DISTINCT r.eid, s.dst, r.d + 1
          FROM r JOIN lmrs_bridge_steps_v s
            ON s.eid = r.eid AND s.src = r.node
          WHERE r.d < {_BR_STEPS}
        )
        SELECT DISTINCT eid, node FROM r
        """
    )
    alt = (
        e.join(
            reach,
            (e["eid"] == reach["eid"]) & (e["v"] == reach["node"]),
            "left_semi",
        )
        .select("eid")
    )
    return (
        e.join(alt.withColumn("has_alt", F.lit(True)), "eid", "left")
        .select(
            F.col("u").alias("src"),
            F.col("v").alias("dst"),
            F.expr("COALESCE(NOT has_alt, TRUE)").alias("is_bridge"),
        )
    )


def _bridge_oracle() -> str:
    return f"""
WITH RECURSIVE {_trade_edges_sql()},
e AS MATERIALIZED (
  SELECT src || '->' || dst AS eid, src AS u, dst AS v FROM edges),
excl AS MATERIALIZED (
  SELECT a.eid, b.src, b.dst
  FROM e a JOIN edges b ON NOT (a.u = b.src AND a.v = b.dst)),
s2 AS MATERIALIZED (
  SELECT eid, src, dst FROM excl
  UNION
  SELECT x.eid, x.src, y.dst FROM excl x
  JOIN excl y ON x.eid = y.eid AND x.dst = y.src
  WHERE x.src <> y.dst),
s4 AS MATERIALIZED (
  SELECT eid, src, dst FROM s2
  UNION
  SELECT x.eid, x.src, y.dst FROM s2 x
  JOIN s2 y ON x.eid = y.eid AND x.dst = y.src
  WHERE x.src <> y.dst),
r(eid, node, d) AS (
  SELECT e.eid, s.dst, 1
  FROM e JOIN s4 s ON s.eid = e.eid AND s.src = e.u
  UNION ALL
  SELECT DISTINCT r.eid, s.dst, r.d + 1
  FROM r JOIN s4 s ON s.eid = r.eid AND s.src = r.node
  WHERE r.d < {_BR_STEPS}),
alt AS (
  SELECT DISTINCT e.eid
  FROM e JOIN (SELECT DISTINCT eid, node FROM r) rr
    ON rr.eid = e.eid AND rr.node = e.v)
SELECT u AS src, v AS dst, alt.eid IS NULL AS is_bridge
FROM e LEFT JOIN alt ON e.eid = alt.eid
"""


# --------------------------------------------------------------------------
# Trade-graph reciprocity + joint degree profile
# --------------------------------------------------------------------------


def graph_reciprocity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-level summary statistics of the directed trade graph — the
    macro view next to the family's per-node centralities: edge
    RECIPROCITY (the share of edges whose reverse also exists, in
    permille — how symmetric trade relationships are) and the joint
    out/in-degree doubling profile (nodes bucketed by
    LENGTH(BIN(degree)), the RFM idiom — the degree-correlation table
    whose diagonal-heaviness is the integer-exact reading of
    assortativity, without Pearson's sqrt).

    Scale shape: everything runs on the <= 50-row shared edge relation
    and the <= 25-row degree table; reciprocity is one self-semi-join;
    the profile is a bounded rollup with the 1-row reciprocity
    broadcast along."""
    edges = _trade_edges_ck(spark, sf_dir)
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    recip = (
        edges.join(rev, ["src", "dst"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_recip"))
        .crossJoin(F.broadcast(n_edges))
        .select(
            F.expr("n_recip * 1000 DIV n_edges").alias("reciprocity_permille")
        )
    )
    outd = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    ind = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("indeg")
    )
    nodes = (
        _edge_nodes(edges)
        .join(outd, "node", "left")
        .join(ind, "node", "left")
        .selectExpr(
            "node",
            "COALESCE(outdeg, 0) AS outdeg",
            "COALESCE(indeg, 0) AS indeg",
        )
    )
    return (
        nodes.groupBy(
            F.expr("CAST(LENGTH(BIN(outdeg + 1)) AS BIGINT)").alias(
                "out_bucket"
            ),
            F.expr("CAST(LENGTH(BIN(indeg + 1)) AS BIGINT)").alias(
                "in_bucket"
            ),
        )
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_nodes"))
        .crossJoin(F.broadcast(recip))
        .select(
            "out_bucket",
            "in_bucket",
            "n_nodes",
            F.expr("CAST(reciprocity_permille AS BIGINT)").alias(
                "reciprocity_permille"
            ),
        )
    )


def _reciprocity_oracle() -> str:
    return f"""
WITH {_trade_edges_sql()},
recip AS (
  SELECT (SELECT COUNT(*) FROM edges e
          WHERE EXISTS (SELECT 1 FROM edges r
                        WHERE r.src = e.dst AND r.dst = e.src)) * 1000
         // (SELECT COUNT(*) FROM edges) AS reciprocity_permille),
outd AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src),
ind AS (SELECT dst AS node, COUNT(*) AS indeg FROM edges GROUP BY dst),
nodes AS (
  SELECT n.node, COALESCE(outdeg, 0) AS outdeg, COALESCE(indeg, 0) AS indeg
  FROM (SELECT DISTINCT node FROM (
          SELECT src AS node FROM edges
          UNION ALL SELECT dst FROM edges)) n
  LEFT JOIN outd ON outd.node = n.node
  LEFT JOIN ind ON ind.node = n.node)
SELECT CAST(LENGTH(BIN(outdeg + 1)) AS BIGINT) AS out_bucket,
       CAST(LENGTH(BIN(indeg + 1)) AS BIGINT) AS in_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(reciprocity_permille AS BIGINT) AS reciprocity_permille
FROM nodes, recip
GROUP BY 1, 2, 4
"""


# --------------------------------------------------------------------------
# Degree assortativity (Newman 2002) over the trade graph
# --------------------------------------------------------------------------


def graph_assortativity_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed degree assortativity of the nation trade graph: over
    the edge list, the Pearson correlation of x = out-degree(src) and
    y = in-degree(dst) — Newman 2002's (out, in) flavor, the macro
    answer to "do high-fanout exporters ship to high-fanin importers".
    The five power sums (m, Σx, Σy, Σxy, Σx², Σy²) are exact integers
    (degrees are schema-bounded: out ≤ the _SCC_FANOUT cap, in ≤ 24
    nations, m ≤ 50 edges — every cross product tiny); the coefficient
    itself needs a square root, so it is computed from those exact
    integers with the SAME fixed-order IEEE expression text in both
    engines (the HLL-estimator convention) and floored to micro units.
    Degenerate zero-variance graphs emit NULL, not a division error.

    Scale shape: one bounded edge build (the shared <= 50-row capped
    relation), two <= 25-row degree rollups, one 1-row aggregate —
    nothing grows with data volume."""
    edges = _trade_edges_ck(spark, sf_dir)
    outd = edges.groupBy(F.col("src").alias("node")).agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("outdeg")
    )
    ind = edges.groupBy(F.col("dst").alias("node")).agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("indeg")
    )
    xy = (
        edges.join(outd.withColumnRenamed("node", "src"), "src")
        .join(ind.withColumnRenamed("node", "dst"), "dst")
        .select(F.col("outdeg").alias("x"), F.col("indeg").alias("y"))
    )
    return xy.agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("m"),
        F.expr("CAST(SUM(x) AS BIGINT)").alias("sx"),
        F.expr("CAST(SUM(y) AS BIGINT)").alias("sy"),
        F.expr("CAST(SUM(x * y) AS BIGINT)").alias("sxy"),
        F.expr("CAST(SUM(x * x) AS BIGINT)").alias("sxx"),
        F.expr("CAST(SUM(y * y) AS BIGINT)").alias("syy"),
    ).select(
        "m",
        "sx",
        "sy",
        "sxy",
        "sxx",
        "syy",
        F.expr("m * sxy - sx * sy").alias("cov_num"),
        F.expr("m * sxx - sx * sx").alias("var_x_num"),
        F.expr("m * syy - sy * sy").alias("var_y_num"),
        F.expr(
            "CASE WHEN m * sxx - sx * sx = 0 OR m * syy - sy * sy = 0"
            " THEN NULL ELSE CAST(floor(1000000.0 *"
            " CAST(m * sxy - sx * sy AS DOUBLE)"
            " / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)"
            " * CAST(m * syy - sy * sy AS DOUBLE))) AS BIGINT) END"
        ).alias("assortativity_micro"),
    )


ASSORTATIVITY_ORACLE = f"""
WITH {_trade_edges_sql()},
outd AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS outdeg
         FROM edges GROUP BY 1),
ind AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS indeg
        FROM edges GROUP BY 1),
xy AS (
  SELECT o.outdeg AS x, i.indeg AS y
  FROM edges e JOIN outd o ON o.node = e.src
  JOIN ind i ON i.node = e.dst),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM xy)
SELECT m, sx, sy, sxy, sxx, syy,
       m * sxy - sx * sy AS cov_num,
       m * sxx - sx * sx AS var_x_num,
       m * syy - sy * sy AS var_y_num,
       CASE WHEN m * sxx - sx * sx = 0 OR m * syy - sy * sy = 0
            THEN NULL ELSE CAST(floor(1000000.0 *
            CAST(m * sxy - sx * sy AS DOUBLE)
            / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
            * CAST(m * syy - sy * sy AS DOUBLE))) AS BIGINT) END
         AS assortativity_micro
FROM s
"""


# --------------------------------------------------------------------------
# Jaccard link prediction (non-adjacent pairs, neighbor-set overlap)
# --------------------------------------------------------------------------

_LP_TOPK = 5


def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the undirected view of the trade graph
    (Liben-Nowell & Kleinberg 2003): for every NON-adjacent unordered
    node pair sharing at least one neighbor, the neighbor-set Jaccard
    |N(u) ∩ N(v)| / |N(u) ∪ N(v)| in exact permille — their measured
    strongest simple predictor — with the top _LP_TOPK pairs by
    (jaccard DESC, node_a, node_b) flagged as predictions. The
    prediction-grain complement of graph_common_neighbors (which
    scores EXISTING edges' embeddedness).

    Scale shape: everything runs on the <= 50-row shared capped edge
    relation and its <= 25-row degree table; the common-neighbor join
    keys on the shared neighbor; the rank window is over the <= 300
    candidate pairs (schema-bounded, never data-sized)."""
    sym = _trade_sym(spark, sf_dir)
    deg = sym.groupBy("u").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("deg")
    )
    a, b = sym.alias("a"), sym.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.u") < F.col("b.u")),
        )
        .groupBy(
            F.col("a.u").alias("node_a"), F.col("b.u").alias("node_b")
        )
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_common"))
    )
    adj = sym.filter("u < w").select(
        F.col("u").alias("node_a"), F.col("w").alias("node_b")
    )
    cand = common.join(adj, ["node_a", "node_b"], "left_anti")
    da = deg.select(F.col("u").alias("node_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("u").alias("node_b"), F.col("deg").alias("deg_b"))
    scored = (
        cand.join(da, "node_a")
        .join(db, "node_b")
        .select(
            "node_a",
            "node_b",
            "n_common",
            F.expr("deg_a + deg_b - n_common").alias("n_union"),
            F.expr(
                "n_common * 1000 DIV (deg_a + deg_b - n_common)"
            ).alias("jaccard_permille"),
        )
    )
    wr = Window.orderBy(
        F.desc("jaccard_permille"), F.asc("node_a"), F.asc("node_b")
    )
    return scored.withColumn(
        "is_predicted", F.row_number().over(wr) <= _LP_TOPK
    )


def _lp_oracle() -> str:
    return f"""
WITH {_trade_edges_sql()},
{_TRADE_SYM_SQL},
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY u),
common AS (
  SELECT a.u AS node_a, b.u AS node_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM sym a JOIN sym b ON a.w = b.w AND a.u < b.u
  GROUP BY 1, 2),
cand AS (
  SELECT c.* FROM common c
  WHERE NOT EXISTS (SELECT 1 FROM sym s
                    WHERE s.u = c.node_a AND s.w = c.node_b)),
scored AS (
  SELECT node_a, node_b, n_common,
         da.deg + db.deg - n_common AS n_union,
         n_common * 1000 // (da.deg + db.deg - n_common)
           AS jaccard_permille
  FROM cand
  JOIN deg da ON da.u = node_a
  JOIN deg db ON db.u = node_b)
SELECT node_a, node_b, n_common, n_union, jaccard_permille,
       ROW_NUMBER() OVER (ORDER BY jaccard_permille DESC, node_a, node_b)
         <= {_LP_TOPK} AS is_predicted
FROM scored
"""


# --------------------------------------------------------------------------
# Katz centrality (exact dyadic attenuation, truncated walk counting)
# --------------------------------------------------------------------------

_KATZ_K = 6  # walk-length truncation (beta = 1/2 < 1/fanout keeps the
#              series convergent; truncation is the closeness-family
#              convention, identical bound in engine and oracle)


def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (Katz 1953) on the directed trade graph with
    EXACT arithmetic: C(v) = Σ_{k=1..K} beta^k x (walks of length k
    ending at v), beta = 1/2 — so scaling by 2^K makes every term the
    integer 2^(K-k) x walk_count and the score an exact scaled BIGINT
    (the window_ewma_dyadic convention applied to graph walks). The
    walk-based influence reading next to graph_pagerank_nations (whose
    random-surfer normalizes by out-degree): Katz counts ALL incoming
    walks, so a node fed by many long paths scores even when its
    direct in-degree is small.

    int64 bounds: walk counts grow <= fanout^k = 2^k per source, total
    per node <= 25 x 2^6 = 1600; scaled terms <= 2^6 x 1600 — trivial.

    Scale shape: the K-step DP runs on <= 25-row vectors joined to the
    <= 50-row shared edge relation, localCheckpoint'd per level (the
    sigma-DP convention); nothing grows with data volume after the
    edge build."""
    edges = _trade_edges_ck(spark, sf_dir)
    nodes = _edge_nodes(edges)
    # w_k(v) = number of length-k walks ending at v (any start)
    w = nodes.select("node", F.lit(1).cast("bigint").alias("wk"))
    score = nodes.select(
        "node", F.lit(0).cast("bigint").alias("katz_scaled")
    )
    for k in range(1, _KATZ_K + 1):
        w = (
            edges.join(
                w.select(F.col("node").alias("src"), "wk"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.expr("CAST(SUM(wk) AS BIGINT)").alias("wk"))
            .localCheckpoint(eager=True)
        )
        weight = 1 << (_KATZ_K - k)  # 2^(K-k) = 2^K * beta^k exactly
        score = (
            score.join(w.withColumnRenamed("wk", "wk_k"), "node", "left")
            .select(
                "node",
                F.expr(
                    f"katz_scaled + {weight} * COALESCE(wk_k,"
                    " CAST(0 AS BIGINT))"
                ).alias("katz_scaled"),
            )
            .localCheckpoint(eager=True)
        )
    return score.select("node", "katz_scaled")


def _katz_oracle() -> str:
    ctes = [
        f"""{_trade_edges_sql()},
{_TRADE_NODES_SQL},
w0 AS (SELECT node, CAST(1 AS BIGINT) AS wk FROM nodes)"""
    ]
    for k in range(1, _KATZ_K + 1):
        ctes.append(
            f"""w{k} AS MATERIALIZED (
  SELECT e.dst AS node, CAST(SUM(w.wk) AS BIGINT) AS wk
  FROM edges e JOIN w{k - 1} w ON w.node = e.src
  GROUP BY 1)"""
        )
    terms = " + ".join(
        f"{1 << (_KATZ_K - k)} * COALESCE(w{k}.wk, CAST(0 AS BIGINT))"
        for k in range(1, _KATZ_K + 1)
    )
    joins = "\n".join(
        f"LEFT JOIN w{k} ON w{k}.node = n.node"
        for k in range(1, _KATZ_K + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT n.node, CAST({terms} AS BIGINT) AS katz_scaled
FROM nodes n
{joins}
"""
    )


# --------------------------------------------------------------------------
# SimRank-lite (one iteration from the identity base case)
# --------------------------------------------------------------------------


def graph_node_similarity_simrank_lite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One SimRank iteration (Jeh & Widom 2002) on the directed trade
    graph, from the identity base case s0(a,b) = [a = b]: s1(u,v) =
    C / (|I(u)| |I(v)|) x Σ_{a in I(u), b in I(v)} s0(a,b) =
    C x |I(u) ∩ I(v)| / (|I(u)| x |I(v)|), C = 1/2 (dyadic, so the
    permille is the exact integer 500 x n_common DIV (indeg_u x
    indeg_v)). Structural equivalence — two nations are similar when
    the SAME exporters feed both — normalized by the in-degree PRODUCT,
    which separates it from graph_jaccard_link_prediction's union
    denominator (SimRank punishes hub pairs harder). All unordered
    pairs with a common in-neighbor are scored, existing edges
    included (SimRank is a similarity, not a link predictor).

    Scale shape: the in-neighbor join keys on the shared <= 50-row
    edge relation; the pair relation is schema-bounded (<= 300 rows);
    nothing grows with data volume after the edge build."""
    edges = _trade_edges_ck(spark, sf_dir)
    inn = edges.select(F.col("dst").alias("u"), F.col("src").alias("a"))
    ind = inn.groupBy("u").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("indeg")
    )
    x, y = inn.alias("x"), inn.alias("y")
    common = (
        x.join(
            y,
            (F.col("x.a") == F.col("y.a")) & (F.col("x.u") < F.col("y.u")),
        )
        .groupBy(
            F.col("x.u").alias("node_a"), F.col("y.u").alias("node_b")
        )
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_common_in"))
    )
    da = ind.select(F.col("u").alias("node_a"), F.col("indeg").alias("indeg_a"))
    db = ind.select(F.col("u").alias("node_b"), F.col("indeg").alias("indeg_b"))
    return (
        common.join(da, "node_a")
        .join(db, "node_b")
        .select(
            "node_a",
            "node_b",
            "n_common_in",
            "indeg_a",
            "indeg_b",
            F.expr(
                "500 * n_common_in DIV (indeg_a * indeg_b)"
            ).alias("simrank_permille"),
        )
    )


def _simrank_oracle() -> str:
    return f"""
WITH {_trade_edges_sql()},
inn AS MATERIALIZED (SELECT dst AS u, src AS a FROM edges),
ind AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS indeg FROM inn GROUP BY u),
common AS (
  SELECT x.u AS node_a, y.u AS node_b,
         CAST(COUNT(*) AS BIGINT) AS n_common_in
  FROM inn x JOIN inn y ON x.a = y.a AND x.u < y.u
  GROUP BY 1, 2)
SELECT node_a, node_b, n_common_in,
       da.indeg AS indeg_a, db.indeg AS indeg_b,
       500 * n_common_in // (da.indeg * db.indeg) AS simrank_permille
FROM common
JOIN ind da ON da.u = node_a
JOIN ind db ON db.u = node_b
"""


# --------------------------------------------------------------------------
# Adamic-Adar link prediction (doubling-bucket degree weights)
# --------------------------------------------------------------------------

_AA_TOPK = 5
_AA_SCALE = 1000


def graph_adamic_adar_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the undirected trade view: for
    every NON-adjacent pair, score = Σ over common neighbors w of
    1 / log(deg(w)) — here with log replaced by the bit-length
    doubling bucket (LENGTH(BIN(deg)), the transcendental-free
    convention), so each term is the exact integer 1000 DIV
    bitlen(deg(w)) and a low-degree common neighbor (an EXCLUSIVE
    broker) counts more than a hub everyone shares — the weighting
    that makes Adamic-Adar beat raw common-neighbor counts. Top
    _AA_TOPK pairs by (score DESC, pair) are flagged, mirroring the
    Jaccard predictor so the two rankings are directly comparable.

    Scale shape: the common-neighbor join carries the neighbor's
    degree (one bounded join to the <= 25-row degree table BEFORE the
    pair aggregation); everything is schema-bounded after the shared
    edge build."""
    sym = _trade_sym(spark, sf_dir)
    deg = sym.groupBy(F.col("w").alias("wn")).agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("wdeg")
    )
    weighted = sym.join(deg, sym["w"] == deg["wn"]).select(
        "u",
        "w",
        F.expr(
            f"CAST({_AA_SCALE} DIV LENGTH(BIN(wdeg)) AS BIGINT)"
        ).alias("ww"),
    )
    a, b = weighted.alias("a"), weighted.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w")) & (F.col("a.u") < F.col("b.u")),
        )
        .groupBy(
            F.col("a.u").alias("node_a"), F.col("b.u").alias("node_b")
        )
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_common"),
            F.expr("CAST(SUM(a.ww) AS BIGINT)").alias("aa_milli"),
        )
    )
    adj = sym.filter("u < w").select(
        F.col("u").alias("node_a"), F.col("w").alias("node_b")
    )
    cand = common.join(adj, ["node_a", "node_b"], "left_anti")
    wr = Window.orderBy(F.desc("aa_milli"), F.asc("node_a"), F.asc("node_b"))
    return cand.withColumn(
        "is_predicted", F.row_number().over(wr) <= _AA_TOPK
    )


def _aa_oracle() -> str:
    return f"""
WITH {_trade_edges_sql()},
{_TRADE_SYM_SQL},
deg AS (SELECT w AS wn, CAST(COUNT(*) AS BIGINT) AS wdeg
        FROM sym GROUP BY w),
weighted AS MATERIALIZED (
  SELECT u, w,
         CAST({_AA_SCALE} // LENGTH(BIN(wdeg)) AS BIGINT) AS ww
  FROM sym JOIN deg ON sym.w = deg.wn),
common AS (
  SELECT a.u AS node_a, b.u AS node_b,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         CAST(SUM(a.ww) AS BIGINT) AS aa_milli
  FROM weighted a JOIN weighted b ON a.w = b.w AND a.u < b.u
  GROUP BY 1, 2),
cand AS (
  SELECT c.* FROM common c
  WHERE NOT EXISTS (SELECT 1 FROM sym s
                    WHERE s.u = c.node_a AND s.w = c.node_b))
SELECT node_a, node_b, n_common, aa_milli,
       ROW_NUMBER() OVER (ORDER BY aa_milli DESC, node_a, node_b)
         <= {_AA_TOPK} AS is_predicted
FROM cand
"""


# --------------------------------------------------------------------------
# Resource-allocation link prediction (exact 1/deg weights)
# --------------------------------------------------------------------------

_RA_TOPK = 5
# LCM(1..24) = 2^4 * 3^2 * 5 * 7 * 11 * 13 * 17 * 19 * 23. The undirected
# trade view has <= 25 nodes (the nation dimension is schema-bounded), so
# every degree d is in 1..24 and divides _RA_SCALE — each 1/deg term is
# the EXACT integer _RA_SCALE/d, no truncation anywhere (the bank's
# "exactly representable" promise, unlike AA's bit-length bucket). Sum
# bound: <= 24 common neighbors x _RA_SCALE ~= 1.3e11 — int64-safe.
_RA_SCALE = 5354228880


def graph_resource_allocation_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Resource-allocation link prediction on the undirected trade
    view (Zhou, Lü & Zhang, EPJ B 2009): for every NON-adjacent pair,
    score = Σ over common neighbors w of 1/deg(w) — the resource each
    common neighbor can forward when it splits one unit among its
    links. Harsher on hubs than Adamic-Adar's 1/log(deg) (a degree-24
    hub contributes 1/24, not 1/5), which is exactly when RA outscores
    AA (Zhou et al.'s empirical result on dense graphs). Every term is
    the EXACT integer _RA_SCALE DIV deg(w) because each possible
    degree divides _RA_SCALE (LCM(1..24)) — no transcendentals, no
    truncation, bit-identical in both engines. Top _RA_TOPK pairs by
    (score DESC, pair) are flagged, mirroring the Jaccard and AA
    predictors so the three rankings are directly comparable.

    Completes the link-prediction family: common-neighbors (count),
    Jaccard (normalized overlap), Adamic-Adar (log-bucket weights),
    resource-allocation (exact 1/deg).

    Scale shape: the common-neighbor join carries the neighbor's
    degree (one bounded join to the <= 25-row degree table BEFORE the
    pair aggregation); everything is schema-bounded after the shared
    edge build — output <= C(25,2) rows by construction, constant in
    data scale."""
    sym = _trade_sym(spark, sf_dir)
    deg = sym.groupBy(F.col("w").alias("wn")).agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("wdeg")
    )
    weighted = sym.join(deg, sym["w"] == deg["wn"]).select(
        "u",
        "w",
        F.expr(f"CAST({_RA_SCALE} DIV wdeg AS BIGINT)").alias("ww"),
    )
    a, b = weighted.alias("a"), weighted.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w")) & (F.col("a.u") < F.col("b.u")),
        )
        .groupBy(
            F.col("a.u").alias("node_a"), F.col("b.u").alias("node_b")
        )
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_common"),
            F.expr("CAST(SUM(a.ww) AS BIGINT)").alias("ra_scaled"),
        )
    )
    adj = sym.filter("u < w").select(
        F.col("u").alias("node_a"), F.col("w").alias("node_b")
    )
    cand = common.join(adj, ["node_a", "node_b"], "left_anti")
    wr = Window.orderBy(F.desc("ra_scaled"), F.asc("node_a"), F.asc("node_b"))
    return cand.withColumn(
        "is_predicted", F.row_number().over(wr) <= _RA_TOPK
    )


def _ra_oracle() -> str:
    return f"""
WITH {_trade_edges_sql()},
{_TRADE_SYM_SQL},
deg AS (SELECT w AS wn, CAST(COUNT(*) AS BIGINT) AS wdeg
        FROM sym GROUP BY w),
weighted AS MATERIALIZED (
  SELECT u, w, CAST({_RA_SCALE} // wdeg AS BIGINT) AS ww
  FROM sym JOIN deg ON sym.w = deg.wn),
common AS (
  SELECT a.u AS node_a, b.u AS node_b,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         CAST(SUM(a.ww) AS BIGINT) AS ra_scaled
  FROM weighted a JOIN weighted b ON a.w = b.w AND a.u < b.u
  GROUP BY 1, 2),
cand AS (
  SELECT c.* FROM common c
  WHERE NOT EXISTS (SELECT 1 FROM sym s
                    WHERE s.u = c.node_a AND s.w = c.node_b))
SELECT node_a, node_b, n_common, ra_scaled,
       ROW_NUMBER() OVER (ORDER BY ra_scaled DESC, node_a, node_b)
         <= {_RA_TOPK} AS is_predicted
FROM cand
"""


# --------------------------------------------------------------------------
# Local clustering coefficient (node grain, bounded trade graph)
# --------------------------------------------------------------------------


def graph_local_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watts-Strogatz local clustering coefficient per node of the
    undirected trade view: cc(v) = triangles(v) / C(deg(v), 2), in
    exact permille as 2 * triangles(v) * 1000 DIV (deg(v) * (deg(v)-1))
    — how close each nation's trade neighborhood is to a clique. The
    node-grain completion of the triangle family (the global co-purchase
    count landed r10) and the local-density complement of the
    closeness/betweenness/Katz centrality readings on this same graph:
    a high-centrality low-cc node is a broker; high-cc nodes sit inside
    tight blocs. Degree-1 nodes have no defined coefficient (zero
    neighbor pairs) and report NULL in both engines — 0 would fake
    "perfectly open", which is a claim, not a fact.

    Scale shape: the shared _scc_edges build (Q7-shaped 5-way join +
    WindowGroupLimit sparsifier); after it everything is schema-bounded
    — the symmetrized view has <= 25 nodes so wedges are <= 25 * C(24,2)
    rows, the closure join hits a <= C(25,2)-row adjacency, output is
    one row per node, constant in data scale. All integers; no floats
    anywhere."""
    # kept: 0.31 -> 0.36 s at sf0.01 without it
    sym = _trade_sym(spark, sf_dir).localCheckpoint(eager=True)
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("degree")
    )
    adj = sym.filter("u < w").select(
        F.col("u").alias("a"), F.col("w").alias("b")
    )
    s1, s2 = sym.alias("s1"), sym.alias("s2")
    wedges = s1.join(
        s2, (F.col("s1.u") == F.col("s2.u")) & (F.col("s1.w") < F.col("s2.w"))
    ).select(
        F.col("s1.u").alias("v"), F.col("s1.w").alias("a"), F.col("s2.w").alias("b")
    )
    tri = wedges.join(adj, ["a", "b"]).groupBy("v").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("tri")
    )
    return deg.join(tri, deg["node"] == tri["v"], "left").select(
        "node",
        "degree",
        F.expr("CAST(COALESCE(tri, 0) AS BIGINT)").alias("n_triangles"),
        F.expr(
            "CASE WHEN degree >= 2 THEN"
            " 2 * COALESCE(tri, 0) * 1000 DIV (degree * (degree - 1))"
            " ELSE NULL END"
        ).alias("cc_permille"),
    )


def _lcc_oracle() -> str:
    return f"""
WITH {_trade_edges_sql()},
{_TRADE_SYM_SQL},
deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree
        FROM sym GROUP BY u),
adj AS (SELECT u AS a, w AS b FROM sym WHERE u < w),
wedges AS (
  SELECT s1.u AS v, s1.w AS a, s2.w AS b
  FROM sym s1 JOIN sym s2 ON s1.u = s2.u AND s1.w < s2.w),
tri AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS tri
  FROM wedges JOIN adj USING (a, b) GROUP BY v)
SELECT node, degree,
       CAST(COALESCE(tri, 0) AS BIGINT) AS n_triangles,
       CASE WHEN degree >= 2 THEN
         2 * COALESCE(tri, 0) * 1000 // (degree * (degree - 1))
       ELSE NULL END AS cc_permille
FROM deg LEFT JOIN tri ON deg.node = tri.v
"""


# --------------------------------------------------------------------------
# Eccentricity / diameter (bounded trade graph, truncated-distance family)
# --------------------------------------------------------------------------


def graph_eccentricity_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node eccentricity of the directed nation trade graph:
    ecc(u) = MAX shortest-path hops over the nodes u reaches within
    _CC_HOPS (the same h-bounded WITH RECURSIVE walk + MIN(d) grain
    graph_closeness_centrality runs — TRUNCATED-distance semantics,
    both engines apply the same bound so the gate checks the truncated
    definition exactly; Boldi & Vigna's h-bounded reading). Graph
    diameter = max ecc and radius = min ecc over nodes that reach
    anything, carried on every row from a broadcast 1-row aggregate,
    with is_peripheral (ecc = diameter) / is_central (ecc = radius)
    flags — the periphery/center reading next to closeness (nearness),
    betweenness (brokerage) and Katz (influence) on this same graph.
    Out-degree-0 nodes reach nothing: ecc NULL, both flags false (an
    empty max is a fact about reach, not a zero).

    Scale shape: the edge build collapses the fact join to <= 50 rows
    before the recursion (the shared _scc_edges path); the walk, the
    MIN(d) grain, the per-node MAX and the 1-row diameter aggregate all
    run on schema-bounded <= 625-row relations — constant in data
    scale."""
    edges = _trade_edges_ck(spark, sf_dir)
    dists = _trade_dists(spark, sf_dir)
    nodes = _edge_nodes(edges)
    per_node = dists.groupBy(F.col("src").alias("node")).agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_reached"),
        F.expr("CAST(MAX(hops) AS BIGINT)").alias("ecc_hops"),
    )
    bounds = per_node.agg(
        F.expr("CAST(MAX(ecc_hops) AS BIGINT)").alias("diameter"),
        F.expr("CAST(MIN(ecc_hops) AS BIGINT)").alias("radius"),
    )
    return (
        nodes.join(per_node, "node", "left")
        .crossJoin(F.broadcast(bounds))
        .select(
            "node",
            F.expr("CAST(COALESCE(n_reached, 0) AS BIGINT)").alias(
                "n_reached"
            ),
            "ecc_hops",
            "diameter",
            "radius",
            F.expr("COALESCE(ecc_hops = diameter, false)").alias(
                "is_peripheral"
            ),
            F.expr("COALESCE(ecc_hops = radius, false)").alias("is_central"),
        )
    )


def _ecc_oracle() -> str:
    return f"""
WITH RECURSIVE {_trade_edges_sql()},
{_trade_walk_sql(_CC_HOPS)},
{_TRADE_NODES_SQL},
per_node AS (
  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS n_reached,
         CAST(MAX(hops) AS BIGINT) AS ecc_hops
  FROM dists GROUP BY src),
bounds AS (
  SELECT CAST(MAX(ecc_hops) AS BIGINT) AS diameter,
         CAST(MIN(ecc_hops) AS BIGINT) AS radius
  FROM per_node)
SELECT node, CAST(COALESCE(n_reached, 0) AS BIGINT) AS n_reached,
       ecc_hops, diameter, radius,
       COALESCE(ecc_hops = diameter, false) AS is_peripheral,
       COALESCE(ecc_hops = radius, false) AS is_central
FROM nodes LEFT JOIN per_node USING (node) CROSS JOIN bounds
"""


QUERIES = {
    "graph_triangle_count": graph_triangle_count,
    "graph_kcore_peel": graph_kcore_peel,
    "graph_label_propagation": graph_label_propagation,
    "graph_common_neighbors": graph_common_neighbors,
    "graph_bfs_distances": graph_bfs_distances,
    "graph_bfs_recursive_cte": graph_bfs_recursive_cte,
    "graph_pagerank_nations": graph_pagerank_nations,
    "graph_trade_closure_recursive_cte": graph_trade_closure_recursive_cte,
    "graph_scc_kosaraju": graph_scc_kosaraju,
    "graph_closeness_centrality": graph_closeness_centrality,
    "graph_mst_maximum_spanning": graph_mst_maximum_spanning,
    "graph_betweenness_centrality": graph_betweenness_centrality,
    "graph_edge_betweenness_communities": graph_edge_betweenness_communities,
    "graph_bridge_edges": graph_bridge_edges,
    "graph_reciprocity_profile": graph_reciprocity_profile,
    "graph_assortativity_degree": graph_assortativity_degree,
    "graph_jaccard_link_prediction": graph_jaccard_link_prediction,
    "graph_katz_centrality": graph_katz_centrality,
    "graph_node_similarity_simrank_lite": graph_node_similarity_simrank_lite,
    "graph_adamic_adar_prediction": graph_adamic_adar_prediction,
    "graph_resource_allocation_index": graph_resource_allocation_index,
    "graph_local_clustering_coefficient": graph_local_clustering_coefficient,
    "graph_eccentricity_diameter": graph_eccentricity_diameter,
}

ORACLES = {
    "graph_triangle_count": TRIANGLE_ORACLE,
    "graph_kcore_peel": _kcore_oracle(),
    "graph_label_propagation": _lpa_oracle(),
    "graph_common_neighbors": COMMON_NEIGHBORS_ORACLE,
    "graph_bfs_distances": BFS_ORACLE,
    "graph_bfs_recursive_cte": BFS_ORACLE,
    "graph_pagerank_nations": _pagerank_oracle(),
    "graph_trade_closure_recursive_cte": TRADE_CLOSURE_ORACLE,
    "graph_scc_kosaraju": SCC_ORACLE,
    "graph_closeness_centrality": CLOSENESS_ORACLE,
    "graph_mst_maximum_spanning": MST_ORACLE,
    "graph_betweenness_centrality": _betweenness_oracle(),
    "graph_edge_betweenness_communities": _gn_oracle(),
    "graph_bridge_edges": _bridge_oracle(),
    "graph_reciprocity_profile": _reciprocity_oracle(),
    "graph_assortativity_degree": ASSORTATIVITY_ORACLE,
    "graph_jaccard_link_prediction": _lp_oracle(),
    "graph_katz_centrality": _katz_oracle(),
    "graph_node_similarity_simrank_lite": _simrank_oracle(),
    "graph_adamic_adar_prediction": _aa_oracle(),
    "graph_resource_allocation_index": _ra_oracle(),
    "graph_local_clustering_coefficient": _lcc_oracle(),
    "graph_eccentricity_diameter": _ecc_oracle(),
}
