"""Round-15 tests: the §7.4 items 57-60 newcomers (streaming
session-depth snapshot, resource-allocation link prediction,
contamination severity tiers, affix productivity), each with an
independent pure-Python replay, plus the r15 fix pins (dense burst
hour grid constants, session-gap constant equality)."""

from __future__ import annotations

import math
import re as _re

import duckdb

from tests.conftest import SF_MEDIUM, SF_SMALL


# --------------------------------------------------------------------------
# Constant pins across faces (the _HLL_SM shared-constant rule)
# --------------------------------------------------------------------------


def test_session_gap_constants_pinned():
    """The streaming fold's integer-µs gap MUST equal the batch
    sessionizer's INTERVAL minutes — the shared-constant rule that
    keeps the two faces from drifting."""
    from lua_mapreduce_spark.operators.analytics20 import _SDF_GAP_MIN
    from lua_mapreduce_spark.streaming.stateful import _SD_GAP_US

    assert _SD_GAP_US == _SDF_GAP_MIN * 60 * 1_000_000


def test_ra_scale_is_lcm_of_possible_degrees():
    """_RA_SCALE must be divisible by every degree the <= 25-node trade
    graph can produce (1..24), so each 1/deg term is EXACT — the
    property the docstring promises."""
    from lua_mapreduce_spark.operators.graph import _RA_SCALE

    assert _RA_SCALE == math.lcm(*range(1, 25))
    for d in range(1, 25):
        assert _RA_SCALE % d == 0, d


# --------------------------------------------------------------------------
# Resource-allocation link prediction: pure-Python replay
# --------------------------------------------------------------------------


def test_resource_allocation_matches_python_replay(spark):
    """RA scores (exact _RA_SCALE // deg weights) must equal a
    pure-Python replay, and agree with Adamic-Adar on the candidate
    PAIR SET (same non-adjacent-with-common-neighbor universe) while
    punishing hub-heavy pairs at least as hard."""
    from lua_mapreduce_spark.operators import graph

    for sf in (SF_SMALL, SF_MEDIUM):
        edges = [
            (r["src"], r["dst"]) for r in graph._scc_edges(spark, sf).collect()
        ]
        nbr: dict[str, set[str]] = {}
        for s, d in edges:
            nbr.setdefault(s, set()).add(d)
            nbr.setdefault(d, set()).add(s)
        nodes = sorted(nbr)
        want = {}
        for i, u in enumerate(nodes):
            for v in nodes[i + 1 :]:
                if v in nbr[u]:
                    continue
                commons = nbr[u] & nbr[v]
                if not commons:
                    continue
                score = sum(graph._RA_SCALE // len(nbr[w]) for w in commons)
                # every term must be exact (no truncation)
                for w in commons:
                    assert graph._RA_SCALE % len(nbr[w]) == 0
                want[(u, v)] = (len(commons), score)
        order = sorted(want, key=lambda p: (-want[p][1], p))
        topk = set(order[: graph._RA_TOPK])
        got = {
            (r["node_a"], r["node_b"]): (
                r["n_common"],
                r["ra_scaled"],
                r["is_predicted"],
            )
            for r in graph.graph_resource_allocation_index(
                spark, sf
            ).collect()
        }
        assert got == {p: (*v, p in topk) for p, v in want.items()}, sf


# --------------------------------------------------------------------------
# Contamination severity tiers: composition + accounting identities
# --------------------------------------------------------------------------


def test_contamination_tiers_match_python_replay(spark):
    """The tier grid must equal a pure-Python re-tiering of the pair
    report's own output joined to corpus token counts, and its
    accounting identities must hold: tiers partition the corpus (doc
    counts and token masses each sum to the corpus totals), and the
    action map is exactly full->remove / partial->flag / else keep."""
    from lua_mapreduce_spark.operators import analytics13 as a13
    from lua_mapreduce_spark.operators import analytics21 as a21
    from lua_mapreduce_spark.operators.curation import _DECON_BENCH_MOD

    for sf in (SF_SMALL, SF_MEDIUM):
        sev: dict[int, int] = {}
        for r in a13.curation_contamination_pairs_report(
            spark, sf
        ).collect():
            sev[r["doc_id"]] = max(
                sev.get(r["doc_id"], 0), r["cont_doc_permille"]
            )
        con = duckdb.connect()
        docs = con.execute(
            f"SELECT doc_id, text FROM '{sf}/documents.parquet'"
        ).fetchall()
        want: dict[str, list[int]] = {}
        tot_docs = tot_toks = 0
        for d, t in docs:
            if d % _DECON_BENCH_MOD == 0:
                continue
            n_tok = len(_re.findall(r"[A-Za-z]+", t))
            mc = sev.get(d)
            tier = (
                "clean"
                if mc is None
                else "full"
                if mc >= a21._CST_FULL
                else "partial"
                if mc >= a21._CST_PARTIAL
                else "quote"
            )
            w = want.setdefault(tier, [0, 0])
            w[0] += 1
            w[1] += n_tok
            tot_docs += 1
            tot_toks += n_tok
        rows = a21.curation_contamination_severity_tiers(
            spark, sf
        ).collect()
        got = {
            r["tier"]: (
                r["action"],
                r["n_docs"],
                r["token_mass"],
                r["docs_permille"],
                r["tokens_permille"],
            )
            for r in rows
        }
        action = {"full": "remove", "partial": "flag"}
        assert got == {
            tier: (
                action.get(tier, "keep"),
                n,
                m,
                n * 1000 // tot_docs,
                m * 1000 // tot_toks,
            )
            for tier, (n, m) in want.items()
        }, sf
        assert sum(r["n_docs"] for r in rows) == tot_docs, sf
        assert sum(r["token_mass"] for r in rows) == tot_toks, sf


def test_tier_max_survives_topk_truncation():
    """The docstring's monotonicity claim: for a fixed doc,
    cont_doc_permille is monotone in n_shared, so the report's rank-1
    partner (ranked by n_shared DESC) carries the per-doc maximum even
    under top-k truncation."""
    n_sg_doc = 37
    conts = [n * 1000 // n_sg_doc for n in range(1, n_sg_doc + 1)]
    assert conts == sorted(conts)  # monotone in n_shared


# --------------------------------------------------------------------------
# Affix productivity: pure-Python replay
# --------------------------------------------------------------------------


def test_affix_productivity_matches_python_replay(spark):
    """Per-affix type counts, token masses and productivity permilles
    must equal a pure-Python replay over the word-TYPE table, with the
    same (token_mass DESC, affix) top-k per kind."""
    from lua_mapreduce_spark.operators import analytics21 as a21

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        texts = [
            t
            for (t,) in con.execute(
                f"SELECT text FROM '{sf}/documents.parquet'"
            ).fetchall()
        ]
        freq: dict[str, int] = {}
        for t in texts:
            for w in _re.findall(r"[A-Za-z]+", t):
                w = w.lower()
                if len(w) >= a21._AFX_MINLEN:
                    freq[w] = freq.get(w, 0) + 1
        agg: dict[tuple[str, str], list[int]] = {}
        for w, f in freq.items():
            for kind, affix in (
                ("prefix", w[: a21._AFX_LEN]),
                ("suffix", w[-a21._AFX_LEN :]),
            ):
                a = agg.setdefault((kind, affix), [0, 0])
                a[0] += 1
                a[1] += f
        want = {}
        for kind in ("prefix", "suffix"):
            ranked = sorted(
                (
                    (affix, v)
                    for (k, affix), v in agg.items()
                    if k == kind
                ),
                key=lambda x: (-x[1][1], x[0]),
            )
            for rank, (affix, (n_types, mass)) in enumerate(
                ranked[: a21._AFX_TOPK], 1
            ):
                want[(kind, affix)] = (
                    rank,
                    n_types,
                    mass,
                    n_types * 1000 // mass,
                )
        got = {
            (r["kind"], r["affix"]): (
                r["mass_rank"],
                r["n_types"],
                r["token_mass"],
                r["productivity_permille"],
            )
            for r in a21.text_affix_productivity(spark, sf).collect()
        }
        assert got == want, sf


# --------------------------------------------------------------------------
# Session fold: page-split invariance property (pure Python, no Spark)
# --------------------------------------------------------------------------


def test_session_fold_page_split_invariant():
    """Folding ANY time-ordered partition of an event sequence through
    `_sd_fold` must yield the same final per-session (n_events,
    converted) table as one single-pass fold — the property that makes
    the streaming face sound under the paged source's contract,
    whatever the page boundaries. Randomized over sequences with gaps
    straddling page boundaries."""
    import random

    from lua_mapreduce_spark.streaming.stateful import _SD_GAP_US, _sd_fold

    rng = random.Random(1514)
    for trial in range(200):
        n = rng.randint(0, 40)
        t, events = 0, []
        for _ in range(n):
            # gaps hover around the threshold so boundaries straddle it
            t += rng.choice(
                [1, _SD_GAP_US - 1, _SD_GAP_US, _SD_GAP_US + 1, 2 * _SD_GAP_US]
            )
            events.append((t, rng.random() < 0.3))
        # single-pass truth
        st = (-1, 0, 0, 0)
        sessions: dict[int, tuple] = {}
        last_us, seq, n_ev, conv, touched = _sd_fold(*st, events)
        sessions.update(touched)
        want = dict(sessions)
        # fold over a random page split (pages preserve time order)
        cuts = sorted(rng.sample(range(n + 1), rng.randint(0, min(6, n))))
        pages, prev = [], 0
        for c in cuts + [n]:
            pages.append(events[prev:c])
            prev = c
        st = (-1, 0, 0, 0)
        got: dict[int, tuple] = {}
        for page in pages:
            *st, touched = _sd_fold(*st, page)
            got.update(touched)  # last write per session wins
        assert got == want, (trial, events, cuts)


# --------------------------------------------------------------------------
# Dense burst hour grid: a witness that the r15 fix has teeth
# --------------------------------------------------------------------------


def test_burst_dense_grid_flags_post_gap_spike(spark):
    """A spike after a silent day must be flagged under the dense grid
    (its wall-clock trailing 24 h are the zero-filled gap) where the
    old observed-hours window would have compared it against day-old
    traffic and stayed quiet — the exact sparse-series failure the r14
    ADVICE named. Also pins the head guard: no hour inside each type's
    first 24 wall-clock hours is ever flagged."""
    from lua_mapreduce_spark.operators.analytics18 import burst_tail

    rows = [("a", h, 10) for h in range(24)]  # steady day
    # 24h of SILENCE (hours 24..47 absent), then a modest spike: 15
    # events. Observed-hours window: trailing 24 observed rows sum to
    # 240 -> 15*24 = 360 < 480 -> quiet. Dense wall-clock window:
    # trailing 24 hours are the zero-filled gap -> 360 > 0 -> burst.
    rows.append(("a", 48, 15))
    hourly = spark.createDataFrame(rows, "event_type string, hr long, cnt long")
    got = {
        (r["event_type"], r["start_hr"], r["end_hr"], r["n_hours"],
         r["peak_count"], r["total_events"])
        for r in burst_tail(hourly).collect()
    }
    assert got == {("a", 48, 48, 1, 15, 15)}


# --------------------------------------------------------------------------
# Streaming session-depth snapshot: row-for-row equality with batch
# --------------------------------------------------------------------------


def test_streaming_session_depth_equals_batch(spark):
    """The streamed per-user session state must feed the IDENTICAL
    depth-bucket x conversion funnel as the batch sessionizer (shared
    session_depth_tail), row-for-row, with >= 3 micro-batches pinned —
    this is the test that pins the fold's order contract (disjoint
    half-open event-time pages)."""
    from lua_mapreduce_spark.operators import analytics20 as a20
    from lua_mapreduce_spark.operators import streaming_ops as so
    from lua_mapreduce_spark.streaming import stateful

    for sf in (SF_SMALL, SF_MEDIUM):
        batch = sorted(
            tuple(r)
            for r in a20.events_session_depth_funnel(spark, sf).collect()
        )
        streamed = sorted(
            tuple(r)
            for r in so.QUERIES["streaming_session_depth_snapshot"](
                spark, sf
            ).collect()
        )
        assert streamed == batch, sf
        assert stateful.LAST_DRAIN_NUM_BATCHES >= 3, sf
