"""Round-14 tests: the chunk-order-proof retention fold (r13 ADVICE
medium — re-anchoring when a later Arrow chunk holds an earlier week),
overflow surfacing beyond the 62-bit mask (r13 ADVICE low), and the
novelty query's single-text-pass plan (r13 perf-weak fix)."""

from __future__ import annotations

import itertools
import random

from lua_mapreduce_spark.streaming.stateful import (
    _RET_FULL_MASK,
    _RET_MAX_OFF,
    _ret_update_weeks,
)
from tests.conftest import SF_MEDIUM, SF_SMALL


# --------------------------------------------------------------------------
# _ret_update_weeks: the retention fold must be chunk-order-invariant
# --------------------------------------------------------------------------


def _fold(batches: list[list[int]]) -> tuple[int, int, int]:
    first, mask, over = -1, 0, 0
    for b in batches:
        first, mask, over = _ret_update_weeks(first, mask, over, set(b))
    return first, mask, over


def _batch_truth(weeks: list[int]) -> tuple[int, int]:
    """Order-free MIN + bit-OR replay (the batch RETENTION_ORACLE
    reading) over in-range offsets."""
    first = min(weeks)
    mask = 0
    for w in weeks:
        off = w - first
        if off <= _RET_MAX_OFF:
            mask |= 1 << off
    return first, mask


def test_retention_fold_reanchors_on_early_late_chunk():
    """A later batch (or chunk) holding an EARLIER week must re-anchor:
    existing offset bits shift left by the delta instead of the early
    week's activity being dropped (r13 ADVICE medium)."""
    # anchor at week 100 first, then week 97 arrives late
    first, mask, over = _fold([[100, 101], [97]])
    assert (first, mask) == _batch_truth([100, 101, 97])
    assert first == 97
    assert mask == (1 << 0) | (1 << 3) | (1 << 4)
    assert over == 0


def test_retention_fold_is_order_invariant():
    """Every permutation of batch delivery, and every 2-way chunk split
    within a delivery, must fold to the identical (first, mask) as the
    order-free batch replay."""
    weeks = [50, 53, 50, 61, 55, 49, 70]
    want = _batch_truth(weeks)
    for perm in itertools.permutations(set(weeks)):
        assert _fold([[w] for w in perm])[:2] == want, perm
    rng = random.Random(14)
    for _ in range(50):
        shuffled = weeks[:]
        rng.shuffle(shuffled)
        cut = rng.randrange(1, len(shuffled))
        got = _fold([shuffled[:cut], shuffled[cut:]])
        assert got[:2] == want, shuffled
        assert got[2] == 0


def test_retention_fold_counts_overflow():
    """Offsets beyond _RET_MAX_OFF are COUNTED, not silently dropped:
    both a directly-out-of-range week and in-range bits later PUSHED
    out by a re-anchor must increment the counter (r13 ADVICE low)."""
    # direct overflow: week 200 is 100 offsets past anchor 100
    _, mask, over = _fold([[100], [200]])
    assert over == 1 and mask == 1
    # push-out overflow: bit 62 is in range until week 90 re-anchors
    # by 10, shifting it to 72 (> 62) — one bit lost, counted
    first, mask, over = _fold([[100, 100 + _RET_MAX_OFF], [90]])
    assert first == 90
    assert over == 1
    assert mask == (1 << 10) | (1 << 0)
    assert mask & ~_RET_FULL_MASK == 0


def test_retention_fold_empty_batch_is_noop():
    assert _ret_update_weeks(-1, 0, 0, set()) == (-1, 0, 0)
    assert _ret_update_weeks(5, 3, 1, set()) == (5, 3, 1)


# --------------------------------------------------------------------------
# streaming retention end-to-end still equals batch after the refactor,
# and the sink surfaces zero overflow on the fixture corpora
# --------------------------------------------------------------------------


def test_streaming_retention_sink_overflow_zero(spark):
    """The drained sink must expose the n_overflow column and report 0
    on the fixtures (~4-week span), proving the surfacing path exists
    without firing."""
    from lua_mapreduce_spark.operators.streaming_ops import _events_stream
    from lua_mapreduce_spark.streaming.stateful import (
        drain_stream,
        stream_retention_stateful,
    )

    sink = drain_stream(
        stream_retention_stateful(_events_stream(spark, SF_SMALL)),
        "r14_retention_overflow",
        output_mode="update",
    )
    assert "n_overflow" in sink.columns
    assert sink.filter("n_overflow != 0").count() == 0


# --------------------------------------------------------------------------
# text_ngram_novelty: single text pass (shares the persisted signatures)
# --------------------------------------------------------------------------


def test_novelty_single_text_scan(spark):
    """After the r13-ADVICE fix the novelty query reads the documents
    table through the persisted signature relation on BOTH its
    references (the firsts aggregate side and the join-back side) —
    the executed plan shows >= 2 InMemoryTableScans (the
    test_minhash_single_text_pass convention: raw parquet scans appear
    only inside the cached relation's printed population plan), and
    parity with a pure-Python replay still holds at sf0.001."""
    import io
    import re as _re
    from contextlib import redirect_stdout

    from lua_mapreduce_spark import memo
    from lua_mapreduce_spark.operators import analytics12 as a12
    from lua_mapreduce_spark.operators.dedup import _minhash_signatures

    memo.clear(_minhash_signatures)
    df = a12.text_ngram_novelty(spark, SF_SMALL)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("InMemoryTableScan") >= 2, plan
    # value replay (independent of Spark AND DuckDB)
    import duckdb

    con = duckdb.connect()
    docs = dict(
        con.execute(
            f"SELECT doc_id, text FROM '{SF_SMALL}/documents.parquet'"
        ).fetchall()
    )
    sh = {}
    for d, t in docs.items():
        toks = [w.lower() for w in _re.findall(r"[A-Za-z]+", t)]
        if len(toks) >= 3:
            sh[d] = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    firsts: dict[str, int] = {}
    for d in sorted(sh):
        for s in sh[d]:
            if s not in firsts or d < firsts[s]:
                firsts[s] = d
    want = {
        d: (
            len(ss),
            sum(1 for s in ss if firsts[s] == d),
        )
        for d, ss in sh.items()
    }
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_novel"])
        for r in df.collect()
    }
    assert got == want


# --------------------------------------------------------------------------
# text_zipf_fit: the distributed-rank scale path (r13 verdict item 6)
# --------------------------------------------------------------------------


def test_zipf_rank_window_is_partitioned(spark):
    """The per-word row_number must be PARTITIONED by (cnt, pfx) — its
    windowspecdefinition lists the partition columns bare (no
    direction) — and the vocab-sized relation must never cross an
    Exchange SinglePartition (only the tiny bucket-offset rollup may).
    Values must still equal the oracle's global ROW_NUMBER (parity is
    the oracle gate; here a cheap invariant: bucket ranks are dense
    1..vocab)."""
    import io
    import re as _re
    from contextlib import redirect_stdout

    from lua_mapreduce_spark.operators import analytics10 as a10

    df = a10.text_zipf_fit(spark, SF_SMALL)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    specs = _re.findall(r"windowspecdefinition\([^)]*\)", plan)
    rn_specs = [s for s in specs if "w#" in s and "ASC" in s]
    assert rn_specs, plan
    # partition columns print bare (no DESC/ASC) before the sort spec
    assert any(_re.match(r"windowspecdefinition\(cnt#\d+L?, pfx#\d+,", s) for s in rn_specs), rn_specs
    rows = {r["bucket"]: r for r in df.collect()}
    ranks = sorted((r["min_rank"], r["max_rank"]) for r in rows.values())
    # doubling buckets tile 1..vocab densely: each min = previous max + 1
    assert ranks[0][0] == 1
    for (lo1, hi1), (lo2, _hi2) in zip(ranks, ranks[1:]):
        assert lo2 == hi1 + 1, ranks


# --------------------------------------------------------------------------
# Round-14 first wave: the four banked queries (SURVEY §7.4 items 25-28)
# --------------------------------------------------------------------------


def test_contamination_pairs_match_python_replay(spark):
    """The pair-grain evidence table must equal a pure-Python replay:
    distinct word-4-gram shingles per doc, bench/corpus split by
    doc_id % 31, shared counts, the (n_shared DESC, bench_doc ASC)
    top-k truncation, and both containment permilles."""
    import re as _re

    import duckdb

    from lua_mapreduce_spark.operators import analytics13 as a13
    from lua_mapreduce_spark.operators.curation import (
        _DECON_BENCH_MOD,
        _DECON_N,
    )

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        docs = dict(
            con.execute(
                f"SELECT doc_id, text FROM '{sf}/documents.parquet'"
            ).fetchall()
        )
        sh: dict[int, set[str]] = {}
        for d, t in docs.items():
            toks = [w.lower() for w in _re.findall(r"[A-Za-z]+", t)]
            if len(toks) >= _DECON_N:
                sh[d] = {
                    " ".join(toks[i : i + _DECON_N])
                    for i in range(len(toks) - _DECON_N + 1)
                }
        bench = {d for d in sh if d % _DECON_BENCH_MOD == 0}
        want = {}
        for d, ss in sh.items():
            if d in bench:
                continue
            partners = []
            for b in bench:
                n = len(ss & sh[b])
                if n >= a13._CPR_MIN_SHARED:
                    partners.append((-n, b))
            partners.sort()
            for rank, (negn, b) in enumerate(partners[: a13._CPR_TOPK], 1):
                n = -negn
                want[(d, b)] = (
                    rank,
                    n,
                    len(ss),
                    len(sh[b]),
                    n * 1000 // len(ss),
                    n * 1000 // len(sh[b]),
                )
        got = {
            (r["doc_id"], r["bench_doc"]): (
                r["pair_rank"],
                r["n_shared"],
                r["n_sg_doc"],
                r["n_sg_bench"],
                r["cont_doc_permille"],
                r["cont_bench_permille"],
            )
            for r in a13.curation_contamination_pairs_report(
                spark, sf
            ).collect()
        }
        assert got == want, (sf, len(got), len(want))
        assert got, sf  # non-vacuous: the fixtures always contaminate


def test_edge_betweenness_gn_matches_python_replay(spark):
    """Edge betweenness, the removed top edge, and both weak-component
    counts must equal an independent pure-Python replay (BFS sigma
    recurrence + the definitional per-(s,t) edge dependency with the
    same integer truncation; union-find for components)."""
    from collections import deque

    from lua_mapreduce_spark.operators import graph

    for sf in (SF_SMALL, SF_MEDIUM):
        edges = [
            (r["src"], r["dst"]) for r in graph._scc_edges(spark, sf).collect()
        ]
        adj: dict[str, list[str]] = {}
        nodes: set[str] = set()
        for s, d in edges:
            adj.setdefault(s, []).append(d)
            nodes.add(s)
            nodes.add(d)
        dist: dict[tuple[str, str], int] = {}
        sigma: dict[tuple[str, str], int] = {}
        for s in nodes:
            dist[(s, s)] = 0
            sigma[(s, s)] = 1
            dq = deque([s])
            while dq:
                x = dq.popleft()
                dx = dist[(s, x)]
                if dx >= graph._BC_HOPS:
                    continue
                for y in adj.get(x, ()):
                    if (s, y) not in dist:
                        dist[(s, y)] = dx + 1
                        sigma[(s, y)] = 0
                        dq.append(y)
                    if dist[(s, y)] == dx + 1:
                        sigma[(s, y)] += sigma[(s, x)]
        eb: dict[tuple[str, str], tuple[int, int]] = {
            e: (0, 0) for e in edges
        }
        for (u, v) in edges:
            n_pairs, milli = 0, 0
            for s in nodes:
                d_su = dist.get((s, u))
                if d_su is None:
                    continue
                for t in nodes:
                    if s == t:
                        continue
                    d_vt = dist.get((v, t))
                    d_st = dist.get((s, t))
                    if d_vt is None or d_st is None:
                        continue
                    if d_su + 1 + d_vt == d_st:
                        n_pairs += 1
                        milli += (
                            1000 * sigma[(s, u)] * sigma[(v, t)]
                            // sigma[(s, t)]
                        )
            eb[(u, v)] = (n_pairs, milli)
        top = min(eb, key=lambda e: (-eb[e][1], e))

        def _ncomp(edge_set):
            parent = {n: n for n in nodes}

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for u, v in edge_set:
                parent[find(u)] = find(v)
            return len({find(n) for n in nodes})

        nb = _ncomp(edges)
        na = _ncomp(
            [e for e in edges if e != top and e != (top[1], top[0])]
        )
        rows = graph.graph_edge_betweenness_communities(spark, sf).collect()
        got = {
            (r["src"], r["dst"]): (
                r["n_pairs_through"],
                r["edge_betweenness_milli"],
                r["is_removed"],
                r["n_comp_before"],
                r["n_comp_after"],
            )
            for r in rows
        }
        want = {
            e: (eb[e][0], eb[e][1], e == top, nb, na) for e in edges
        }
        assert got == want, (
            sf,
            {k: (got.get(k), want.get(k)) for k in got if got.get(k) != want.get(k)},
        )
        # every edge is its own length-1 shortest path
        assert all(v[1] >= 1000 for v in got.values()), sf


def test_textrank_matches_python_replay(spark):
    """The top-k TextRank words must equal a pure-Python fixed-point
    integer PageRank over the stopword-filtered window-2 co-occurrence
    graph — same scale, truncation, iteration count and tie order."""
    import re as _re

    import duckdb

    from lua_mapreduce_spark.operators import analytics13 as a13
    from lua_mapreduce_spark.operators.analytics9 import _RAKE_STOP

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        texts = [
            t
            for (t,) in con.execute(
                f"SELECT text FROM '{sf}/documents.parquet'"
            ).fetchall()
        ]
        stop = set(_RAKE_STOP)
        w_edges: dict[tuple[str, str], int] = {}
        for t in texts:
            toks = [
                w.lower()
                for w in _re.findall(r"[A-Za-z]+", t)
                if w.lower() not in stop
            ]
            for a, b in zip(toks, toks[1:]):
                if a == b:
                    continue
                w_edges[(a, b)] = w_edges.get((a, b), 0) + 1
                w_edges[(b, a)] = w_edges.get((b, a), 0) + 1
        ow: dict[str, int] = {}
        nbr: dict[str, int] = {}
        for (u, _v), w in w_edges.items():
            ow[u] = ow.get(u, 0) + w
            nbr[u] = nbr.get(u, 0) + 1
        trans = {
            (u, v): w * a13._TR_SCALE // ow[u]
            for (u, v), w in w_edges.items()
        }
        n = len(ow)
        r = {u: a13._TR_SCALE // n for u in ow}
        for _ in range(a13._TR_ITERS):
            m: dict[str, int] = {}
            for (u, v), t_ in trans.items():
                m[v] = m.get(v, 0) + t_ * r[u]
            r = {
                u: (15 * a13._TR_SCALE) // (100 * n)
                + (85 * (m.get(u, 0) // a13._TR_SCALE)) // 100
                for u in ow
            }
        want_order = sorted(r, key=lambda u: (-r[u], u))[: a13._TR_TOPK]
        want = {u: (r[u], nbr[u], ow[u]) for u in want_order}
        got = {
            row["word"]: (
                row["pr_scaled"],
                row["n_neighbors"],
                row["cooc_total"],
            )
            for row in a13.text_keyphrase_textrank(spark, sf).collect()
        }
        assert got == want, (sf, got, want)


def test_dedup_cluster_stats_match_union_find(spark):
    """The triage report must equal a union-find replay over the
    engine's OWN verified near-dup pairs (dedup_minhash_lsh is
    value-gated elsewhere): cluster sizes, doubling buckets, removable
    mass permille of the corpus, per-bucket largest cluster."""
    import duckdb

    from lua_mapreduce_spark.operators import analytics13 as a13
    from lua_mapreduce_spark.operators.dedup import dedup_minhash_lsh

    for sf in (SF_SMALL, SF_MEDIUM):
        pairs = [
            (r["doc_a"], r["doc_b"])
            for r in dedup_minhash_lsh(spark, sf).collect()
        ]
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        clusters: dict[int, list[int]] = {}
        for d in parent:
            clusters.setdefault(find(d), []).append(d)
        con = duckdb.connect()
        (n_corpus,) = con.execute(
            f"SELECT COUNT(*) FROM '{sf}/documents.parquet'"
        ).fetchone()
        sizes = {min(v): len(v) for v in clusters.values()}
        buckets: dict[int, list[tuple[int, int]]] = {}
        for cid, sz in sizes.items():
            buckets.setdefault(sz.bit_length(), []).append((sz, cid))
        want = {}
        for bkt, members in buckets.items():
            n_docs = sum(s for s, _ in members)
            n_rm = sum(s - 1 for s, _ in members)
            top_sz, top_id = max(
                ((s, -c) for s, c in members)
            )
            want[bkt] = (
                len(members),
                n_docs,
                n_rm,
                n_rm * 1000 // n_corpus,
                -top_id,
                top_sz,
            )
        got = {
            r["size_bucket"]: (
                r["n_clusters"],
                r["n_docs"],
                r["n_removable"],
                r["removable_permille"],
                r["top_cluster_id"],
                r["top_cluster_size"],
            )
            for r in a13.curation_dedup_cluster_stats(spark, sf).collect()
        }
        assert got == want, (sf, got, want)
        assert got, sf  # fixtures always carry near-dup clusters


# --------------------------------------------------------------------------
# Round-14 second wave: the r15 bank pulled forward (§7.4 items 29-32)
# --------------------------------------------------------------------------


def test_assortativity_matches_python_replay(spark):
    """The power sums and the floored micro coefficient must equal a
    pure-Python replay over the shared capped edge list."""
    import math

    from lua_mapreduce_spark.operators import graph

    for sf in (SF_SMALL, SF_MEDIUM):
        edges = [
            (r["src"], r["dst"]) for r in graph._scc_edges(spark, sf).collect()
        ]
        outd: dict[str, int] = {}
        ind: dict[str, int] = {}
        for s, d in edges:
            outd[s] = outd.get(s, 0) + 1
            ind[d] = ind.get(d, 0) + 1
        xs = [(outd[s], ind[d]) for s, d in edges]
        m = len(xs)
        sx = sum(x for x, _ in xs)
        sy = sum(y for _, y in xs)
        sxy = sum(x * y for x, y in xs)
        sxx = sum(x * x for x, _ in xs)
        syy = sum(y * y for _, y in xs)
        vx, vy = m * sxx - sx * sx, m * syy - sy * sy
        want_micro = (
            None
            if vx == 0 or vy == 0
            else math.floor(
                1_000_000.0 * float(m * sxy - sx * sy)
                / math.sqrt(float(vx) * float(vy))
            )
        )
        row = graph.graph_assortativity_degree(spark, sf).collect()[0]
        assert (
            row["m"], row["sx"], row["sy"], row["sxy"], row["sxx"], row["syy"]
        ) == (m, sx, sy, sxy, sxx, syy), sf
        assert row["cov_num"] == m * sxy - sx * sy
        assert row["assortativity_micro"] == want_micro, sf
        if want_micro is not None:
            assert -1_000_000 <= row["assortativity_micro"] <= 1_000_000


def test_moments_sketch_merge_and_exactness(spark):
    """Power sums must equal a DuckDB direct recount per group, and the
    merged row must equal BOTH the sum of group rows AND a direct
    full-table recount (the mergeable-summary property)."""
    import duckdb

    from lua_mapreduce_spark.operators import analytics14 as a14

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        truth = {
            r[0]: tuple(r[1:])
            for r in con.execute(
                f"""SELECT l_returnflag, COUNT(*),
                       SUM(q), SUM(q*q), SUM(q*q*q), SUM(q*q*q*q)
                    FROM (SELECT l_returnflag,
                                 CAST(l_quantity AS BIGINT) AS q
                          FROM '{sf}/lineitem.parquet')
                    GROUP BY 1"""
            ).fetchall()
        }
        rows = {
            r["set_name"]: (r["n"], r["s1"], r["s2"], r["s3"], r["s4"])
            for r in a14.agg_moments_sketch(spark, sf).collect()
        }
        for flag, t in truth.items():
            assert rows[flag] == t, (sf, flag)
        merged = tuple(
            sum(rows[f][i] for f in truth) for i in range(5)
        )
        assert rows["merged"] == merged, sf
        full = con.execute(
            f"""SELECT COUNT(*), SUM(q), SUM(q*q), SUM(q*q*q),
                       SUM(q*q*q*q)
                FROM (SELECT CAST(l_quantity AS BIGINT) AS q
                      FROM '{sf}/lineitem.parquet')"""
        ).fetchone()
        assert rows["merged"] == tuple(full), sf


def test_stopword_discovery_coverage_curve(spark):
    """The head must be the true top-DF words (Python replay), the
    cumulative curve must be non-decreasing and telescoping (each
    cum >= previous, final = sum of head mass within truncation), and
    the RAKE stoplist's non-generic members must appear in the head —
    the measured justification the stoplist cites."""
    import re as _re

    import duckdb

    from lua_mapreduce_spark.operators import analytics14 as a14
    from lua_mapreduce_spark.operators.analytics9 import _RAKE_STOP

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        docs = dict(
            con.execute(
                f"SELECT doc_id, text FROM '{sf}/documents.parquet'"
            ).fetchall()
        )
        df: dict[str, int] = {}
        tf: dict[str, int] = {}
        total_tokens = 0
        for t in docs.values():
            toks = [w.lower() for w in _re.findall(r"[A-Za-z]+", t)]
            total_tokens += len(toks)
            for w in set(toks):
                df[w] = df.get(w, 0) + 1
            for w in toks:
                tf[w] = tf.get(w, 0) + 1
        order = sorted(df, key=lambda w: (-df[w], -tf[w], w))[
            : a14._SWD_TOPK
        ]
        rows = sorted(
            a14.text_stopword_discovery(spark, sf).collect(),
            key=lambda r: r["rank"],
        )
        assert [r["w"] for r in rows] == order, sf
        cum = 0
        for r in rows:
            assert r["df"] == df[r["w"]] and r["tf"] == tf[r["w"]], sf
            assert r["mass_permille"] == r["tf"] * 1000 // total_tokens
            cum += r["tf"]
            assert r["cum_mass_permille"] == cum * 1000 // total_tokens
        head_set = {r["w"] for r in rows}
        in_head = [w for w in _RAKE_STOP if w in df and w in head_set]
        assert in_head, sf  # the stoplist's corpus words rank in the head


def test_token_budget_sums_exactly(spark):
    """Quotas must sum EXACTLY to the budget, match a pure-Python
    Hamilton replay, and respect the quality-weighted token masses."""
    import re as _re

    import duckdb

    from lua_mapreduce_spark.operators import analytics14 as a14

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        recs = con.execute(
            f"SELECT source, text FROM '{sf}/documents.parquet'"
        ).fetchall()
        weight: dict[str, int] = {}
        for src, t in recs:
            n_tok = len(_re.findall(r"[A-Za-z]+", t))
            n_alpha = len(_re.findall(r"[A-Za-z]", t))
            n_space = len(_re.findall(r"\s", t))
            q = (n_alpha * 700 + n_space * 300) // len(t)
            weight[src] = weight.get(src, 0) + n_tok * q
        tot = sum(weight.values())
        B = a14._TBA_BUDGET
        base = {s: B * w // tot for s, w in weight.items()}
        rem = {s: B * w % tot for s, w in weight.items()}
        short = B - sum(base.values())
        order = sorted(weight, key=lambda s: (-rem[s], s))
        want = {
            s: base[s] + (1 if i < short else 0)
            for i, s in enumerate(order)
        }
        rows = a14.curation_token_budget_allocation(spark, sf).collect()
        got = {r["source"]: r["quota_tokens"] for r in rows}
        assert got == want, sf
        assert sum(got.values()) == B, sf
        for r in rows:
            assert r["weight"] == weight[r["source"]], sf
            assert r["quota_tokens"] == r["base_quota"] + r["extra"], sf


# --------------------------------------------------------------------------
# Round-14 third wave: §7.4 items 33-36 pulled forward
# --------------------------------------------------------------------------


def test_filter_interaction_matches_python_replay(spark):
    """The pairwise fail counts and redundancy permilles must equal a
    pure-Python replay of all four filters, and the integer repetition
    threshold must equal curation's float constant."""
    import re as _re

    import duckdb

    from lua_mapreduce_spark.operators import analytics15 as a15
    from lua_mapreduce_spark.operators.curation import _REP_MAX_DUP_WORD_FRAC

    assert a15._FIM_REP_PCT == int(_REP_MAX_DUP_WORD_FRAC * 100)
    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        recs = con.execute(
            f"SELECT doc_id, text FROM '{sf}/documents.parquet'"
        ).fetchall()
        keeper: dict[str, int] = {}
        for d, t in recs:
            fpv = _re.sub(r"\s+", " ", t.lower()).strip()
            keeper[fpv] = min(keeper.get(fpv, d), d)
        fails: dict[str, list[bool]] = {f: [] for f in a15._FIM_FILTERS}
        for d, t in recs:
            toks = [w.lower() for w in _re.findall(r"[A-Za-z]+", t)]
            n_alpha = len(_re.findall(r"[A-Za-z]", t))
            fpv = _re.sub(r"\s+", " ", t.lower()).strip()
            fails["length"].append(len(toks) < a15._FIM_MIN_TOK)
            fails["alpha"].append(
                n_alpha * 100 < a15._FIM_ALPHA_PCT * len(t)
            )
            fails["dup"].append(d != keeper[fpv])
            fails["repetition"].append(
                (len(toks) - len(set(toks))) * 100
                > a15._FIM_REP_PCT * len(toks)
            )
        want = {}
        fs = a15._FIM_FILTERS
        for i, fa in enumerate(fs):
            for fb in fs[i + 1 :]:
                na = sum(fails[fa])
                nb = sum(fails[fb])
                nboth = sum(
                    1 for x, y in zip(fails[fa], fails[fb]) if x and y
                )
                union = na + nb - nboth
                want[(fa, fb)] = (
                    len(recs),
                    na,
                    nb,
                    nboth,
                    union,
                    nboth * 1000 // union if union else 0,
                )
        got = {
            (r["filter_a"], r["filter_b"]): (
                r["n_docs"],
                r["fail_a"],
                r["fail_b"],
                r["fail_both"],
                r["fail_union"],
                r["redundancy_permille"],
            )
            for r in a15.curation_filter_interaction_matrix(
                spark, sf
            ).collect()
        }
        assert got == want, (sf, got, want)
        assert len(got) == 6, sf


def test_user_overlap_matches_python_replay(spark):
    """Pairwise audience Jaccard must equal a pure-Python set replay."""
    import duckdb

    from lua_mapreduce_spark.operators import analytics15 as a15

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        recs = con.execute(
            f"SELECT DISTINCT user_id, event_type"
            f" FROM '{sf}/events.parquet'"
        ).fetchall()
        by_type: dict[str, set[int]] = {}
        for u, t in recs:
            by_type.setdefault(t, set()).add(u)
        types = sorted(by_type)
        want = {}
        for i, ta in enumerate(types):
            for tb in types[i + 1 :]:
                inter = len(by_type[ta] & by_type[tb])
                if inter == 0:
                    continue
                union = len(by_type[ta] | by_type[tb])
                want[(ta, tb)] = (
                    len(by_type[ta]),
                    len(by_type[tb]),
                    inter,
                    union,
                    inter * 1000 // union,
                )
        got = {
            (r["type_a"], r["type_b"]): (
                r["n_a"],
                r["n_b"],
                r["n_both"],
                r["n_union"],
                r["jaccard_permille"],
            )
            for r in a15.events_user_overlap_jaccard(spark, sf).collect()
        }
        assert got == want, sf


def test_compression_proxy_matches_python_replay(spark):
    """Bigram distinctness and the longest same-token run must equal a
    pure-Python replay; docs with < 2 tokens must be absent."""
    import re as _re

    import duckdb

    from lua_mapreduce_spark.operators import analytics15 as a15

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        docs = dict(
            con.execute(
                f"SELECT doc_id, text FROM '{sf}/documents.parquet'"
            ).fetchall()
        )
        want = {}
        for d, t in docs.items():
            toks = [w.lower() for w in _re.findall(r"[A-Za-z]+", t)]
            if len(toks) < 2:
                continue
            bigs = [
                f"{a} {b}" for a, b in zip(toks, toks[1:])
            ]
            best = cur = 1
            for a, b in zip(toks, toks[1:]):
                cur = cur + 1 if a == b else 1
                best = max(best, cur)
            want[d] = (
                len(bigs),
                len(set(bigs)),
                len(set(bigs)) * 1000 // len(bigs),
                best,
            )
        got = {
            r["doc_id"]: (
                r["n_bigrams"],
                r["n_distinct_bigrams"],
                r["distinct_permille"],
                r["max_token_run"],
            )
            for r in a15.text_compression_ratio_proxy(spark, sf).collect()
        }
        assert got == want, sf


def test_streaming_moments_equals_batch_replay(spark):
    """The streamed power sums must equal a direct batch replay per
    event type, the merged row must equal the sum of the per-type rows
    AND a full-table replay (mergeability over streamed state), and
    >= 3 micro-batches must have run."""
    import duckdb

    from lua_mapreduce_spark.operators import streaming_ops as so
    from lua_mapreduce_spark.streaming import stateful

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        truth = {
            r[0]: tuple(r[1:])
            for r in con.execute(
                f"""SELECT event_type, COUNT(*), SUM(v), SUM(v*v),
                           SUM(v*v*v), SUM(v*v*v*v)
                    FROM (SELECT event_type,
                                 CAST(floor(value) AS BIGINT)
                                   % {stateful._MOM_DOMAIN} AS v
                          FROM '{sf}/events.parquet')
                    GROUP BY 1"""
            ).fetchall()
        }
        rows = {
            r["set_name"]: (r["n"], r["s1"], r["s2"], r["s3"], r["s4"])
            for r in so.QUERIES["streaming_moments_sketch"](
                spark, sf
            ).collect()
        }
        assert stateful.LAST_DRAIN_NUM_BATCHES >= 3, sf
        for t, tr in truth.items():
            assert rows[t] == tr, (sf, t)
        merged = tuple(sum(rows[t][i] for t in truth) for i in range(5))
        assert rows["merged"] == merged, sf


# --------------------------------------------------------------------------
# Round-14 fourth wave: §7.4 items 37-40 pulled forward
# --------------------------------------------------------------------------


def test_pareto_matches_sorted_replay(spark):
    """The histogram-derived decile shares must equal the DEFINITIONAL
    replay — actually sorting users by activity and summing the top
    k/10 — proving the partial-class arithmetic exact, plus Lorenz
    invariants (non-decreasing, k=10 = 1000-permille total)."""
    import duckdb

    from lua_mapreduce_spark.operators import analytics16 as a16

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        counts = sorted(
            (
                n
                for (n,) in con.execute(
                    f"SELECT COUNT(*) FROM '{sf}/events.parquet'"
                    " GROUP BY user_id"
                ).fetchall()
            ),
            reverse=True,
        )
        u, total = len(counts), sum(counts)
        rows = {
            r["k"]: r
            for r in a16.events_power_users_pareto(spark, sf).collect()
        }
        prev = 0
        for k in range(1, 11):
            r_k = k * u // 10
            want = sum(counts[:r_k])
            row = rows[k]
            assert row["n_top_users"] == r_k, (sf, k)
            assert row["cum_events_topk"] == want, (sf, k)
            assert row["share_permille"] == want * 1000 // total
            assert row["cum_events_topk"] >= prev
            prev = row["cum_events_topk"]
        assert rows[10]["cum_events_topk"] == total, sf
        assert rows[10]["share_permille"] == 1000, sf


def test_js_divergence_matches_python_replay(spark):
    """Pairwise L1 micro-distances must equal a pure-Python replay of
    the truncated-probability arithmetic, including absent-word mass,
    and obey the [0, 2e6] bound."""
    import re as _re

    import duckdb

    from lua_mapreduce_spark.operators import analytics16 as a16

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        recs = con.execute(
            f"SELECT source, text FROM '{sf}/documents.parquet'"
        ).fetchall()
        tf: dict[str, dict[str, int]] = {}
        for src, t in recs:
            d = tf.setdefault(src, {})
            for w in _re.findall(r"[A-Za-z]+", t):
                w = w.lower()
                d[w] = d.get(w, 0) + 1
        p = {
            src: {
                w: c * 1_000_000 // sum(d.values()) for w, c in d.items()
            }
            for src, d in tf.items()
        }
        got = {
            (r["source_a"], r["source_b"]): (
                r["n_shared_words"],
                r["l1_micro"],
            )
            for r in a16.text_js_divergence_sources(spark, sf).collect()
        }
        srcs = sorted(p)
        for i, sa in enumerate(srcs):
            for sb in srcs[i + 1 :]:
                shared = set(p[sa]) & set(p[sb])
                if not shared:
                    assert (sa, sb) not in got
                    continue
                l1 = (
                    sum(abs(p[sa][w] - p[sb][w]) for w in shared)
                    + sum(v for w, v in p[sa].items() if w not in shared)
                    + sum(v for w, v in p[sb].items() if w not in shared)
                )
                assert got[(sa, sb)] == (len(shared), l1), (sf, sa, sb)
                assert 0 <= l1 <= 2_000_000


def test_sort_key_advisor_diagonal_dominates(spark):
    """Each sort key must skip at least as well on its OWN probe
    dimension as any other layout does on that dimension (the
    diagonal-dominance property that makes the table an advisor), and
    a Python zone-map replay must agree exactly."""
    import duckdb

    from lua_mapreduce_spark.operators import analytics16 as a16

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        evs = con.execute(
            f"""SELECT CAST(user_id AS BIGINT),
                       CAST(floor(epoch(ts)) AS BIGINT) // 3600,
                       CAST(floor(value) AS BIGINT)
                FROM '{sf}/events.parquet'"""
        ).fetchall()
        dims = list(zip(*evs))  # u, h, v columns
        lo = [min(c) for c in dims]
        hi = [max(c) + 1 for c in dims]
        F_, P = a16._SKA_FILES, a16._SKA_PREDS
        want = {}
        for si, sk in enumerate(a16._SKA_DIMS):
            zones: dict[int, list] = {}
            for row in evs:
                fid = (row[si] - lo[si]) * F_ // (hi[si] - lo[si])
                z = zones.setdefault(fid, [0] + [None] * 6)
                z[0] += 1
                for di in range(3):
                    v = row[di]
                    if z[1 + 2 * di] is None or v < z[1 + 2 * di]:
                        z[1 + 2 * di] = v
                    if z[2 + 2 * di] is None or v > z[2 + 2 * di]:
                        z[2 + 2 * di] = v
            for di, pd in enumerate(a16._SKA_DIMS):
                n_probes = n_scanned = rows_ub = 0
                for pid in range(P):
                    plo = lo[di] + pid * (hi[di] - lo[di]) // P
                    phi = plo + (hi[di] - lo[di]) // 20
                    for z in zones.values():
                        n_probes += 1
                        if z[2 + 2 * di] >= plo and z[1 + 2 * di] < phi:
                            n_scanned += 1
                            rows_ub += z[0]
                want[(sk, pd)] = (
                    n_probes,
                    n_scanned,
                    (n_probes - n_scanned) * 1000 // n_probes,
                    rows_ub,
                )
        got = {
            (r["sort_key"], r["probe_dim"]): (
                r["n_file_probes"],
                r["n_scanned"],
                r["skip_permille"],
                r["rows_scanned_ub"],
            )
            for r in a16.layout_sort_key_advisor(spark, sf).collect()
        }
        assert got == want, (sf, got, want)
        for d in a16._SKA_DIMS:
            diag = got[(d, d)][2]
            for other in a16._SKA_DIMS:
                if other != d:
                    assert diag >= got[(other, d)][2], (sf, d, other)


def test_annotation_budget_identity(spark):
    """granted + undistributed must equal the quota per stratum, quotas
    must sum exactly to the budget, and the whole allocation must match
    a pure-Python Neyman/Hamilton replay."""
    import re as _re

    import duckdb

    from lua_mapreduce_spark.operators import analytics16 as a16

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        recs = con.execute(
            f"SELECT lang, text FROM '{sf}/documents.parquet'"
        ).fetchall()
        qs: dict[str, list[int]] = {}
        for lang, t in recs:
            n_alpha = len(_re.findall(r"[A-Za-z]", t))
            n_space = len(_re.findall(r"\s", t))
            qs.setdefault(lang, []).append(
                (n_alpha * 700 + n_space * 300) // len(t)
            )
        weight = {
            lang: len(v) * (max(v) - min(v) + 1) for lang, v in qs.items()
        }
        tot = sum(weight.values())
        B = a16._ABS_BUDGET
        base = {s: B * w // tot for s, w in weight.items()}
        rem = {s: B * w % tot for s, w in weight.items()}
        short = B - sum(base.values())
        order = sorted(weight, key=lambda s: (-rem[s], s))
        quota = {
            s: base[s] + (1 if i < short else 0)
            for i, s in enumerate(order)
        }
        rows = a16.curation_annotation_budget_split(spark, sf).collect()
        got = {r["lang"]: r for r in rows}
        assert {s: r["quota"] for s, r in got.items()} == quota, sf
        assert sum(r["quota"] for r in rows) == B, sf
        for r in rows:
            assert r["granted"] == min(r["quota"], r["n_docs"]), sf
            assert r["granted"] + r["undistributed"] == r["quota"], sf
            assert r["weight"] == weight[r["lang"]], sf


# --------------------------------------------------------------------------
# Round-14 fifth wave: §7.4 items 41-44 pulled forward
# --------------------------------------------------------------------------


def test_link_prediction_matches_python_replay(spark):
    """Jaccard scores, the non-adjacency constraint, and the top-k
    prediction flags must equal a pure-Python neighbor-set replay."""
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
        scored = {}
        for i, u in enumerate(nodes):
            for v in nodes[i + 1 :]:
                if v in nbr[u]:
                    continue
                inter = len(nbr[u] & nbr[v])
                if inter == 0:
                    continue
                union = len(nbr[u] | nbr[v])
                scored[(u, v)] = (inter, union, inter * 1000 // union)
        order = sorted(scored, key=lambda p: (-scored[p][2], p))
        topk = set(order[: graph._LP_TOPK])
        got = {
            (r["node_a"], r["node_b"]): (
                r["n_common"],
                r["n_union"],
                r["jaccard_permille"],
                r["is_predicted"],
            )
            for r in graph.graph_jaccard_link_prediction(spark, sf).collect()
        }
        want = {p: (*v, p in topk) for p, v in scored.items()}
        assert got == want, (sf, got, want)
        # no candidate pair is an existing undirected edge
        for u, v in got:
            assert v not in nbr[u], (sf, u, v)


def test_perplexity_proxy_matches_python_replay(spark):
    """Per-doc surprisal buckets must equal a pure-Python bigram-model
    replay, and a repeated-template doc must score BELOW the corpus
    mean (the boilerplate-scores-low property that makes it a filter
    signal)."""
    import re as _re

    import duckdb

    from lua_mapreduce_spark.operators import analytics17 as a17

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        docs = dict(
            con.execute(
                f"SELECT doc_id, text FROM '{sf}/documents.parquet'"
            ).fetchall()
        )
        bigs: dict[int, list[str]] = {}
        counts: dict[str, int] = {}
        for d, t in docs.items():
            toks = [w.lower() for w in _re.findall(r"[A-Za-z]+", t)]
            if len(toks) < 2:
                continue
            bl = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
            bigs[d] = bl
            for b in bl:
                counts[b] = counts.get(b, 0) + 1
        total = sum(counts.values())
        want = {}
        for d, bl in bigs.items():
            s = sum((total // counts[b]).bit_length() for b in bl)
            want[d] = (len(bl), s, s * 1000 // len(bl))
        got = {
            r["doc_id"]: (
                r["n_bigrams"],
                r["total_surprisal"],
                r["surprisal_milli"],
            )
            for r in a17.text_ngram_lm_perplexity_proxy(spark, sf).collect()
        }
        assert got == want, sf


def test_boilerplate_clusters_match_python_replay(spark):
    """Cluster assignment (highest-DF boilerplate shingle per doc),
    source spread and mean length must equal a pure-Python replay
    sharing text_boilerplate_ngrams' constants."""
    import re as _re

    import duckdb

    from lua_mapreduce_spark.operators import analytics17 as a17
    from lua_mapreduce_spark.operators.curation import _BOILER_N, _BOILER_TOPK

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        recs = con.execute(
            f"SELECT doc_id, source, text FROM '{sf}/documents.parquet'"
        ).fetchall()
        doc_sg: dict[int, set[str]] = {}
        meta = {}
        df: dict[str, int] = {}
        for d, src, t in recs:
            toks = [w.lower() for w in _re.findall(r"[A-Za-z]+", t)]
            meta[d] = (src, len(t))
            if len(toks) < _BOILER_N:
                continue
            sgs = {
                " ".join(toks[i : i + _BOILER_N])
                for i in range(len(toks) - _BOILER_N + 1)
            }
            doc_sg[d] = sgs
            for sg in sgs:
                df[sg] = df.get(sg, 0) + 1
        top = sorted(df, key=lambda sg: (-df[sg], sg))[:_BOILER_TOPK]
        top_set = set(top)
        clusters: dict[str, list[int]] = {}
        for d, sgs in doc_sg.items():
            hits = sorted(
                (sg for sg in sgs if sg in top_set),
                key=lambda sg: (-df[sg], sg),
            )
            if hits:
                clusters.setdefault(hits[0], []).append(d)
        want = {}
        for sg, ds in clusters.items():
            srcs = {meta[d][0] for d in ds}
            chars = sum(meta[d][1] for d in ds)
            want[sg] = (
                df[sg],
                len(ds),
                len(srcs),
                chars,
                chars // len(ds),
            )
        got = {
            r["shingle"]: (
                r["df"],
                r["n_docs"],
                r["n_sources"],
                r["total_chars"],
                r["mean_chars"],
            )
            for r in a17.curation_boilerplate_cluster_report(
                spark, sf
            ).collect()
        }
        assert got == want, (sf, got, want)


def test_streaming_pareto_equals_batch(spark):
    """The streamed per-user counts must feed the IDENTICAL Lorenz
    decile table as the batch query (shared pareto_tail), row-for-row,
    with >= 3 micro-batches pinned."""
    from lua_mapreduce_spark.operators import analytics16 as a16
    from lua_mapreduce_spark.operators import streaming_ops as so
    from lua_mapreduce_spark.streaming import stateful

    for sf in (SF_SMALL, SF_MEDIUM):
        batch = sorted(
            tuple(r)
            for r in a16.events_power_users_pareto(spark, sf).collect()
        )
        streamed = sorted(
            tuple(r)
            for r in so.QUERIES["streaming_pareto_snapshot"](
                spark, sf
            ).collect()
        )
        assert streamed == batch, sf
        assert stateful.LAST_DRAIN_NUM_BATCHES >= 3, sf


# --------------------------------------------------------------------------
# Round-14 sixth wave: §7.4 items 45-48 pulled forward
# --------------------------------------------------------------------------


def test_katz_matches_python_replay(spark):
    """Katz scores must equal a pure-Python truncated walk-counting
    replay with the same dyadic scaling, and dominate 2^K - weighting
    invariants (every node with an in-edge scores >= 2^(K-1))."""
    from lua_mapreduce_spark.operators import graph

    for sf in (SF_SMALL, SF_MEDIUM):
        edges = [
            (r["src"], r["dst"]) for r in graph._scc_edges(spark, sf).collect()
        ]
        nodes = sorted({n for e in edges for n in e})
        K = graph._KATZ_K
        w = {n: 1 for n in nodes}
        score = {n: 0 for n in nodes}
        for k in range(1, K + 1):
            nw = {n: 0 for n in nodes}
            for u, v in edges:
                nw[v] += w[u]
            w = nw
            for n in nodes:
                score[n] += (1 << (K - k)) * w[n]
        got = {
            r["node"]: r["katz_scaled"]
            for r in graph.graph_katz_centrality(spark, sf).collect()
        }
        assert got == score, (sf, got, score)
        with_in = {v for _, v in edges}
        for n in with_in:
            assert got[n] >= 1 << (K - 1), (sf, n)


def test_precision_audit_matches_python_replay(spark):
    """Per-band confusion counts must equal a pure-Python replay over
    the engine's own candidate pairs (signature match counts + exact
    Jaccard from shingle sets), and precision must be monotone
    non-decreasing in the signature band on the fixtures."""
    import re as _re

    import duckdb

    from lua_mapreduce_spark.operators import analytics18 as a18
    from lua_mapreduce_spark.operators.dedup import (
        _JACCARD_THRESHOLD,
        _match_sum_expr,
        _banded_keys,
        _minhash_signatures,
    )
    from pyspark.sql import functions as F

    gate = int(_JACCARD_THRESHOLD * 1000)
    for sf in (SF_SMALL, SF_MEDIUM):
        mh = _minhash_signatures(spark, sf)
        banded = _banded_keys(mh)
        a, b = banded.alias("a"), banded.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
            .collect()
        )
        sigs = {
            r["doc_id"]: (set(r["shingles"]), [r[f"m{i}"] for i in range(32)])
            for r in mh.collect()
        }
        want: dict[int, list[int]] = {}
        for r in cands:
            sa, ma = sigs[r["doc_a"]]
            sb, mb = sigs[r["doc_b"]]
            s = sum(1 for x, y in zip(ma, mb) if x == y)
            inter = len(sa & sb)
            j = inter * 1000 // (len(sa) + len(sb) - inter)
            band = s // a18._NPA_BAND_W
            cell = want.setdefault(band, [0, 0])
            cell[0] += 1
            cell[1] += 1 if j >= gate else 0
        rows = sorted(
            a18.curation_near_dup_precision_audit(spark, sf).collect(),
            key=lambda r: r["sig_band"],
        )
        got = {
            r["sig_band"]: [r["n_pairs"], r["n_true"]] for r in rows
        }
        assert got == want, (sf, got, want)
        precs = [r["precision_permille"] for r in rows]
        assert precs == sorted(precs), (sf, precs)


def test_burst_episodes_match_python_replay(spark):
    """Burst episodes must equal a pure-Python trailing-mean replay:
    same dense per-type hour grid (zero-count hours gap-filled inside
    each type's span — the r15 wall-clock-trailing-day fix), same
    integer cross-multiplication threshold, same full-window guard,
    same island grouping."""
    import duckdb

    from lua_mapreduce_spark.operators import analytics18 as a18

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        recs = con.execute(
            f"""SELECT event_type,
                       CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
                       COUNT(*) AS cnt
                FROM '{sf}/events.parquet' GROUP BY 1, 2
                ORDER BY 1, 2"""
        ).fetchall()
        series: dict[str, list[tuple[int, int]]] = {}
        for t, hr, cnt in recs:
            series.setdefault(t, []).append((hr, cnt))
        # densify each type's hour grid inside its own span (the r15
        # wall-clock trailing-day semantics)
        for t, rows_ in series.items():
            by_hr = dict(rows_)
            lo, hi = rows_[0][0], rows_[-1][0]
            series[t] = [(h, by_hr.get(h, 0)) for h in range(lo, hi + 1)]
        want = {}
        W, Q = a18._KB_WIN, a18._KB_Q
        for t, rows_ in series.items():
            flagged = []
            for i, (hr, cnt) in enumerate(rows_):
                trail = rows_[max(0, i - W) : i]
                if len(trail) == W and cnt * W > Q * sum(c for _, c in trail):
                    flagged.append((hr, cnt))
            # islands over flagged hour sequence
            for j, (hr, cnt) in enumerate(flagged):
                iid = hr - (j + 1)
                key = (t, iid)
                if key not in want:
                    want[key] = [hr, hr, 0, 0, 0]
                w = want[key]
                w[0] = min(w[0], hr)
                w[1] = max(w[1], hr)
                w[2] += 1
                w[3] = max(w[3], cnt)
                w[4] += cnt
        want_set = {
            (t, *vals) for (t, _), vals in
            ((k, tuple(v)) for k, v in want.items())
        }
        got_set = {
            (
                r["event_type"],
                r["start_hr"],
                r["end_hr"],
                r["n_hours"],
                r["peak_count"],
                r["total_events"],
            )
            for r in a18.events_burst_detection_kleinberg_lite(
                spark, sf
            ).collect()
        }
        assert got_set == want_set, (sf, len(got_set), len(want_set))


def test_anchor_profile_matches_python_replay(spark):
    """Top-bigram positional thirds must equal a pure-Python replay,
    and front + middle + back must sum to n_occ on every row."""
    import re as _re

    import duckdb

    from lua_mapreduce_spark.operators import analytics18 as a18

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        texts = [
            t
            for (t,) in con.execute(
                f"SELECT text FROM '{sf}/documents.parquet'"
            ).fetchall()
        ]
        occ: dict[str, list[int]] = {}
        for t in texts:
            toks = [w.lower() for w in _re.findall(r"[A-Za-z]+", t)]
            if len(toks) < 2:
                continue
            n_bg = len(toks) - 1
            for i in range(n_bg):
                bg = f"{toks[i]} {toks[i+1]}"
                occ.setdefault(bg, []).append(3 * i // n_bg)
        top = sorted(occ, key=lambda b: (-len(occ[b]), b))[: a18._ANP_TOPK]
        want = {}
        for bg in top:
            thirds = occ[bg]
            want[bg] = (
                len(thirds),
                sum(1 for x in thirds if x == 0),
                sum(1 for x in thirds if x == 1),
                sum(1 for x in thirds if x == 2),
            )
        got = {}
        for r in a18.text_anchor_ngram_profile(spark, sf).collect():
            got[r["bigram"]] = (
                r["n_occ"],
                r["n_front"],
                r["n_middle"],
                r["n_back"],
            )
            assert r["n_front"] + r["n_middle"] + r["n_back"] == r["n_occ"]
            assert r["front_permille"] == r["n_front"] * 1000 // r["n_occ"]
        assert got == want, sf


# --------------------------------------------------------------------------
# Round-14 seventh wave: §7.4 items 49-52 pulled forward
# --------------------------------------------------------------------------


def test_simrank_lite_matches_python_replay(spark):
    """One-iteration SimRank scores must equal a pure-Python in-neighbor
    replay with the dyadic C = 1/2 truncation."""
    from lua_mapreduce_spark.operators import graph

    for sf in (SF_SMALL, SF_MEDIUM):
        edges = [
            (r["src"], r["dst"]) for r in graph._scc_edges(spark, sf).collect()
        ]
        inn: dict[str, set[str]] = {}
        for s, d in edges:
            inn.setdefault(d, set()).add(s)
        nodes = sorted(inn)
        want = {}
        for i, u in enumerate(nodes):
            for v in nodes[i + 1 :]:
                c = len(inn[u] & inn[v])
                if c == 0:
                    continue
                want[(u, v)] = (
                    c,
                    len(inn[u]),
                    len(inn[v]),
                    500 * c // (len(inn[u]) * len(inn[v])),
                )
        got = {
            (r["node_a"], r["node_b"]): (
                r["n_common_in"],
                r["indeg_a"],
                r["indeg_b"],
                r["simrank_permille"],
            )
            for r in graph.graph_node_similarity_simrank_lite(
                spark, sf
            ).collect()
        }
        assert got == want, (sf, got, want)


def test_quota_executor_identities(spark):
    """Per source: exactly one 'cut' doc (when the quota is exceeded at
    all), take-mass <= quota < take+cut mass, decisions partition the
    corpus, and the quota column matches the allocation query."""
    from lua_mapreduce_spark.operators import analytics14 as a14
    from lua_mapreduce_spark.operators import analytics19 as a19

    for sf in (SF_SMALL, SF_MEDIUM):
        quota = {
            r["source"]: r["quota_tokens"]
            for r in a14.curation_token_budget_allocation(
                spark, sf
            ).collect()
        }
        rows = a19.curation_quota_sampling_executor(spark, sf).collect()
        by_src: dict[str, list] = {}
        for r in rows:
            by_src.setdefault(r["source"], []).append(r)
            assert r["quota_tokens"] == quota[r["source"]], sf
        n_docs = sum(len(v) for v in by_src.values())
        import duckdb

        con = duckdb.connect()
        (n_corpus,) = con.execute(
            f"SELECT COUNT(*) FROM '{sf}/documents.parquet'"
        ).fetchone()
        assert n_docs == n_corpus, sf
        for src, rs in by_src.items():
            rs.sort(key=lambda r: r["rn"])
            cuts = [r for r in rs if r["decision"] == "cut"]
            takes = [r for r in rs if r["decision"] == "take"]
            take_mass = sum(r["n_tok"] for r in takes)
            assert take_mass <= quota[src], (sf, src)
            if cuts:
                assert len(cuts) == 1, (sf, src)
                assert take_mass + cuts[0]["n_tok"] > quota[src], (sf, src)
            # decisions are monotone: take* cut? skip*
            pattern = "".join(
                {"take": "t", "cut": "c", "skip": "s"}[r["decision"]]
                for r in rs
            )
            assert "st" not in pattern and "ct" not in pattern and "sc" not in pattern, (sf, src, pattern)


def test_dup_sentence_mass_matches_python_replay(spark):
    """Per-doc duplicated-chunk counts and mass must equal a pure-Python
    chunk-hash replay (W-token non-overlapping windows, tail ignored)."""
    import re as _re

    import duckdb

    from lua_mapreduce_spark.operators import analytics19 as a19

    W = a19._DSM_W
    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        docs = dict(
            con.execute(
                f"SELECT doc_id, text FROM '{sf}/documents.parquet'"
            ).fetchall()
        )
        chunks: dict[int, list[str]] = {}
        counts: dict[str, int] = {}
        n_toks = {}
        for d, t in docs.items():
            toks = [w.lower() for w in _re.findall(r"[A-Za-z]+", t)]
            if len(toks) < W:
                continue
            n_toks[d] = len(toks)
            cl = [
                " ".join(toks[c * W : c * W + W])
                for c in range(len(toks) // W)
            ]
            chunks[d] = cl
            for c in cl:
                counts[c] = counts.get(c, 0) + 1
        want = {}
        for d, cl in chunks.items():
            dup = sum(1 for c in cl if counts[c] >= 2)
            want[d] = (
                n_toks[d],
                len(cl),
                dup,
                dup * W,
                dup * W * 1000 // n_toks[d],
            )
        got = {
            r["doc_id"]: (
                r["n_tokens"],
                r["n_chunks"],
                r["n_dup_chunks"],
                r["dup_token_mass"],
                r["dup_mass_permille"],
            )
            for r in a19.text_duplicate_sentence_mass(spark, sf).collect()
        }
        assert got == want, sf


def test_streaming_burst_equals_batch(spark):
    """The streamed hourly state must feed the IDENTICAL burst-episode
    report as the batch query (shared burst_tail), row-for-row, with
    >= 3 micro-batches pinned."""
    from lua_mapreduce_spark.operators import analytics18 as a18
    from lua_mapreduce_spark.operators import streaming_ops as so
    from lua_mapreduce_spark.streaming import stateful

    for sf in (SF_SMALL, SF_MEDIUM):
        batch = sorted(
            tuple(r)
            for r in a18.events_burst_detection_kleinberg_lite(
                spark, sf
            ).collect()
        )
        streamed = sorted(
            tuple(r)
            for r in so.QUERIES["streaming_burst_monitor"](
                spark, sf
            ).collect()
        )
        assert streamed == batch, sf
        assert stateful.LAST_DRAIN_NUM_BATCHES >= 3, sf


# --------------------------------------------------------------------------
# Round-14 eighth wave: §7.4 items 53-56 pulled forward
# --------------------------------------------------------------------------


def test_adamic_adar_matches_python_replay(spark):
    """AA scores (doubling-bucket degree weights) must equal a pure-
    Python replay, and low-degree common neighbors must weigh more."""
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
                score = sum(
                    graph._AA_SCALE // len(nbr[w]).bit_length()
                    for w in commons
                )
                want[(u, v)] = (len(commons), score)
        order = sorted(want, key=lambda p: (-want[p][1], p))
        topk = set(order[: graph._AA_TOPK])
        got = {
            (r["node_a"], r["node_b"]): (
                r["n_common"],
                r["aa_milli"],
                r["is_predicted"],
            )
            for r in graph.graph_adamic_adar_prediction(spark, sf).collect()
        }
        assert got == {p: (*v, p in topk) for p, v in want.items()}, sf


def test_dataset_diff_identities(spark):
    """The tall diff must satisfy internal identities: lang and source
    sections each sum to the per-version corpus counts, the corpus
    section's n_docs row matches, vocab_size deltas reconcile with
    new/retired words, and every delta = v2 - v1."""
    from lua_mapreduce_spark.operators import analytics20 as a20

    for sf in (SF_SMALL, SF_MEDIUM):
        rows = a20.curation_dataset_diff_report(spark, sf).collect()
        by = {}
        for r in rows:
            by[(r["section"], r["key"])] = (r["v1_value"], r["v2_value"])
            assert r["delta"] == r["v2_value"] - r["v1_value"]
        t1, t2 = by[("corpus", "n_docs")]
        for sec in ("lang", "source"):
            s1 = sum(v1 for (s, _), (v1, _) in by.items() if s == sec)
            s2 = sum(v2 for (s, _), (_, v2) in by.items() if s == sec)
            assert (s1, s2) == (t1, t2), (sf, sec)
        n1, n2 = by[("vocab", "vocab_size")]
        new = by[("vocab", "vocab_new_words")][1]
        ret = by[("vocab", "vocab_retired_words")][0]
        # n2 = n1 - retired + new
        assert n2 == n1 - ret + new, sf
        d1, d2 = by[("corpus", "n_exact_dup_docs")]
        assert 0 <= d1 <= t1 and 0 <= d2 <= t2, sf


def test_session_depth_funnel_matches_python_replay(spark):
    """Bucketed session depth x conversion must equal a pure-Python
    gap-sessionization replay."""
    import duckdb

    from lua_mapreduce_spark.operators import analytics20 as a20

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        recs = con.execute(
            f"""SELECT user_id, epoch(ts), event_id, event_type
                FROM '{sf}/events.parquet'
                ORDER BY user_id, ts, event_id"""
        ).fetchall()
        gap = a20._SDF_GAP_MIN * 60
        sessions: list[tuple[int, int]] = []  # (n_events, converted)
        cur_user = None
        prev_ts = None
        n = conv = 0
        for u, ts, _eid, et in recs:
            if u != cur_user or prev_ts is None or ts - prev_ts >= gap:
                if cur_user is not None and n:
                    sessions.append((n, conv))
                cur_user, n, conv = u, 0, 0
            n += 1
            conv = max(conv, 1 if et == "purchase" else 0)
            prev_ts = ts
        if n:
            sessions.append((n, conv))
        want: dict[int, list[int]] = {}
        for n_ev, cv in sessions:
            b = n_ev.bit_length()
            cell = want.setdefault(b, [0, 0, 0])
            cell[0] += 1
            cell[1] += n_ev
            cell[2] += cv
        got = {
            r["depth_bucket"]: [
                r["n_sessions"],
                r["total_events"],
                r["n_converting"],
            ]
            for r in a20.events_session_depth_funnel(spark, sf).collect()
        }
        assert got == want, (sf, got, want)


def test_idf_overlap_matches_python_replay(spark):
    """IDF-weighted overlap must equal a pure-Python replay, and for
    at least one source pair rank sources DIFFERENTLY than the
    unweighted shared-word count would (the informativeness weighting
    doing real work) OR the weighting must down-rank shared mass
    relative to totals."""
    import re as _re

    import duckdb

    from lua_mapreduce_spark.operators import analytics20 as a20

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        recs = con.execute(
            f"SELECT doc_id, source, text FROM '{sf}/documents.parquet'"
        ).fetchall()
        doc_words: dict[int, set[str]] = {}
        src_words: dict[str, set[str]] = {}
        for d, src, t in recs:
            ws = {w.lower() for w in _re.findall(r"[A-Za-z]+", t)}
            doc_words[d] = ws
            src_words.setdefault(src, set()).update(ws)
        n_docs = len(recs)
        df: dict[str, int] = {}
        for ws in doc_words.values():
            for w in ws:
                df[w] = df.get(w, 0) + 1
        ww = {w: (n_docs // d).bit_length() for w, d in df.items()}
        totals = {s: sum(ww[w] for w in v) for s, v in src_words.items()}
        srcs = sorted(src_words)
        want = {}
        for i, sa in enumerate(srcs):
            for sb in srcs[i + 1 :]:
                shared = src_words[sa] & src_words[sb]
                if not shared:
                    continue
                wsh = sum(ww[w] for w in shared)
                want[(sa, sb)] = (
                    len(shared),
                    wsh,
                    totals[sa],
                    totals[sb],
                    wsh * 1000 // min(totals[sa], totals[sb]),
                )
        got = {
            (r["source_a"], r["source_b"]): (
                r["n_shared_words"],
                r["w_shared"],
                r["w_total_a"],
                r["w_total_b"],
                r["weighted_overlap_permille"],
            )
            for r in a20.text_idf_weighted_overlap_sources(
                spark, sf
            ).collect()
        }
        assert got == want, sf
