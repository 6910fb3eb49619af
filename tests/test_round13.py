"""Round-13 operator tests: asymmetric MinHash containment (pure-Python
shingle replay), the IVF+PQ hybrid (brute-force quantized-L2 truth
replay + recall gates), Hilbert-curve keys (bijection / unit-step
adjacency / SQL-vs-Python replay / beats-z-order gate), and the dataset
card (internal-consistency invariants)."""

from __future__ import annotations

import math
import re

import duckdb

from lua_mapreduce_spark.operators import analytics8 as a8
from lua_mapreduce_spark.operators import analytics9 as a9
from lua_mapreduce_spark.operators import graph
from tests.conftest import SF_MEDIUM, SF_SMALL


# --------------------------------------------------------------------------
# text_minhash_containment
# --------------------------------------------------------------------------


def _py_shingles(text: str) -> set[str]:
    """The tokenizer + 3-gram shingle replay (texthash words_expr +
    dedup._shingle_arrays_df semantics): [A-Za-z]+ runs lowercased,
    distinct word-3-grams; docs with < 3 tokens have NO shingle set."""
    toks = [w.lower() for w in re.findall(r"[A-Za-z]+", text)]
    if len(toks) < 3:
        return set()
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def test_containment_matches_shingle_replay(spark):
    """For every reported candidate pair, the exact containments must
    equal a pure-Python shingle-set replay (independent of both the
    Spark array algebra and the DuckDB oracle), the estimate columns
    must be valid permilles, and near_subset must equal the 0.8 gate on
    the exact values — at both parity SFs."""
    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        docs = dict(
            con.execute(
                f"SELECT doc_id, text FROM '{sf}/documents.parquet'"
            ).fetchall()
        )
        sh = {d: _py_shingles(t) for d, t in docs.items()}
        rows = a8.text_minhash_containment(spark, sf).collect()
        assert rows, sf  # the fixture corpora always carry near-dups
        for r in rows:
            a_set, b_set = sh[r["doc_a"]], sh[r["doc_b"]]
            assert a_set and b_set, (sf, r)
            inter = len(a_set & b_set)
            assert r["cont_ab_permille"] == inter * 1000 // len(a_set), (sf, r)
            assert r["cont_ba_permille"] == inter * 1000 // len(b_set), (sf, r)
            for c in (
                "cont_ab_permille",
                "cont_ba_permille",
                "est_ab_permille",
                "est_ba_permille",
            ):
                assert 0 <= r[c] <= 1000, (sf, r, c)
            assert r["near_subset"] == (
                max(r["cont_ab_permille"], r["cont_ba_permille"]) >= a8._CONT_T
            ), (sf, r)


def test_containment_asymmetry_is_visible(spark):
    """The point of the asymmetric reading: candidate pairs with unequal
    set sizes must report cont_ab != cont_ba somewhere (a symmetric
    metric could not), and the signature estimate must track the exact
    value within a loose MinHash-variance band on average."""
    rows = a8.text_minhash_containment(spark, SF_MEDIUM).collect()
    assert any(
        r["cont_ab_permille"] != r["cont_ba_permille"] for r in rows
    ), "every pair symmetric — asymmetric reading untested by fixture"
    err = [
        abs(r["est_ab_permille"] - r["cont_ab_permille"]) for r in rows
    ] + [abs(r["est_ba_permille"] - r["cont_ba_permille"]) for r in rows]
    # 32-slot MinHash ~ 1/sqrt(32) ~ 18% std; candidates are high-J pairs
    # so the mean error sits well inside one std.
    assert sum(err) / len(err) <= 250, sum(err) / len(err)


# --------------------------------------------------------------------------
# sim_ivf_pq_hybrid
# --------------------------------------------------------------------------


def test_hybrid_truth_labels_and_recall(spark):
    """sim_ivf_pq_hybrid invariants: full 10x5 result, the in_true
    verdicts match an independent brute-force quantized-L2 top-K replay,
    per-query distances non-decreasing in rank, self never reported, and
    the compounded two-stage recall clears a floor (the IVF parent
    probes 5 of 8 cells and PQ@shortlist-50 recalls ~0.9, so the
    composition should keep a majority of the exact top-5)."""
    from lua_mapreduce_spark.operators.pq import _PQ_QUERIES, _PQ_TOP_K

    for sf in (SF_SMALL, SF_MEDIUM):
        rows = a8.sim_ivf_pq_hybrid(spark, sf).collect()
        assert len(rows) == _PQ_QUERIES * _PQ_TOP_K, sf
        con = duckdb.connect()
        raw = con.execute(
            f"SELECT vec_id, embedding FROM '{sf}/embeddings.parquet'"
        ).fetchall()
        # round() in _KM_QV is away-from-zero at .5 in both engines;
        # replicate exactly for negative components too
        grid = {
            vid: [
                int(math.floor(float(x) * 1e6 + 0.5))
                if x >= 0
                else -int(math.floor(-float(x) * 1e6 + 0.5))
                for x in v
            ]
            for vid, v in raw
        }
        truth = {}
        for qid in range(_PQ_QUERIES):
            qv = grid[qid]
            scored = sorted(
                (
                    (sum((a - b) * (a - b) for a, b in zip(qv, grid[v])), v)
                    for v in grid
                    if v != qid
                ),
            )[:_PQ_TOP_K]
            truth[qid] = {v for _, v in scored}
        n_hits = 0
        by_q: dict[int, list] = {}
        for r in rows:
            assert r["neighbor_id"] != r["query_id"], (sf, r)
            assert r["in_true"] == (
                r["neighbor_id"] in truth[r["query_id"]]
            ), (sf, r)
            n_hits += r["in_true"]
            by_q.setdefault(r["query_id"], []).append(
                (r["rank"], r["l2_dist"])
            )
        for qid, rs in by_q.items():
            ds = [d for _, d in sorted(rs)]
            assert all(a <= b for a, b in zip(ds, ds[1:])), (sf, qid)
        # measured 35/50 (sf0.001) and 36/50 (sf0.01) — floor just below
        assert n_hits >= 30, (sf, n_hits)


# --------------------------------------------------------------------------
# layout_hilbert_keys
# --------------------------------------------------------------------------


def _py_xy2d(bits: int, x: int, y: int) -> int:
    """The functional per-level Hilbert transform — the exact arithmetic
    _hilbert_levels emits as SQL, in Python."""
    d = 0
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx, ry = (x // s) % 2, (y // s) % 2
        if rx == 0 and ry == 0:
            q = 0
        elif rx == 0:
            q = 1
        elif ry == 1:
            q = 2
        else:
            q = 3
        d += s * s * q
        xl, yl = x % s, y % s
        if ry == 1:
            x, y = xl, yl
        elif rx == 1:
            x, y = s - 1 - yl, s - 1 - xl
        else:
            x, y = yl, xl
    return d


def test_hilbert_bijection_and_adjacency():
    """The Hilbert index must be a bijection on the 2^B x 2^B grid whose
    consecutive indices are ALWAYS unit-step grid neighbors — the
    locality property z-order lacks (Morton has 2^B-wide jumps) and the
    entire reason the query exists. Checked exhaustively at B=5."""
    bits = 5
    n = 1 << bits
    seen: dict[int, tuple[int, int]] = {}
    for x in range(n):
        for y in range(n):
            d = _py_xy2d(bits, x, y)
            assert 0 <= d < n * n
            assert d not in seen, (x, y, seen[d])
            seen[d] = (x, y)
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = seen[d], seen[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, (d, seen[d], seen[d + 1])


def test_hilbert_sql_matches_python_replay(spark):
    """The unrolled SQL chain must compute exactly _py_xy2d on every
    cell of a full small grid (B=4 -> 256 cells), driven through the
    REAL _hilbert_levels expressions via a Spark projection."""
    bits = 4
    side = 1 << bits
    df = (
        spark.range(side * side)
        .selectExpr(
            f"CAST(id DIV {side} AS BIGINT) AS hx",
            f"CAST(id % {side} AS BIGINT) AS hy",
            f"CAST(id DIV {side} AS BIGINT) AS x0",
            f"CAST(id % {side} AS BIGINT) AS y0",
            "CAST(0 AS BIGINT) AS hd",
        )
    )
    for d_term, x_next, y_next in a8._hilbert_levels(bits, "DIV"):
        df = df.selectExpr(
            "x0", "y0",
            f"hd + {d_term} AS hd",
            f"{x_next} AS hx",
            f"{y_next} AS hy",
        )
    got = {(r["x0"], r["y0"]): r["hd"] for r in df.collect()}
    for x in range(side):
        for y in range(side):
            assert got[(x, y)] == _py_xy2d(bits, x, y), (x, y)


def test_hilbert_zone_maps_sound_and_beat_zorder(spark):
    """Zone maps must be sound (scanned upper bound >= exact selected
    rows for every (layout, dim, pred)), both layouts must probe the
    same predicate set, and Hilbert's total provable skips must be
    STRICTLY greater than z-order's on the same data — measured 798 vs
    776 (sf0.001) and 768 vs 752 (sf0.01) at the non-dyadic 48-file
    layout (see the _HC_FILES comment: power-of-two file counts make
    the curves tie on dyadic rectangles)."""
    for sf in (SF_SMALL, SF_MEDIUM):
        rows = a8.layout_hilbert_keys(spark, sf).collect()
        assert len(rows) == 2 * 2 * a8._HC_PREDS, sf
        skips = {"hilbert": 0, "zorder": 0}
        for r in rows:
            assert r["rows_scanned_ub"] >= r["rows_selected"], (sf, r)
            assert 0 <= r["n_skipped"] <= r["n_files"], (sf, r)
            skips[r["layout"]] += r["n_skipped"]
        assert skips["hilbert"] > skips["zorder"], (sf, skips)


# --------------------------------------------------------------------------
# curation_dataset_card
# --------------------------------------------------------------------------


def test_dataset_card_internal_consistency(spark):
    """The card's sections must agree with each other: the lang and
    source mixes each sum to n_docs, the decile boundaries are
    monotone and within the n_chars domain, the dup and contamination
    counts respect their denominators, and the permille rows equal
    their recomputation from the count rows."""
    for sf in (SF_SMALL, SF_MEDIUM):
        rows = a8.curation_dataset_card(spark, sf).collect()
        card: dict[tuple[str, str], int] = {
            (r["section"], r["metric"]): r["value"] for r in rows
        }
        n_docs = card[("corpus", "n_docs")]
        assert n_docs > 0, sf
        lang_sum = sum(
            v for (s, _), v in card.items() if s == "lang_mix"
        )
        source_sum = sum(
            v for (s, _), v in card.items() if s == "source_mix"
        )
        assert lang_sum == n_docs, (sf, lang_sum, n_docs)
        assert source_sum == n_docs, (sf, source_sum, n_docs)
        deciles = [
            card[("length_decile", f"d{k}")]
            for k in range(1, a8._DC_DECILES + 1)
        ]
        assert deciles == sorted(deciles), (sf, deciles)
        con = duckdb.connect()
        lo, hi = con.execute(
            f"SELECT MIN(n_chars), MAX(n_chars) FROM '{sf}/documents.parquet'"
        ).fetchone()
        assert lo <= deciles[0] and deciles[-1] <= hi, (sf, deciles, lo, hi)
        n_dup = card[("dedup", "n_exact_dup_docs")]
        assert 0 <= n_dup < n_docs, (sf, n_dup)
        assert card[("dedup", "dup_permille")] == n_dup * 1000 // n_docs
        n_bench = card[("decontamination", "n_bench_docs")]
        n_cont = card[("decontamination", "n_contaminated_docs")]
        assert 0 < n_bench < n_docs, (sf, n_bench)
        assert 0 <= n_cont <= n_docs - n_bench, (sf, n_cont)
        assert card[("decontamination", "contaminated_permille")] == (
            n_cont * 1000 // (n_docs - n_bench)
        )
        assert card[("corpus", "n_tokens")] > 0
        assert card[("corpus", "sum_chars")] > 0


# --------------------------------------------------------------------------
# agg_hll_sketch (second wave)
# --------------------------------------------------------------------------


def test_hll_registers_match_python_replay(spark):
    """The register construction, the merge, the harmonic-mean estimate
    and the error column must all equal a pure-Python replay of the md5
    bit arithmetic and the register-ascending dyadic fold — at both
    parity SFs."""
    import hashlib

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        parts = [
            r[0]
            for r in con.execute(
                f"SELECT l_partkey FROM '{sf}/lineitem.parquet'"
            ).fetchall()
        ]
        regs: dict[str, dict[int, int]] = {}
        exact: dict[str, set[int]] = {}
        wbits = a9._HLL_WBITS
        for pk in parts:
            h = int(hashlib.md5(f"hll-{pk}".encode()).hexdigest()[:15], 16)
            j, w = h >> wbits, h % (1 << wbits)
            rank = (wbits + 1) if w == 0 else wbits - w.bit_length() + 1
            name = f"bucket_{pk % 3}"
            regs.setdefault(name, {})
            regs[name][j] = max(regs[name].get(j, 0), rank)
            exact.setdefault(name, set()).add(pk)
        regs["merged"] = {}
        for name in list(exact):
            for j, r in regs[name].items():
                regs["merged"][j] = max(regs["merged"].get(j, 0), r)
        exact["merged"] = set().union(*exact.values())

        def est(rd: dict[int, int]) -> int:
            s = float(a9._HLL_M - len(rd))
            for j in sorted(rd):
                s += 1.0 / float(1 << rd[j])
            return math.floor(a9._HLL_ALPHA * a9._HLL_M * a9._HLL_M / s)

        rows = {r["set_name"]: r for r in a9.agg_hll_sketch(spark, sf).collect()}
        assert set(rows) == set(regs), sf
        for name, r in rows.items():
            e_n = len(exact[name])
            assert r["n_regs"] == len(regs[name]), (sf, name)
            assert r["exact_n"] == e_n, (sf, name)
            assert r["est_n"] == est(regs[name]), (sf, name)
            assert r["err_permille"] == abs(r["est_n"] - e_n) * 1000 // e_n
        # the three buckets are disjoint: exact counts sum to the merge
        assert (
            sum(rows[f"bucket_{b}"]["exact_n"] for b in range(3))
            == rows["merged"]["exact_n"]
        ), sf
        # HLL at m=64 has ~13% relative std; 50% is a regression gate
        assert rows["merged"]["err_permille"] <= 500, (sf, rows["merged"])


# --------------------------------------------------------------------------
# graph_betweenness_centrality (second wave)
# --------------------------------------------------------------------------


def test_betweenness_matches_python_replay(spark):
    """Betweenness must equal an independent pure-Python replay: BFS
    shortest-path counting per source (Brandes' sigma recurrence walked
    forward) + the definitional per-(s,t) dependency with the SAME
    integer truncation, hop-bounded at _BC_HOPS like both engines."""
    from collections import deque

    for sf in (SF_SMALL, SF_MEDIUM):
        from lua_mapreduce_spark.operators.graph import _scc_edges

        edges = [
            (r["src"], r["dst"]) for r in _scc_edges(spark, sf).collect()
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
        want: dict[str, tuple[int, int]] = {v: (0, 0) for v in nodes}
        for (s, v), d_sv in dist.items():
            if s == v:
                continue
            for t in nodes:
                if t == s or t == v:
                    continue
                d_vt = dist.get((v, t))
                d_st = dist.get((s, t))
                if d_vt is None or d_st is None or d_vt == 0:
                    continue
                if d_sv + d_vt == d_st:
                    n, b = want[v]
                    want[v] = (
                        n + 1,
                        b + 1000 * sigma[(s, v)] * sigma[(v, t)] // sigma[(s, t)],
                    )
        got = {
            r["node"]: (r["n_pairs_through"], r["betweenness_milli"])
            for r in graph.graph_betweenness_centrality(spark, sf).collect()
        }
        assert got == want, (sf, {k: (got.get(k), want.get(k)) for k in got if got.get(k) != want.get(k)})


# --------------------------------------------------------------------------
# events_holt_winters (second wave)
# --------------------------------------------------------------------------


def test_holt_weights_match_impulse_response(spark):
    """The embedded steady-state weights must equal an INDEPENDENT
    derivation — feeding unit impulses through a direct implementation
    of the Holt recurrences (no matrix formulation) — and the collected
    rows must satisfy the forecast and residual identities against the
    raw hourly counts."""
    from fractions import Fraction

    a, b = a9._HW_ALPHA, a9._HW_BETA
    for k in range(a9._HW_DEPTH):
        # series: impulse at position 0, observed after k more steps
        lvl, tr = Fraction(0), Fraction(0)
        for i in range(k + 1):
            x = Fraction(1) if i == 0 else Fraction(0)
            new_lvl = a * x + (1 - a) * (lvl + tr)
            tr = b * (new_lvl - lvl) + (1 - b) * tr
            lvl = new_lvl
        assert lvl == a9._HW_WL[k], k
        assert tr == a9._HW_WT[k], k

    scale = 1 << a9._HW_SCALE
    for sf in (SF_SMALL, SF_MEDIUM):
        rows = a9.events_holt_winters(spark, sf).collect()
        assert rows, sf
        con = duckdb.connect()
        hourly = {
            (t, h): n
            for t, h, n in con.execute(
                f"""SELECT event_type,
                           CAST(floor(epoch(ts)) AS BIGINT) // 3600, COUNT(*)
                    FROM '{sf}/events.parquet' GROUP BY 1, 2"""
            ).fetchall()
        }
        series: dict[str, list[tuple[int, int]]] = {}
        for (t, h), n in hourly.items():
            series.setdefault(t, []).append((h, n))
        for t in series:
            series[t].sort()
        idx = {
            t: {h: i for i, (h, _) in enumerate(s)} for t, s in series.items()
        }
        for r in rows:
            assert r["forecast_scaled"] == r["level_scaled"] + r["trend_scaled"]
            s = series[r["event_type"]]
            i = idx[r["event_type"]][r["hr"]]
            lvl = sum(
                int(a9._HW_WL[k] * scale) * s[i - k][1]
                for k in range(a9._HW_DEPTH)
            )
            assert r["level_scaled"] == lvl, (sf, r)
            assert (
                r["residual_scaled"]
                == s[i + 1][1] * scale - r["forecast_scaled"]
            ), (sf, r)


# --------------------------------------------------------------------------
# text_rake_keywords (second wave)
# --------------------------------------------------------------------------


def test_rake_matches_python_replay(spark):
    """Top-k phrases must equal a pure-Python RAKE replay: stopword
    splitting, per-doc degree/frequency, per-word truncated permille
    scores, the same (score DESC, phrase, island) tie-break."""
    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        docs = con.execute(
            f"SELECT doc_id, text FROM '{sf}/documents.parquet'"
        ).fetchall()
        want: dict[int, list[tuple[int, str, int, int]]] = {}
        for doc_id, text in docs:
            toks = [w.lower() for w in re.findall(r"[A-Za-z]+", text)]
            phrases: list[list[str]] = []
            cur: list[str] = []
            for w in toks:
                if w in a9._RAKE_STOP:
                    if cur:
                        phrases.append(cur)
                    cur = []
                else:
                    cur.append(w)
            if cur:
                phrases.append(cur)
            freq: dict[str, int] = {}
            deg: dict[str, int] = {}
            for p in phrases:
                for w in p:
                    freq[w] = freq.get(w, 0) + 1
                    deg[w] = deg.get(w, 0) + len(p)
            scored = [
                (
                    -sum(deg[w] * 1000 // freq[w] for w in p),
                    " ".join(p),
                    i,
                    len(p),
                )
                for i, p in enumerate(phrases)
                if len(p) <= a9._RAKE_MAXLEN
            ]
            scored.sort()
            want[doc_id] = [
                (rank + 1, ph, k, -neg)
                for rank, (neg, ph, _, k) in enumerate(
                    scored[: a9._RAKE_TOPK]
                )
            ]
        got: dict[int, list[tuple[int, str, int, int]]] = {}
        for r in a9.text_rake_keywords(spark, sf).collect():
            got.setdefault(r["doc_id"], []).append(
                (r["rank"], r["phrase"], r["n_words"], r["score_milli"])
            )
        for d in got:
            got[d].sort()
        want = {d: v for d, v in want.items() if v}
        assert got == want, (
            sf,
            {d: (got.get(d), want.get(d)) for d in set(got) | set(want)
             if got.get(d) != want.get(d)},
        )


# --------------------------------------------------------------------------
# agg_quantile_bottomk_sketch (third wave)
# --------------------------------------------------------------------------


def test_bottomk_quantiles_match_python_replay(spark):
    """Sample selection (bottom-k by md5), order statistics, exact-rank
    witnesses and error columns must equal a pure-Python replay; the
    rank error must sit inside the sampling band (k=256 -> se <= ~3.1%
    at the median; 120 permille is ~4 sigma)."""
    import hashlib

    from lua_mapreduce_spark.operators import analytics10 as a10

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        rows = con.execute(
            f"""SELECT o_orderkey,
                       CAST(round(o_totalprice * 100.0) AS BIGINT)
                FROM '{sf}/orders.parquet'"""
        ).fetchall()
        hashed = sorted(
            (
                int(hashlib.md5(f"qbk-{k}".encode()).hexdigest()[:15], 16),
                c,
            )
            for k, c in rows
        )
        sample = sorted(
            (c, h) for h, c in hashed[: a10._QBK_K]
        )
        n = len(rows)
        got = {
            r["q_pct"]: r
            for r in a10.agg_quantile_bottomk_sketch(spark, sf).collect()
        }
        assert set(got) == set(a10._QBK_QS), sf
        for q in a10._QBK_QS:
            idx = (q * a10._QBK_K + 99) // 100
            est = sample[idx - 1][0]
            r = got[q]
            assert r["est_value_cents"] == est, (sf, q)
            exact_le = sum(1 for _, c in rows if c <= est)
            assert r["n_total"] == n and r["exact_le"] == exact_le, (sf, q)
            assert r["achieved_permille"] == exact_le * 1000 // n
            assert r["err_permille"] == abs(exact_le * 1000 // n - q * 10)
            assert r["err_permille"] <= 120, (sf, q, r)


# --------------------------------------------------------------------------
# sim_range_radius_search (third wave)
# --------------------------------------------------------------------------


def test_radius_search_matches_brute_force(spark):
    """Radii (exact k-th-neighbor distances), true in-radius counts and
    the found <= true soundness must match a brute-force quantized-grid
    replay; LSH recall must clear a floor at both parity SFs."""
    from lua_mapreduce_spark.operators import analytics10 as a10
    from lua_mapreduce_spark.operators.analytics6 import _KM_SCALE
    from lua_mapreduce_spark.operators.analytics7 import _NSW_Q

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        raw = con.execute(
            f"SELECT vec_id, embedding FROM '{sf}/embeddings.parquet'"
        ).fetchall()
        # the NSW substrate quantizes on the GLOBAL _KM_SCALE grid
        # (floor(v*SCALE + 0.5)), not the x1e6 _KM_QV grid
        grid = {
            vid: [
                int(math.floor(float(x) * _KM_SCALE + 0.5)) for x in v
            ]
            for vid, v in raw
        }
        got = {
            r["query_id"]: r
            for r in a10.sim_range_radius_search(spark, sf).collect()
        }
        assert set(got) == set(range(_NSW_Q)), sf
        for qid in range(_NSW_Q):
            qv = grid[qid]
            ds = sorted(
                (sum((a - b) * (a - b) for a, b in zip(qv, grid[v])), v)
                for v in grid
                if v != qid
            )
            radius = ds[a10._RR_K - 1][0]
            n_true = sum(1 for d, _ in ds if d <= radius)
            r = got[qid]
            assert r["radius"] == radius, (sf, qid)
            assert r["n_true"] == n_true, (sf, qid)
            assert 0 <= r["n_found"] <= r["n_true"], (sf, qid)
            assert r["recall_permille"] == r["n_found"] * 1000 // n_true
        total_recall = sum(r["n_found"] for r in got.values()) * 1000 // sum(
            r["n_true"] for r in got.values()
        )
        # the same tables' top-k recall is ~0.46 (sim_ann_multitable);
        # range recall at the 20-distance radius sits in the same band
        assert total_recall >= 200, (sf, total_recall)


# --------------------------------------------------------------------------
# events_seasonal_profile (third wave)
# --------------------------------------------------------------------------


def test_seasonal_profile_consistency(spark):
    """The profile must equal a DuckDB hourly replay: per (type, hod)
    observed-hour counts and totals, integer-milli means, exactly one
    peak per type at the argmax mean (ties to earliest hour)."""
    from lua_mapreduce_spark.operators import analytics10 as a10

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        hourly = con.execute(
            f"""SELECT event_type,
                       CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
                       COUNT(*) AS x
                FROM '{sf}/events.parquet' GROUP BY 1, 2"""
        ).fetchall()
        prof: dict[tuple[str, int], list[int]] = {}
        for t, hr, x in hourly:
            k = (t, hr % 24)
            prof.setdefault(k, [0, 0])
            prof[k][0] += 1
            prof[k][1] += x
        rows = a10.events_seasonal_profile(spark, sf).collect()
        peaks: dict[str, list[int]] = {}
        for r in rows:
            n_hours, total = prof[(r["event_type"], r["hod"])]
            assert r["n_hours"] == n_hours, (sf, r)
            assert r["total_events"] == total, (sf, r)
            assert r["mean_milli"] == total * 1000 // n_hours, (sf, r)
            if r["is_peak"]:
                peaks.setdefault(r["event_type"], []).append(r["hod"])
        for t, hods in peaks.items():
            assert len(hods) == 1, (sf, t, hods)
            best = max(
                (tot * 1000 // nh, -hod)
                for (tt, hod), (nh, tot) in prof.items()
                if tt == t
            )
            assert hods[0] == -best[1], (sf, t)
        assert set(peaks) == {t for (t, _) in prof}, sf


# --------------------------------------------------------------------------
# streaming_hll_distinct (third wave)
# --------------------------------------------------------------------------


def test_streaming_hll_constants_and_batches(spark):
    """The streaming HLL face must share the batch face's register
    geometry (the stateful module pins its own constants to stay
    import-cycle-free — this test is the pin), run >= 3 micro-batches,
    and land its estimates inside the raw-HLL band at the SF where the
    cardinality clears the small-range regime."""
    from lua_mapreduce_spark.operators import streaming_ops as so
    from lua_mapreduce_spark.streaming import stateful

    assert stateful._HLL_SM == a9._HLL_M
    assert stateful._HLL_SWBITS == a9._HLL_WBITS
    rows = so.streaming_hll_distinct(spark, SF_MEDIUM).collect()
    assert stateful.LAST_DRAIN_NUM_BATCHES >= 3
    assert len(rows) == 5
    for r in rows:
        assert r["exact_distinct"] > 0
        # sf0.01: 150 distinct users ~ 2.3x m — raw estimator regime;
        # measured 33-113 permille, gate at 4x the 1.04/sqrt(64) band
        assert r["err_permille"] <= 500, r


# --------------------------------------------------------------------------
# events_retention_cohorts (fourth wave)
# --------------------------------------------------------------------------


def test_retention_cohorts_match_replay(spark):
    """The triangle must equal a pure-Python replay of weekly first-seen
    cohorts, and every cohort's offset-0 row must read exactly 1000
    permille (everyone is active in their first week)."""
    from lua_mapreduce_spark.operators import analytics10 as a10

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        uw = set(
            con.execute(
                f"""SELECT DISTINCT user_id,
                           CAST(floor(epoch(ts)) AS BIGINT) // {a10._RC_WEEK}
                    FROM '{sf}/events.parquet'"""
            ).fetchall()
        )
        first: dict[int, int] = {}
        for u, w in uw:
            first[u] = min(first.get(u, w), w)
        sizes: dict[int, int] = {}
        for u, c in first.items():
            sizes[c] = sizes.get(c, 0) + 1
        act: dict[tuple[int, int], int] = {}
        for u, w in uw:
            k = (first[u], w - first[u])
            act[k] = act.get(k, 0) + 1
        want = {
            (c, o): (sizes[c], n, n * 1000 // sizes[c])
            for (c, o), n in act.items()
        }
        got = {
            (r["cohort_week"], r["offset_weeks"]): (
                r["n_cohort"],
                r["n_active"],
                r["retention_permille"],
            )
            for r in a10.events_retention_cohorts(spark, sf).collect()
        }
        assert got == want, sf
        for (c, o), (_, _, p) in got.items():
            if o == 0:
                assert p == 1000, (sf, c)


# --------------------------------------------------------------------------
# curation_quality_calibration (fourth wave)
# --------------------------------------------------------------------------


def test_calibration_matches_python_replay(spark):
    """Bins, predicted/observed rates, gaps and the ECE must equal a
    pure-Python replay of the percentile transform and the md5 noisy
    label, per lang, at both parity SFs."""
    import hashlib

    from lua_mapreduce_spark.operators import analytics10 as a10
    from lua_mapreduce_spark.operators.analytics7 import _EVAL_NOISE

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        docs = con.execute(
            f"SELECT doc_id, lang, n_chars FROM '{sf}/documents.parquet'"
        ).fetchall()
        by_lang: dict[str, list[tuple[int, int]]] = {}
        for doc_id, lang, n_chars in docs:
            by_lang.setdefault(lang, []).append((doc_id, n_chars))
        want: dict[tuple[str, int], tuple] = {}
        for lang, rows_l in by_lang.items():
            n_l = len(rows_l)
            total_l = sum(c for _, c in rows_l)
            cnt: dict[int, int] = {}
            for _, c in rows_l:
                cnt[c] = cnt.get(c, 0) + 1
            cum, cum_map = 0, {}
            for c in sorted(cnt):
                cum += cnt[c]
                cum_map[c] = cum
            bins: dict[int, list[int]] = {}
            for doc_id, c in rows_l:
                h = int(
                    hashlib.md5(f"cal-{doc_id}".encode()).hexdigest()[:15], 16
                )
                pos = (c + h % _EVAL_NOISE - _EVAL_NOISE // 2) * n_l > total_l
                pred = 1000 * cum_map[c] // n_l
                b = min(pred // 100, a10._CAL_BINS - 1)
                agg = bins.setdefault(b, [0, 0, 0])
                agg[0] += 1
                agg[1] += pred
                agg[2] += 1 if pos else 0
            rates = {
                b: (
                    n,
                    sp // n,
                    1000 * np_ // n,
                    abs(sp // n - 1000 * np_ // n),
                )
                for b, (n, sp, np_) in bins.items()
            }
            ece = sum(n * g for (n, _, _, g) in rates.values()) // sum(
                n for (n, _, _, _) in rates.values()
            )
            for b, (n, mp, ob, g) in rates.items():
                want[(lang, b)] = (n, mp, ob, g, ece)
        got = {
            (r["lang"], r["bin"]): (
                r["n_docs"],
                r["mean_pred_permille"],
                r["obs_permille"],
                r["gap_permille"],
                r["ece_permille"],
            )
            for r in a10.curation_quality_calibration(spark, sf).collect()
        }
        assert got == want, (
            sf,
            {k: (got.get(k), want.get(k)) for k in set(got) | set(want)
             if got.get(k) != want.get(k)},
        )


# --------------------------------------------------------------------------
# graph_bridge_edges (fourth wave)
# --------------------------------------------------------------------------


def test_bridges_match_bfs_exclusion_replay(spark):
    """is_bridge must equal the definitional per-edge BFS replay —
    (u,v) is a strong bridge iff v is unreachable from u without that
    edge — and both bridge and non-bridge classes must be non-empty at
    the parity SFs (otherwise the gate is vacuous)."""
    from collections import deque


    for sf in (SF_SMALL, SF_MEDIUM):
        edges = [
            (r["src"], r["dst"]) for r in graph._scc_edges(spark, sf).collect()
        ]
        got = {
            (r["src"], r["dst"]): r["is_bridge"]
            for r in graph.graph_bridge_edges(spark, sf).collect()
        }
        assert set(got) == set(edges), sf
        for u, v in edges:
            adj: dict[str, list[str]] = {}
            for s, d in edges:
                if (s, d) != (u, v):
                    adj.setdefault(s, []).append(d)
            seen = {u}
            dq = deque([u])
            while dq:
                x = dq.popleft()
                for y in adj.get(x, ()):
                    if y not in seen:
                        seen.add(y)
                        dq.append(y)
            assert got[(u, v)] == (v not in seen), (sf, u, v)
        vals = set(got.values())
        assert vals == {True, False}, (sf, vals)


# --------------------------------------------------------------------------
# text_zipf_fit (fourth wave)
# --------------------------------------------------------------------------


def test_zipf_profile_matches_replay(spark):
    """Doubling buckets, masses and mean rank*frequency products must
    equal a pure-Python unigram replay with the same (count DESC, word)
    rank tie-break; bucket masses must sum to ~1000 permille."""
    from lua_mapreduce_spark.operators import analytics10 as a10

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        texts = [
            t
            for (t,) in con.execute(
                f"SELECT text FROM '{sf}/documents.parquet'"
            ).fetchall()
        ]
        cnt: dict[str, int] = {}
        for t in texts:
            for w in re.findall(r"[A-Za-z]+", t):
                w = w.lower()
                cnt[w] = cnt.get(w, 0) + 1
        ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        n_tokens = sum(cnt.values())
        want: dict[int, list[int]] = {}
        for i, (w, c) in enumerate(ranked, start=1):
            b = i.bit_length()
            agg = want.setdefault(b, [0, 0, 10**18, 0, 0])
            agg[0] += 1
            agg[1] += c
            agg[2] = min(agg[2], i)
            agg[3] = max(agg[3], i)
            agg[4] += i * c
        got = {
            r["bucket"]: r for r in a10.text_zipf_fit(spark, sf).collect()
        }
        assert set(got) == set(want), sf
        for b, (nw, occ, mn, mx, rf) in want.items():
            r = got[b]
            assert r["n_words"] == nw and r["total_occ"] == occ, (sf, b)
            assert r["min_rank"] == mn and r["max_rank"] == mx, (sf, b)
            assert r["mass_permille"] == occ * 1000 // n_tokens, (sf, b)
            assert r["mean_rank_freq"] == rf // nw, (sf, b)
        assert 990 <= sum(r["mass_permille"] for r in got.values()) <= 1000


# --------------------------------------------------------------------------
# dedup_lsh_tuning_curve (fifth wave)
# --------------------------------------------------------------------------


def test_lsh_tuning_curve_shape_and_monotonicity(spark):
    """The tuning trade must be VISIBLE and internally consistent:
    candidate volume non-increasing as rows-per-band grows (the S-curve
    cost axis), found-pair counts within [0, union], the production
    8x4 config recovering most of the union, and every count consistent
    with the dedup_minhash_lsh family's verified pairs."""
    from lua_mapreduce_spark.operators import analytics11 as a11

    for sf in (SF_SMALL, SF_MEDIUM):
        rows = {
            r["config"]: r
            for r in a11.dedup_lsh_tuning_curve(spark, sf).collect()
        }
        assert set(rows) == {"16x2", "8x4", "4x8"}, sf
        union = {r["union_true"] for r in rows.values()}
        assert len(union) == 1 and union.pop() > 0, sf
        c16, c8, c4 = (
            rows["16x2"]["n_candidates"],
            rows["8x4"]["n_candidates"],
            rows["4x8"]["n_candidates"],
        )
        assert c16 >= c8 >= c4, (sf, c16, c8, c4)
        for r in rows.values():
            assert 0 <= r["n_true_found"] <= r["union_true"], (sf, r)
            assert r["n_true_found"] <= r["n_candidates"], (sf, r)
            assert r["recall_vs_union_permille"] == (
                r["n_true_found"] * 1000 // r["union_true"]
            )
        # 16x2's S-curve threshold ~0.18 makes it near-exhaustive at
        # J >= 0.6: it must recover the whole union at these SFs
        assert rows["16x2"]["n_true_found"] == rows["16x2"]["union_true"], sf
        # the production config must not be the degenerate loser
        assert rows["8x4"]["recall_vs_union_permille"] >= 500, (sf, rows["8x4"])


# --------------------------------------------------------------------------
# text_burstiness (fifth wave)
# --------------------------------------------------------------------------


def test_burstiness_matches_python_replay(spark):
    """VMR numerators and flags must equal a pure-Python replay of the
    per-document count statistics (zeros-included semantics via the
    N-normalized identity), and the corpus must show a bursty word so
    the flag is non-vacuous."""
    from lua_mapreduce_spark.operators import analytics11 as a11

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        docs = con.execute(
            f"SELECT doc_id, text FROM '{sf}/documents.parquet'"
        ).fetchall()
        n_docs = len(docs)
        per: dict[str, dict[int, int]] = {}
        for doc_id, text in docs:
            for w in re.findall(r"[A-Za-z]+", text):
                w = w.lower()
                per.setdefault(w, {})
                per[w][doc_id] = per[w].get(doc_id, 0) + 1
        got = {
            r["word"]: r for r in a11.text_burstiness(spark, sf).collect()
        }
        want_words = {
            w for w, m in per.items() if sum(m.values()) >= a11._BUR_MIN_TF
        }
        assert set(got) == want_words, sf
        for w in want_words:
            xs = list(per[w].values())
            tf, ss = sum(xs), sum(x * x for x in xs)
            r = got[w]
            assert r["n_docs_with"] == len(xs), (sf, w)
            assert r["tf"] == tf, (sf, w)
            vmr = (n_docs * ss - tf * tf) * 1000 // (n_docs * tf)
            assert r["vmr_milli"] == vmr, (sf, w)
            assert r["bursty"] == (
                (n_docs * ss - tf * tf) * 1000
                > a11._BUR_POISSON_MILLI * (n_docs * tf)
            ), (sf, w)
        assert any(r["bursty"] for r in got.values()), sf


# --------------------------------------------------------------------------
# graph_reciprocity_profile (fifth wave)
# --------------------------------------------------------------------------


def test_reciprocity_profile_matches_replay(spark):
    """Reciprocity and the joint degree buckets must equal a replay over
    the collected edge list; bucket node counts must sum to the node
    count."""

    for sf in (SF_SMALL, SF_MEDIUM):
        edges = {
            (r["src"], r["dst"]) for r in graph._scc_edges(spark, sf).collect()
        }
        n_recip = sum(1 for (u, v) in edges if (v, u) in edges)
        recip = n_recip * 1000 // len(edges)
        outd: dict[str, int] = {}
        ind: dict[str, int] = {}
        nodes = set()
        for u, v in edges:
            outd[u] = outd.get(u, 0) + 1
            ind[v] = ind.get(v, 0) + 1
            nodes.update((u, v))
        want: dict[tuple[int, int], int] = {}
        for x in nodes:
            k = (
                (outd.get(x, 0) + 1).bit_length(),
                (ind.get(x, 0) + 1).bit_length(),
            )
            want[k] = want.get(k, 0) + 1
        rows = graph.graph_reciprocity_profile(spark, sf).collect()
        got = {
            (r["out_bucket"], r["in_bucket"]): r["n_nodes"] for r in rows
        }
        assert got == want, (sf, got, want)
        assert all(r["reciprocity_permille"] == recip for r in rows), sf
        assert sum(got.values()) == len(nodes), sf


# --------------------------------------------------------------------------
# curation_length_filter_tuning (fifth wave)
# --------------------------------------------------------------------------


def test_length_filter_tuning_matches_replay(spark):
    """Every cutoff row must equal a pure-Python replay (survivors,
    token sums, within-survivor exact-dup counts), counts must be
    non-increasing in the cutoff, and the zero cutoff must equal the
    whole corpus."""
    from lua_mapreduce_spark.operators import analytics11 as a11

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        docs = con.execute(
            f"SELECT text, n_chars FROM '{sf}/documents.parquet'"
        ).fetchall()
        prepared = []
        for text, c in docs:
            fpv = re.sub(r"\s+", " ", text.lower()).strip()
            n_tok = len(re.findall(r"[A-Za-z]+", text))
            prepared.append((fpv, c, n_tok))
        got = {
            r["min_chars"]: r
            for r in a11.curation_length_filter_tuning(spark, sf).collect()
        }
        assert set(got) == set(a11._LFT_CUTOFFS), sf
        prev_docs = None
        for cut in a11._LFT_CUTOFFS:
            kept = [(f, c, t) for f, c, t in prepared if c >= cut]
            by_fp: dict[str, int] = {}
            for f, _, _ in kept:
                by_fp[f] = by_fp.get(f, 0) + 1
            n_dup = sum(n - 1 for n in by_fp.values() if n > 1)
            r = got[cut]
            assert r["n_docs"] == len(kept), (sf, cut)
            assert r["n_tokens"] == sum(t for _, _, t in kept), (sf, cut)
            assert r["n_exact_dup"] == n_dup, (sf, cut)
            if r["n_docs"]:
                assert r["dup_permille"] == n_dup * 1000 // len(kept)
            if prev_docs is not None:
                assert r["n_docs"] <= prev_docs, (sf, cut)
            prev_docs = r["n_docs"]
        assert got[0]["n_docs"] == len(prepared), sf


# --------------------------------------------------------------------------
# streaming_retention_snapshot (sixth wave)
# --------------------------------------------------------------------------


def test_streaming_retention_equals_batch(spark):
    """The streamed per-user (first_week, mask) state must produce
    EXACTLY the batch events_retention_cohorts rows at both parity SFs
    (>= 3 micro-batches pinned); the week constant must equal the batch
    face's, and every observed offset must fit the single-int64 mask."""
    from lua_mapreduce_spark.operators import analytics10 as a10
    from lua_mapreduce_spark.operators import streaming_ops as so
    from lua_mapreduce_spark.streaming import stateful

    assert stateful._RET_WEEK == a10._RC_WEEK
    for sf in (SF_SMALL, SF_MEDIUM):
        batch = sorted(
            tuple(r) for r in a10.events_retention_cohorts(spark, sf).collect()
        )
        streamed = sorted(
            tuple(r)
            for r in so.streaming_retention_snapshot(spark, sf).collect()
        )
        assert streamed == batch, sf
        assert stateful.LAST_DRAIN_NUM_BATCHES >= 3
        assert max(r[1] for r in batch) <= stateful._RET_MAX_OFF, sf


# --------------------------------------------------------------------------
# curation_source_overlap_matrix (sixth wave)
# --------------------------------------------------------------------------


def test_source_overlap_matches_replay(spark):
    """The matrix must equal a pure-Python fingerprint replay: ordered
    source pairs, shared-fingerprint counts, per-source totals and the
    min-normalized containment permille; diagonal rows are EXCLUDED
    (post-DISTINCT they carry no signal — r13 ADVICE)."""
    from lua_mapreduce_spark.operators import analytics12 as a12

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        docs = con.execute(
            f"SELECT text, source FROM '{sf}/documents.parquet'"
        ).fetchall()
        fs: set[tuple[str, str]] = set()
        for text, source in docs:
            fpv = re.sub(r"\s+", " ", text.lower()).strip()
            fs.add((fpv, source))
        by_src: dict[str, set[str]] = {}
        for f, src in fs:
            by_src.setdefault(src, set()).add(f)
        srcs = sorted(by_src)
        want = {}
        for i, sa in enumerate(srcs):
            for sb in srcs[i + 1 :]:
                shared = len(by_src[sa] & by_src[sb])
                if shared == 0:
                    continue
                want[(sa, sb)] = (
                    shared,
                    len(by_src[sa]),
                    len(by_src[sb]),
                    shared * 1000 // min(len(by_src[sa]), len(by_src[sb])),
                )
        got = {
            (r["source_a"], r["source_b"]): (
                r["n_shared_fp"],
                r["n_fp_a"],
                r["n_fp_b"],
                r["overlap_permille"],
            )
            for r in a12.curation_source_overlap_matrix(spark, sf).collect()
        }
        assert got == want, (sf, got, want)
        assert all(sa < sb for sa, sb in got), sf


# --------------------------------------------------------------------------
# events_inter_arrival_profile (sixth wave)
# --------------------------------------------------------------------------


def test_inter_arrival_profile_consistency(spark):
    """Bucket gap ranges must respect the doubling boundaries, per-type
    gap counts must sum to n_events - 1, the median must sit inside one
    of the type's buckets, and medians must match a DuckDB replay."""
    from lua_mapreduce_spark.operators import analytics12 as a12

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        n_per_type = dict(
            con.execute(
                f"""SELECT event_type, COUNT(*)
                    FROM '{sf}/events.parquet' GROUP BY 1"""
            ).fetchall()
        )
        rows = a12.events_inter_arrival_profile(spark, sf).collect()
        by_type: dict[str, list] = {}
        for r in rows:
            by_type.setdefault(r["event_type"], []).append(r)
            lo = (1 << (r["gap_bucket"] - 1)) - 1  # bin length b covers
            hi = (1 << r["gap_bucket"]) - 2  # gap+1 in [2^(b-1), 2^b)
            assert lo <= r["min_gap_sec"] <= r["max_gap_sec"] <= hi, (sf, r)
        for t, rs in by_type.items():
            assert sum(r["n_gaps"] for r in rs) == n_per_type[t] - 1, (sf, t)
            med = {r["median_gap_sec"] for r in rs}
            assert len(med) == 1, (sf, t)
            m = med.pop()
            assert any(
                r["min_gap_sec"] <= m <= r["max_gap_sec"] for r in rs
            ), (sf, t, m)


# --------------------------------------------------------------------------
# text_vocabulary_growth (sixth wave)
# --------------------------------------------------------------------------


def test_vocabulary_growth_matches_replay(spark):
    """The Heaps curve must equal a pure-Python replay over doc_id
    deciles; vocab and token counts must be non-decreasing; the final
    decile must cover the whole corpus; new_words must telescope to the
    final vocabulary size."""
    from lua_mapreduce_spark.operators import analytics12 as a12

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        docs = con.execute(
            f"SELECT doc_id, text FROM '{sf}/documents.parquet'"
        ).fetchall()
        mx = max(d for d, _ in docs) + 1
        toks = {
            d: [w.lower() for w in re.findall(r"[A-Za-z]+", t)]
            for d, t in docs
        }
        first: dict[str, int] = {}
        for d in sorted(toks):
            for w in toks[d]:
                if w not in first or d < first[w]:
                    first[w] = d
        got = sorted(
            (
                r["k"],
                r["n_docs"],
                r["n_tokens"],
                r["vocab_size"],
                r["new_words"],
            )
            for r in a12.text_vocabulary_growth(spark, sf).collect()
        )
        assert [g[0] for g in got] == list(range(1, a12._VG_STEPS + 1)), sf
        prev_v = 0
        for k, n_docs, n_tokens, vocab, new_words in got:
            cut = k * mx // a12._VG_STEPS
            assert n_docs == sum(1 for d in toks if d < cut), (sf, k)
            assert n_tokens == sum(
                len(ws) for d, ws in toks.items() if d < cut
            ), (sf, k)
            assert vocab == sum(1 for w, d in first.items() if d < cut), (
                sf,
                k,
            )
            assert new_words == vocab - prev_v, (sf, k)
            prev_v = vocab
        assert got[-1][1] == len(docs) and got[-1][3] == len(first), sf


# --------------------------------------------------------------------------
# streaming_seasonal_profile + text_ngram_novelty (seventh wave)
# --------------------------------------------------------------------------


def test_streaming_seasonal_equals_batch(spark):
    """The streamed hourly state must produce EXACTLY the batch
    events_seasonal_profile rows (shared seasonal_profile_tail — the
    cusum_argmax one-implementation convention) at both parity SFs,
    with >= 3 micro-batches."""
    from lua_mapreduce_spark.operators import analytics10 as a10
    from lua_mapreduce_spark.operators import streaming_ops as so
    from lua_mapreduce_spark.streaming import stateful

    for sf in (SF_SMALL, SF_MEDIUM):
        batch = sorted(
            tuple(r) for r in a10.events_seasonal_profile(spark, sf).collect()
        )
        streamed = sorted(
            tuple(r)
            for r in so.streaming_seasonal_profile(spark, sf).collect()
        )
        assert streamed == batch, sf
        assert stateful.LAST_DRAIN_NUM_BATCHES >= 3


def test_ngram_novelty_matches_replay(spark):
    """Per-doc novelty must equal a pure-Python shingle replay (3-gram
    distinct sets, corpus-order first-seen), the doc_id-0 doc (when
    present) must read 1000 permille, and the novelty mass must
    telescope: total novel shingles == the distinct shingle universe."""
    from lua_mapreduce_spark.operators import analytics12 as a12

    for sf in (SF_SMALL, SF_MEDIUM):
        con = duckdb.connect()
        docs = con.execute(
            f"SELECT doc_id, text FROM '{sf}/documents.parquet' ORDER BY doc_id"
        ).fetchall()
        sh = {d: _py_shingles(t) for d, t in docs}
        first: dict[str, int] = {}
        for d in sorted(sh):
            for g in sh[d]:
                if g not in first:
                    first[g] = d
        want = {}
        for d, gs in sh.items():
            if not gs:
                continue
            novel = sum(1 for g in gs if first[g] == d)
            want[d] = (len(gs), novel, novel * 1000 // len(gs))
        got = {
            r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty_permille"])
            for r in a12.text_ngram_novelty(spark, sf).collect()
        }
        assert got == want, sf
        min_doc = min(want)
        assert got[min_doc][2] == 1000, (sf, min_doc)
        assert sum(v[1] for v in got.values()) == len(first), sf
