"""Round-16 tests: the §7.4 items 61-64 newcomers (PII pattern scan,
local clustering coefficient, DAU/WAU stickiness, hapax richness by
source), each with an independent pure-Python replay, plus the r16
burst_tail corrupt-timestamp guard (negative test + semantics-free
pin)."""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
import re as _re

import duckdb
import pytest

from tests.conftest import SF_MEDIUM, SF_SMALL


def _docs(sf: str) -> list[tuple[int, str, str]]:
    return duckdb.sql(
        f"SELECT doc_id, source, text FROM '{sf}/documents.parquet'"
    ).fetchall()


_WORD_RE = _re.compile("[A-Za-z]+")


def _tokens(text: str) -> list[str]:
    return [w.lower() for w in _WORD_RE.findall(text)]


# --------------------------------------------------------------------------
# PII pattern scan
# --------------------------------------------------------------------------


def test_pii_patterns_are_re2_safe_and_mods_coprime():
    """The docstring promises: plain character classes + quantifiers only
    (no backslash escape can then diverge between Java regex, RE2 and
    Python re), and pairwise co-prime injection residues so family
    overlap is guaranteed to occur (the once-per-flag counting
    witness)."""
    from lua_mapreduce_spark.operators.analytics22 import (
        _PII_EMAIL_MOD,
        _PII_ID_MOD,
        _PII_PATTERNS,
        _PII_PHONE_MOD,
    )

    for _, pat in _PII_PATTERNS:
        assert "\\" not in pat, pat
        assert "(?" not in pat, pat  # no groups-with-flags / lookaround
    mods = [_PII_EMAIL_MOD, _PII_PHONE_MOD, _PII_ID_MOD]
    for i, a in enumerate(mods):
        for b in mods[i + 1 :]:
            assert math.gcd(a, b) == 1, (a, b)


def _pii_inject(doc_id: int, text: str) -> str:
    from lua_mapreduce_spark.operators.analytics22 import (
        _PII_EMAIL_MOD,
        _PII_ID_MOD,
        _PII_PHONE_MOD,
    )

    out = text
    if doc_id % _PII_EMAIL_MOD == 0:
        out += f" contact user{doc_id}@example.com"
    if doc_id % _PII_PHONE_MOD == 0:
        out += f" call 555-{doc_id % 1000:03d}-{doc_id % 10000:04d}"
    if doc_id % _PII_ID_MOD == 0:
        out += " session key " + hashlib.md5(str(doc_id).encode()).hexdigest()
    return out


def test_pii_pattern_scan_matches_python_replay(spark):
    """The full grid — flags, token masses, permilles — against a
    pure-Python re replay of the injection + scan, and the overlap
    witness: at least one doc must carry >= 2 flags (counted once PER
    FLAG, which the per-family doc sums verify implicitly)."""
    from lua_mapreduce_spark.operators import analytics22 as a22

    for sf in (SF_SMALL, SF_MEDIUM):
        per: dict[tuple[str, str], list[int]] = {}
        tot: dict[str, list[int]] = {}
        overlap = 0
        for doc_id, source, text in _docs(sf):
            n_tok = len(_tokens(text))
            pii = _pii_inject(doc_id, text)
            t = tot.setdefault(source, [0, 0])
            t[0] += 1
            t[1] += n_tok
            hits = 0
            for kind, pat in a22._PII_PATTERNS:
                cell = per.setdefault((source, kind), [0, 0])
                if _re.search(pat, pii):
                    cell[0] += 1
                    cell[1] += n_tok
                    hits += 1
            overlap += hits >= 2
        assert overlap > 0, "injection residues never overlapped"
        got = {
            (r["source"], r["pattern"]): r
            for r in a22.curation_pii_pattern_scan(spark, sf).collect()
        }
        assert set(got) == set(per)
        for (source, kind), (n_flagged, mass) in per.items():
            r = got[(source, kind)]
            n_docs, tot_tok = tot[source]
            assert r["n_flagged"] == n_flagged, (source, kind)
            assert r["flagged_token_mass"] == mass, (source, kind)
            assert r["n_docs"] == n_docs
            assert r["tot_tokens"] == tot_tok
            assert r["flagged_docs_permille"] == n_flagged * 1000 // n_docs
            assert r["flagged_tokens_permille"] == mass * 1000 // tot_tok


# --------------------------------------------------------------------------
# Local clustering coefficient
# --------------------------------------------------------------------------


def test_local_clustering_matches_python_replay(spark):
    """cc_permille per node against a pure-Python neighborhood replay
    over the same shared edge build; degree-<2 nodes must report NULL
    (not 0 — 'perfectly open' would be a claim, not a fact)."""
    from lua_mapreduce_spark.operators import graph

    for sf in (SF_SMALL, SF_MEDIUM):
        nbr: dict[str, set[str]] = {}
        for r in graph._scc_edges(spark, sf).collect():
            nbr.setdefault(r["src"], set()).add(r["dst"])
            nbr.setdefault(r["dst"], set()).add(r["src"])
        got = {
            r["node"]: r
            for r in graph.graph_local_clustering_coefficient(
                spark, sf
            ).collect()
        }
        assert set(got) == set(nbr)
        for v, ns in nbr.items():
            deg = len(ns)
            ns_sorted = sorted(ns)
            tri = sum(
                b in nbr[a]
                for i, a in enumerate(ns_sorted)
                for b in ns_sorted[i + 1 :]
            )
            r = got[v]
            assert r["degree"] == deg, v
            assert r["n_triangles"] == tri, v
            if deg >= 2:
                assert (
                    r["cc_permille"] == 2 * tri * 1000 // (deg * (deg - 1))
                ), v
            else:
                assert r["cc_permille"] is None, v


# --------------------------------------------------------------------------
# DAU/WAU stickiness
# --------------------------------------------------------------------------


def test_dau_wau_matches_python_replay(spark):
    """Weekly stickiness against a pure-Python replay from the raw
    parquet (naive wall-clock timestamps, Monday week-trunc) — the
    calendar-7 divisor convention means stickiness <= ~1000 with
    equality only if every user shows up every observed day of a full
    week."""
    from lua_mapreduce_spark.operators import analytics22 as a22

    for sf in (SF_SMALL, SF_MEDIUM):
        rows = duckdb.sql(
            f"SELECT ts, user_id FROM '{sf}/events.parquet'"
        ).fetchall()
        weeks: dict[str, dict[str, set[int]]] = {}
        for ts, user in rows:
            if isinstance(ts, int):  # ns-encoded generation
                ts = _dt.datetime.fromtimestamp(ts / 1e9, _dt.timezone.utc)
            d = ts.date()
            wk = (d - _dt.timedelta(days=d.weekday())).isoformat()
            weeks.setdefault(wk, {}).setdefault(d.isoformat(), set()).add(
                user
            )
        got = {
            r["week"]: r
            for r in a22.events_dau_wau_stickiness(spark, sf).collect()
        }
        assert set(got) == set(weeks)
        for wk, days in weeks.items():
            wau = len(set.union(*days.values()))
            sum_dau = sum(len(u) for u in days.values())
            r = got[wk]
            assert r["n_days"] == len(days), wk
            assert r["wau"] == wau, wk
            assert r["sum_dau"] == sum_dau, wk
            assert r["peak_dau"] == max(len(u) for u in days.values()), wk
            assert (
                r["stickiness_permille"] == sum_dau * 1000 // (7 * wau)
            ), wk
            assert r["stickiness_permille"] <= 1000


# --------------------------------------------------------------------------
# Hapax richness by source
# --------------------------------------------------------------------------


def test_hapax_richness_matches_python_replay(spark):
    """Per-source richness against a pure-Python type-table replay,
    plus the accounting identity n_hapax <= n_types <= n_tokens."""
    from collections import Counter

    from lua_mapreduce_spark.operators import analytics22 as a22

    for sf in (SF_SMALL, SF_MEDIUM):
        freqs: dict[str, Counter] = {}
        for _, source, text in _docs(sf):
            freqs.setdefault(source, Counter()).update(_tokens(text))
        got = {
            r["source"]: r
            for r in a22.text_hapax_richness_by_source(spark, sf).collect()
        }
        assert set(got) == set(freqs)
        for source, c in freqs.items():
            n_types = len(c)
            n_tokens = sum(c.values())
            n_hapax = sum(1 for v in c.values() if v == 1)
            r = got[source]
            assert r["n_types"] == n_types, source
            assert r["n_tokens"] == n_tokens, source
            assert r["n_hapax"] == n_hapax, source
            assert r["hapax_type_permille"] == n_hapax * 1000 // n_types
            assert r["type_token_permille"] == n_types * 1000 // n_tokens
            assert r["hapax_token_permille"] == n_hapax * 1000 // n_tokens
            assert n_hapax <= n_types <= n_tokens


# --------------------------------------------------------------------------
# _sd_fold order-contract enforcement (r16 fix)
# --------------------------------------------------------------------------


def test_sd_fold_raises_on_out_of_order_event():
    """An event earlier than the state's last seen time must raise —
    wiring the sessionizer to a non-contract source fails loudly
    instead of silently merging sessions (the r15 verdict's one scale
    caveat, now enforced in the fold itself)."""
    from lua_mapreduce_spark.streaming.stateful import _SD_GAP_US, _sd_fold

    # in-order folding still works (positive control)
    last, seq, n_ev, conv, touched = _sd_fold(
        -1, 0, 0, 0, [(100, False), (100 + _SD_GAP_US, True)]
    )
    assert seq == 2 and touched == {1: (1, 0), 2: (1, 1)}
    # cross-batch violation: next batch starts BEFORE the folded state
    with pytest.raises(ValueError, match="out-of-order"):
        _sd_fold(last, seq, n_ev, conv, [(last - 1, False)])
    # intra-batch violation is caught too (same compare)
    with pytest.raises(ValueError, match="out-of-order"):
        _sd_fold(-1, 0, 0, 0, [(200, False), (150, False)])
    # equal timestamps are NOT a violation (gap 0 < threshold)
    _, seq2, *_ = _sd_fold(-1, 0, 0, 0, [(200, False), (200, False)])
    assert seq2 == 1


# --------------------------------------------------------------------------
# burst_tail corrupt-timestamp guard (r16 fix)
# --------------------------------------------------------------------------


def test_burst_gap_guard_raises_on_corrupt_timestamp(spark):
    """A single per-type hour gap wider than _BT_MAX_FILL_HOURS (an
    epoch-0 / far-future timestamp) must raise loudly BEFORE the
    sequence explode materializes a billion-row grid."""
    from lua_mapreduce_spark.operators.analytics18 import (
        _BT_MAX_FILL_HOURS,
        burst_tail,
    )

    hourly = spark.createDataFrame(
        [("click", 0, 5), ("click", _BT_MAX_FILL_HOURS + 10, 7)],
        "event_type string, hr long, cnt long",
    )
    with pytest.raises(Exception, match="burst_tail"):
        burst_tail(hourly).collect()


def test_burst_gap_guard_semantics_free_below_threshold(spark):
    """At exactly the threshold the guard must NOT fire and the grid
    must densify as before (the guard changes no valid-data values)."""
    from lua_mapreduce_spark.operators.analytics18 import (
        _BT_MAX_FILL_HOURS,
        _KB_WIN,
        burst_tail,
    )

    # quiet run, then a gap of exactly the threshold, then a spike with
    # a full trailing window behind it
    rows = [("click", h, 1) for h in range(_KB_WIN + 1)]
    rows.append(("click", _KB_WIN + _BT_MAX_FILL_HOURS, 1))
    rows += [("click", _KB_WIN + _BT_MAX_FILL_HOURS + i, 1) for i in range(1, 25)]
    rows.append(("click", _KB_WIN + _BT_MAX_FILL_HOURS + 25, 500))
    hourly = spark.createDataFrame(
        rows, "event_type string, hr long, cnt long"
    )
    eps = burst_tail(hourly).collect()
    assert any(
        r["start_hr"] == _KB_WIN + _BT_MAX_FILL_HOURS + 25 for r in eps
    )


# --------------------------------------------------------------------------
# Second wave (§7.4 items 65-68)
# --------------------------------------------------------------------------


def test_eccentricity_matches_python_bfs_replay(spark):
    """ecc/diameter/radius against a pure-Python hop-capped BFS over the
    same shared edge build; out-degree-0 nodes must report NULL ecc and
    false flags."""
    from lua_mapreduce_spark.operators import graph

    for sf in (SF_SMALL, SF_MEDIUM):
        out: dict[str, set[str]] = {}
        nodes: set[str] = set()
        for r in graph._scc_edges(spark, sf).collect():
            out.setdefault(r["src"], set()).add(r["dst"])
            nodes |= {r["src"], r["dst"]}
        ecc: dict[str, tuple] = {}
        for s in nodes:
            dist = {s: 0}
            frontier = [s]
            for d in range(1, graph._CC_HOPS + 1):
                nxt = []
                for u in frontier:
                    for v in out.get(u, ()):
                        if v != s and v not in dist:
                            dist[v] = d
                            nxt.append(v)
                frontier = nxt
            reached = {v: d for v, d in dist.items() if v != s}
            ecc[s] = (len(reached), max(reached.values()) if reached else None)
        with_reach = [e for _, e in ecc.values() if e is not None]
        diameter, radius = max(with_reach), min(with_reach)
        got = {
            r["node"]: r
            for r in graph.graph_eccentricity_diameter(spark, sf).collect()
        }
        assert set(got) == nodes
        for v, (n_reached, e) in ecc.items():
            r = got[v]
            assert r["n_reached"] == n_reached, v
            assert r["ecc_hops"] == e, v
            assert r["diameter"] == diameter and r["radius"] == radius
            assert r["is_peripheral"] == (e == diameter), v
            assert r["is_central"] == (e == radius), v


def test_langid_confusion_matches_python_replay(spark):
    """The confusion grid against a pure-Python stopword-vote replay
    (same fixed tie-break order), plus grid accounting: row totals
    partition the corpus."""
    from lua_mapreduce_spark.operators import analytics23 as a23
    from lua_mapreduce_spark.operators.text import _STOPWORDS

    for sf in (SF_SMALL, SF_MEDIUM):
        grid: dict[tuple[str, str], int] = {}
        n_docs_total = 0
        rows = duckdb.sql(
            f"SELECT lang, text FROM '{sf}/documents.parquet'"
        ).fetchall()
        for lang, text in rows:
            toks = _tokens(text)
            votes = {
                lg: sum(1 for w in toks if w in set(ws))
                for lg, ws in _STOPWORDS.items()
            }
            best = max(votes.values())
            if best == 0:
                pred = "unknown"
            else:
                pred = next(lg for lg in _STOPWORDS if votes[lg] == best)
            grid[(lang, pred)] = grid.get((lang, pred), 0) + 1
            n_docs_total += 1
        got = {
            (r["true_lang"], r["pred_lang"]): r
            for r in a23.text_langid_confusion_matrix(spark, sf).collect()
        }
        assert set(got) == set(grid)
        assert sum(r["n_docs"] for r in got.values()) == n_docs_total
        for (tl, pl), n in grid.items():
            r = got[(tl, pl)]
            row_total = sum(v for (t2, _), v in grid.items() if t2 == tl)
            assert r["n_docs"] == n, (tl, pl)
            assert r["row_total"] == row_total
            assert r["row_permille"] == n * 1000 // row_total
            assert r["is_correct"] == (tl == pl)


def test_time_to_convert_matches_python_replay(spark):
    """Latency percentiles against a pure-Python replay with numpy's
    linear ((n-1)p) interpolation — the agg_percentiles convention both
    engines implement."""
    import numpy as np

    from lua_mapreduce_spark.operators import analytics23 as a23

    for sf in (SF_SMALL, SF_MEDIUM):
        rows = duckdb.sql(
            f"SELECT user_id, epoch_us(ts), event_type"
            f" FROM '{sf}/events.parquet'"
        ).fetchall()
        per_user: dict[int, dict] = {}
        for uid, us, et in rows:
            st = per_user.setdefault(
                uid, {"first": None, "view": None, "buy": None}
            )
            key = (f"{us:020d}", et)
            if st["first"] is None or key < st["first"]:
                st["first"] = key
            if et == "view" and (st["view"] is None or us < st["view"]):
                st["view"] = us
            if et == "purchase" and (st["buy"] is None or us < st["buy"]):
                st["buy"] = us
        groups: dict[str, list[int]] = {}
        for st in per_user.values():
            if st["view"] is not None and st["buy"] is not None and st["buy"] > st["view"]:
                groups.setdefault(st["first"][1], []).append(
                    (st["buy"] - st["view"]) // 1_000_000
                )
        got = {
            r["first_touch"]: r
            for r in a23.events_funnel_time_to_convert(spark, sf).collect()
        }
        assert set(got) == set(groups)
        for ft, deltas in groups.items():
            r = got[ft]
            arr = np.array(sorted(deltas), dtype=float)
            assert r["n_converts"] == len(deltas), ft
            assert r["min_s"] == min(deltas) and r["max_s"] == max(deltas)
            for p, col in ((0.5, "p50_s"), (0.9, "p90_s"), (0.99, "p99_s")):
                want = float(np.quantile(arr, p, method="linear"))
                assert abs(r[col] - want) < 1e-9, (ft, col)


def test_recall_report_matches_set_arithmetic(spark):
    """recall@k rows against the overlap of the composed plans' own
    outputs — the report must be exactly the set arithmetic over the
    three indexes it audits, and recall@5 >= recall@1 is NOT required
    (they measure different cuts) but every permille must be <= 1000
    and ivf/lsh must find most of the exact top-5 on this corpus."""
    from lua_mapreduce_spark.operators import analytics23 as a23
    from lua_mapreduce_spark.operators.similarity import (
        _N_QUERIES,
        sim_ann_multitable,
        sim_cosine_topk,
        sim_ivf_topk,
    )

    for sf in (SF_SMALL, SF_MEDIUM):
        exact = {
            (r["query_id"], r["neighbor_id"]): r["rank"]
            for r in sim_cosine_topk(spark, sf).collect()
        }
        approx = {
            "lsh_multitable": {
                (r["query_id"], r["neighbor_id"]): r["rank"]
                for r in sim_ann_multitable(spark, sf).collect()
            },
            "ivf": {
                (r["query_id"], r["neighbor_id"]): r["rank"]
                for r in sim_ivf_topk(spark, sf).collect()
            },
        }
        got = {
            (r["method"], r["k"]): r
            for r in a23.sim_recall_at_k_report(spark, sf).collect()
        }
        for method, ap in approx.items():
            for k in (1, 5):
                n_hits = sum(
                    1
                    for pair, ar in ap.items()
                    if ar <= k and exact.get(pair, 99) <= k
                )
                r = got[(method, k)]
                assert r["n_hits"] == n_hits, (method, k)
                assert r["n_possible"] == _N_QUERIES * k
                assert (
                    r["recall_permille"]
                    == n_hits * 1000 // (_N_QUERIES * k)
                )
                assert r["recall_permille"] <= 1000
        assert got[("ivf", 5)]["recall_permille"] >= 400


# --------------------------------------------------------------------------
# Third wave (§7.4 items 69-72)
# --------------------------------------------------------------------------


def test_split_leakage_matches_python_replay(spark):
    """The leakage grid against a pure-Python replay downstream of the
    shared signature relation: banding, candidate join, exact Jaccard,
    md5 split and the per-band rollup all recomputed independently."""
    from lua_mapreduce_spark.operators import analytics24 as a24
    from lua_mapreduce_spark.operators.analytics18 import _NPA_BAND_W
    from lua_mapreduce_spark.operators.dedup import (
        _BAND_ROWS,
        _JACCARD_THRESHOLD,
        _minhash_signatures,
        _N_BANDS,
        _N_HASHES,
    )

    gate = int(_JACCARD_THRESHOLD * 1000)

    def is_eval(doc_id: int) -> bool:
        h = int(
            hashlib.md5(f"split-{doc_id}".encode()).hexdigest()[:15], 16
        )
        return h % a24._SLA_EVAL_MOD == 0

    for sf in (SF_SMALL, SF_MEDIUM):
        mh = _minhash_signatures(spark, sf).collect()
        sig = {
            r["doc_id"]: [r[f"m{i}"] for i in range(_N_HASHES)] for r in mh
        }
        sh = {r["doc_id"]: set(r["shingles"]) for r in mh}
        buckets: dict[tuple[int, str], list[int]] = {}
        for d, ms in sig.items():
            for band in range(_N_BANDS):
                key = ",".join(
                    str(ms[band * _BAND_ROWS + r]) for r in range(_BAND_ROWS)
                )
                bh = hashlib.md5(key.encode()).hexdigest()
                buckets.setdefault((band, bh), []).append(d)
        cands = set()
        for docs_in in buckets.values():
            ds = sorted(docs_in)
            for i, x in enumerate(ds):
                for y in ds[i + 1 :]:
                    cands.add((x, y))
        grid: dict[int, list] = {}
        leaked_docs: dict[int, set[int]] = {}
        for x, y in cands:
            ex, ey = is_eval(x), is_eval(y)
            if ex == ey:
                continue
            s = sum(1 for i in range(_N_HASHES) if sig[x][i] == sig[y][i])
            band = s // _NPA_BAND_W
            inter = len(sh[x] & sh[y])
            leak = inter * 1000 // (len(sh[x]) + len(sh[y]) - inter) >= gate
            g = grid.setdefault(band, [0, 0])
            g[0] += 1
            g[1] += leak
            if leak:
                leaked_docs.setdefault(band, set()).add(x if ex else y)
        tok = {
            doc_id: len(_tokens(text)) for doc_id, _, text in _docs(sf)
        }
        got = {
            r["sig_band"]: r
            for r in a24.curation_split_leakage_audit(spark, sf).collect()
        }
        assert set(got) == set(grid)
        for band, (n_straddling, n_leaked) in grid.items():
            r = got[band]
            docs_l = leaked_docs.get(band, set())
            assert r["n_straddling"] == n_straddling, band
            assert r["n_leaked"] == n_leaked, band
            assert r["n_eval_docs_leaked"] == len(docs_l), band
            assert r["leaked_token_mass"] == sum(tok[d] for d in docs_l)
            assert r["leak_permille"] == n_leaked * 1000 // n_straddling


def test_seasonal_residual_matches_python_replay(spark):
    """Flags against a Python median replay over the composed
    decomposition output, plus the behavioral witness: the flagged set
    at sf0.01 is nonempty and every flagged hour's residual clears
    3x the hod MAD."""
    import statistics as _st

    from lua_mapreduce_spark.operators import analytics24 as a24
    from lua_mapreduce_spark.operators.events import events_seasonal_decompose

    dec = {
        r["hr_epoch"]: r
        for r in events_seasonal_decompose(spark, SF_MEDIUM).collect()
    }
    by_hod: dict[int, list[int]] = {}
    for r in dec.values():
        by_hod.setdefault(r["hod"], []).append(abs(r["deviation_milli"]))
    mad2 = {h: int(2 * _st.median(v)) for h, v in by_hod.items()}
    got = a24.events_anomaly_seasonal_residual(spark, SF_MEDIUM).collect()
    assert len(got) == len(dec)
    n_anom = 0
    for r in got:
        d = dec[r["hr_epoch"]]
        assert r["deviation_milli"] == d["deviation_milli"]
        assert r["mad2_milli"] == mad2[r["hod"]]
        want = 2 * abs(r["deviation_milli"]) > a24._ASR_K * r["mad2_milli"]
        assert r["is_anomaly"] == want
        assert r["is_spike"] == (want and r["deviation_milli"] > 0)
        n_anom += want
    assert n_anom > 0  # the sf0.01 series has genuine hod outliers


def test_readability_matches_python_replay(spark):
    """Per-source readability against a pure-Python token-length
    replay."""
    from lua_mapreduce_spark.operators import analytics24 as a24

    for sf in (SF_SMALL, SF_MEDIUM):
        agg: dict[str, list[int]] = {}
        for _, source, text in _docs(sf):
            toks = _tokens(text)
            a = agg.setdefault(source, [0, 0, 0, 0, 0])
            a[0] += 1
            a[1] += len(toks)
            a[2] += sum(len(w) for w in toks)
            a[3] += sum(1 for w in toks if len(w) >= a24._RB_LONG)
            a[4] += sum(1 for w in toks if len(w) <= a24._RB_SHORT)
        got = {
            r["source"]: r
            for r in a24.text_readability_by_source(spark, sf).collect()
        }
        assert set(got) == set(agg)
        for source, (nd, nt, cm, nl, ns) in agg.items():
            r = got[source]
            assert r["n_docs"] == nd and r["n_tokens"] == nt
            assert r["mean_word_len_milli"] == cm * 1000 // nt
            assert r["long_word_permille"] == nl * 1000 // nt
            assert r["short_word_permille"] == ns * 1000 // nt
            assert r["tokens_per_doc_milli"] == nt * 1000 // nd


def test_probe_recall_curve_matches_python_replay(spark):
    """The sweep against a pure-Python IVF replay (same sequential
    double folds, same tie-breaks) from the collected centroids +
    embeddings, plus the curve laws: candidates strictly increase with
    n_probe and recall is non-decreasing."""
    import math as _m

    from lua_mapreduce_spark.catalog import load_table
    from lua_mapreduce_spark.operators import analytics24 as a24
    from lua_mapreduce_spark.operators.similarity import (
        _km_centroids,
        _N_QUERIES,
        _TOP_K,
    )

    def cos(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += float(x) * float(y)
        na = 0.0
        for x in a:
            na += float(x) * float(x)
        nb = 0.0
        for y in b:
            nb += float(y) * float(y)
        return dot / (_m.sqrt(na) * _m.sqrt(nb))

    for sf in (SF_SMALL, SF_MEDIUM):
        emb = {
            r["vec_id"]: list(r["embedding"])
            for r in load_table(spark, sf, "embeddings").collect()
        }
        cent = {
            r["cent_id"]: list(r["cemb"])
            for r in _km_centroids(spark, sf).collect()
        }
        crank: dict[int, list[int]] = {}
        for v, e in emb.items():
            order = sorted(
                cent, key=lambda c: (-cos(e, cent[c]), c)
            )
            crank[v] = order
        home = {v: order[0] for v, order in crank.items()}
        exact: dict[int, set[int]] = {}
        for q in range(_N_QUERIES):
            ranked = sorted(
                (n for n in emb if n != q),
                key=lambda n: (-cos(emb[q], emb[n]), n),
            )
            exact[q] = set(ranked[:_TOP_K])
        want = {}
        for p in a24._PRC_PROBES:
            n_cand = hits = 0
            for q in range(_N_QUERIES):
                probed = set(crank[q][:p])
                cand = [n for n in emb if n != q and home[n] in probed]
                n_cand += len(cand)
                top = sorted(
                    cand, key=lambda n: (-cos(emb[q], emb[n]), n)
                )[:_TOP_K]
                hits += len(set(top) & exact[q])
            want[p] = (n_cand, hits)
        got = {
            r["n_probe"]: r
            for r in a24.sim_ivf_probe_recall_curve(spark, sf).collect()
        }
        assert set(got) == set(want)
        prev_c = prev_h = -1
        for p in sorted(want):
            n_cand, hits = want[p]
            r = got[p]
            assert r["n_candidates"] == n_cand, p
            assert r["n_hits"] == hits, p
            assert r["n_possible"] == _N_QUERIES * _TOP_K
            assert r["recall_permille"] == hits * 1000 // (_N_QUERIES * _TOP_K)
            assert r["n_candidates"] > prev_c
            assert r["n_hits"] >= prev_h
            prev_c, prev_h = r["n_candidates"], r["n_hits"]
