"""Behavioral invariants for the round-9 wave (oracle parity is in
test_oracle_parity.py; these check semantics, bounds, and plan shapes the
value hash can't see)."""

from __future__ import annotations

import collections
import io
import contextlib

from pyspark.sql import functions as F

from lua_mapreduce_spark.operators import QUERIES
from tests.conftest import SF_MEDIUM, SF_SMALL


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ----------------------------------------------------- edit-distance join


def test_edit_distance_join_lossless_vs_direct_spark(spark):
    """Independent of the DuckDB oracle: the prefix-filtered join returns
    exactly the pairs the direct all-pairs levenshtein join finds."""
    from lua_mapreduce_spark.operators.analytics3 import _ED_DOMAIN, _ED_K

    got = {
        (r.id_a, r.id_b): r.dist
        for r in QUERIES["dedup_edit_distance_join"](spark, SF_MEDIUM).collect()
    }
    part = spark.read.parquet(f"{SF_MEDIUM}/part.parquet")
    names = {
        r.p_partkey: r.p_name
        for r in part.filter(
            (F.col("p_partkey") <= _ED_DOMAIN) & (F.length("p_name") >= 7)
        ).collect()
    }

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    ids = sorted(names)
    want = {}
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            if abs(len(names[a]) - len(names[b])) > _ED_K:
                continue
            d = lev(names[a], names[b])
            if d <= _ED_K:
                want[(a, b)] = d
    assert got == want and got, f"{len(got)} vs {len(want)} pairs"


def test_edit_distance_prefix_prunes_and_uses_group_limit(spark):
    """The rarity prefix must shrink the candidate gram index (k*q+1 = 3
    grams per name vs ~len-1), and the per-id prefix truncation must
    compile to WindowGroupLimit (map-side)."""
    plan = _plan(QUERIES["dedup_edit_distance_join"](spark, SF_MEDIUM))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


# ----------------------------------------------------- common neighbors


def test_common_neighbors_python_replay(spark):
    """Bit-exact replay of capped-wedge common-neighbor / RA scoring with
    the same deterministic frontier order."""
    from lua_mapreduce_spark.operators.graph import (
        _CN_CAP,
        _CN_TOP,
        _copurchase_pairs,
    )

    got = [
        (r.node_a, r.node_b, r.common_neighbors, r.ra_milli)
        for r in QUERIES["graph_common_neighbors"](spark, SF_SMALL).collect()
    ]
    pairs = {(r.u, r.v) for r in _copurchase_pairs(spark, SF_SMALL).collect()}
    adj: dict = collections.defaultdict(set)
    for u, v in pairs:
        adj[u].add(v)
        adj[v].add(u)
    deg = {n: len(s) for n, s in adj.items()}
    cadj = {n: sorted(s)[:_CN_CAP] for n, s in adj.items()}
    scored: dict = collections.defaultdict(lambda: [0, 0])
    for z, nbrs in cadj.items():
        for i in range(len(nbrs)):
            for j in range(i + 1, len(nbrs)):
                key = (nbrs[i], nbrs[j])
                scored[key][0] += 1
                scored[key][1] += 1000 // deg[z]
    want = sorted(
        (
            (a, b, cn, ra)
            for (a, b), (cn, ra) in scored.items()
            if (a, b) not in pairs
        ),
        key=lambda t: (-t[2], -t[3], t[0], t[1]),
    )[:_CN_TOP]
    assert sorted(got, key=lambda t: (-t[2], -t[3], t[0], t[1])) == want
    assert got, "no predicted links — vacuous"


def test_common_neighbors_frontier_is_take_ordered(spark):
    plan = _plan(QUERIES["graph_common_neighbors"](spark, SF_MEDIUM))
    assert "TakeOrderedAndProject" in plan
    assert "WindowGroupLimit" in plan  # the adjacency cap


# ----------------------------------------------------- Gini diversity


def test_gini_diversity_bounds_and_conservation(spark):
    rows = QUERIES["events_gini_diversity"](spark, SF_SMALL).collect()
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    per_user = {
        r.user_id: r.cnt
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert {r.user_id for r in rows} == {
        u for u, c in per_user.items() if c >= 2
    }
    for r in rows:
        assert r.n_events == per_user[r.user_id]
        assert 0 <= r.diversity_permille < 1000
        if r.n_types == 1:
            assert r.diversity_permille == 0
        else:
            assert r.diversity_permille > 0


# ----------------------------------------------------- IVM delta join


def test_ivm_terms_partition_the_direct_join(spark):
    """The four delta terms must be DISJOINT and EXHAUSTIVE: their row
    counts sum to the direct join's count (the aggregate equality is the
    oracle's job; this pins the partition property itself)."""
    from lua_mapreduce_spark.operators.analytics3 import _IVM_CUTOFF

    cut = f"TIMESTAMP '{_IVM_CUTOFF} 00:00:00'"
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    direct = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).count()
    parts = []
    for ao in (f"o_orderdate < {cut}", f"o_orderdate >= {cut}"):
        for bo in (f"l_shipdate < {cut}", f"l_shipdate >= {cut}"):
            parts.append(
                orders.filter(F.expr(ao))
                .join(li.filter(F.expr(bo)), orders["o_orderkey"] == li["l_orderkey"])
                .count()
            )
    assert sum(parts) == direct
    assert all(p > 0 for p in parts), f"degenerate split {parts}: cutoff misses data"


# ----------------------------------------------------- equi-depth histogram


def test_equidepth_buckets_are_balanced_and_ordered(spark):
    from lua_mapreduce_spark.operators.analytics3 import _EH_B

    rows = sorted(
        QUERIES["agg_equidepth_histogram"](spark, SF_SMALL).collect(),
        key=lambda r: r.bucket,
    )
    assert [r.bucket for r in rows] == list(range(1, _EH_B + 1))
    total = sum(r.n_orders for r in rows)
    assert total == spark.read.parquet(f"{SF_SMALL}/orders.parquet").count()
    # equi-depth: every bucket within 25% of the ideal depth (ties and
    # interpolation wobble the edges, never the bulk)
    ideal = total / _EH_B
    for r in rows:
        assert 0.75 * ideal <= r.n_orders <= 1.25 * ideal, rows
    # bucket value ranges are disjoint and ordered
    for a, b in zip(rows, rows[1:]):
        assert a.max_cents <= b.min_cents


# ----------------------------------------------------- table diff


# ----------------------------------------------------- BPE merge learning


def test_bpe_merges_python_replay(spark):
    """Bit-exact replay of the 3 unrolled BPE training rounds: same
    tokenization, tf weighting, (cnt, l, r) argmax tie rule, and greedy
    leftmost non-overlapping merge application."""
    import collections
    import re as _re

    from lua_mapreduce_spark.operators.analytics3 import _BPE_ROUNDS

    got = [
        (r.merge_round, r.l, r.r, r.merged, r.pair_count)
        for r in sorted(
            QUERIES["text_bpe_learn_merges"](spark, SF_SMALL).collect(),
            key=lambda r: r.merge_round,
        )
    ]
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    vocab: collections.Counter = collections.Counter()
    for d in docs:
        for w in _re.findall("[A-Za-z]+", d.text):
            vocab[w.lower()] += 1
    enc = {w: list(w) for w in vocab}
    want = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        cnt: collections.Counter = collections.Counter()
        for w, toks in enc.items():
            for i in range(len(toks) - 1):
                cnt[(toks[i], toks[i + 1])] += vocab[w]
        (l, r), c = max(cnt.items(), key=lambda kv: (kv[1], kv[0]))
        want.append((rnd, l, r, l + r, c))
        for w, toks in enc.items():
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == l and toks[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            enc[w] = out
    assert got == want


# ----------------------------------------------------- join cardinality


def test_join_cardinality_predicts_the_real_join(spark):
    """The count-table product must equal the actually-executed join's
    row count — the whole point of the pre-flight profile."""
    row = QUERIES["diag_join_cardinality"](spark, SF_SMALL).collect()[0]
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    real = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).count()
    assert row.join_rows == real
    hot = (
        li.groupBy("l_orderkey").count()
        .orderBy(F.desc("count"), F.desc("l_orderkey"))
        .first()
    )
    assert (row.hot_key, row.max_key_rows) == (hot.l_orderkey, hot["count"])


# ----------------------------------------------------- CDC changelog apply


def test_cdc_apply_python_replay(spark):
    """Replay the changelog application row-by-row in Python: upserts,
    tombstone-wins ordering, and synthetic inserts."""
    from lua_mapreduce_spark.operators.analytics3 import (
        _CDC_DEL_MOD,
        _CDC_INS_MOD,
        _CDC_UPD_MOD,
    )

    got = {
        r.o_orderpriority: (r.n_rows, r.sum_cents)
        for r in QUERIES["cdc_apply_changelog"](spark, SF_SMALL).collect()
    }
    base = {
        r.o_orderkey: (r.o_orderpriority, round(r.o_totalprice * 100))
        for r in spark.read.parquet(f"{SF_SMALL}/orders.parquet").collect()
    }
    # r10: insert offset derived from the base (max key + 1), so synthetic
    # insert keys are disjoint from live keys at EVERY scale factor.
    ins_offset = max(base) + 1
    state = dict(base)
    for k, (pr, c) in base.items():  # seq 1: inserts
        if k % _CDC_INS_MOD == 0:
            state[k + ins_offset] = (pr, c + 13)
    for k, (pr, c) in base.items():  # seq 2: updates
        if k % _CDC_UPD_MOD == 0:
            state[k] = (pr, c + 7)
    for k in list(base):  # seq 3: deletes (win over updates)
        if k % _CDC_DEL_MOD == 0:
            del state[k]
    want: dict = {}
    for pr, c in state.values():
        n, s = want.get(pr, (0, 0))
        want[pr] = (n + 1, s + c)
    assert got == want
    # every op class actually fired (non-vacuous fixture), and insert keys
    # are provably disjoint from the base key range
    assert any(k >= ins_offset for k in state)
    assert all(k < ins_offset for k in base)
    assert len(state) < len(base) + sum(
        1 for k in base if k % _CDC_INS_MOD == 0
    )


def test_cdc_apply_compacts_map_side(spark):
    """rn = 1 over (key, seq DESC) must compile to WindowGroupLimit —
    per-key runs truncate before the exchange."""
    plan = _plan(QUERIES["cdc_apply_changelog"](spark, SF_MEDIUM))
    assert "WindowGroupLimit" in plan


# ----------------------------------------------------- table diff


def test_table_diff_flags_exactly_the_planted_months(spark):
    from lua_mapreduce_spark.operators.analytics3 import (
        _TD_DEL_MOD,
        _TD_UPD_MOD,
    )

    got = {r.month: r for r in QUERIES["diag_table_diff"](spark, SF_SMALL).collect()}
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey", F.date_format("o_orderdate", "yyyy-MM").alias("month")
    )
    planted = {
        r.month
        for r in orders.filter(
            F.expr(
                f"o_orderkey % {_TD_DEL_MOD} = 0 OR o_orderkey % {_TD_UPD_MOD} = 0"
            )
        ).collect()
    }
    assert set(got) == planted and planted
    # deleted keys show as count drift; updated-only months as checksum drift
    for r in got.values():
        assert r.n_base >= r.n_snap
        assert (r.n_base, r.ck_base) != (r.n_snap, r.ck_snap)


# ----------------------------------------------------- SCD2 point-in-time


def test_scd2_every_order_matches_exactly_one_version(spark):
    """The validity windows tile the order-date range, so the join is
    lossless and duplicate-free: per-segment order counts must equal the
    plain orders-per-segment counts, and v2 hits must be exactly the
    post-cutoff orders of versioned customers."""
    from lua_mapreduce_spark.operators.analytics3 import (
        _SCD2_BUMP,
        _SCD2_CUTOFF,
        _SCD2_MOD,
    )

    got = {
        r.c_mktsegment: r
        for r in QUERIES["join_scd2_point_in_time"](spark, SF_SMALL).collect()
    }
    cust = spark.read.parquet(f"{SF_SMALL}/customer.parquet")
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    joined = orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
    base = {
        r.c_mktsegment: (r.n, r.cents, r.v2)
        for r in joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("CAST(SUM(round(c_acctbal * 100.0)) AS BIGINT)").alias("cents"),
            F.expr(
                f"CAST(SUM(CASE WHEN c_custkey % {_SCD2_MOD} = 0 AND "
                f"CAST(o_orderdate AS DATE) >= DATE'{_SCD2_CUTOFF}' "
                "THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("v2"),
        )
        .collect()
    }
    assert set(got) == set(base)
    for seg, (n, cents, v2) in base.items():
        assert got[seg].n_orders == n
        assert got[seg].n_v2_hits == v2
        assert got[seg].sum_bal_cents == cents + _SCD2_BUMP * v2
    assert sum(r.n_v2_hits for r in got.values()) > 0


def test_scd2_keeps_the_equi_key(spark):
    """The SCD2 lookup must stay a hash join on custkey — the range
    predicate is a residual, never the join key."""
    plan = _plan(QUERIES["join_scd2_point_in_time"](spark, SF_MEDIUM))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


# ----------------------------------------------------- bounded BFS


def test_bfs_python_replay(spark):
    """Frontier BFS must equal a literal Python BFS over the same edge
    list, level histogram and per-level id checksums included."""
    from lua_mapreduce_spark.operators.graph import _BFS_HOPS, _copurchase_pairs

    got = {
        r.dist: (r.n_nodes, r.min_node, r.max_node, r.id_checksum)
        for r in QUERIES["graph_bfs_distances"](spark, SF_SMALL).collect()
    }
    adj: dict = {}
    for r in _copurchase_pairs(spark, SF_SMALL).collect():
        adj.setdefault(r.u, set()).add(r.v)
        adj.setdefault(r.v, set()).add(r.u)
    root = min(adj)
    dist = {root: 0}
    frontier = [root]
    for hop in range(1, _BFS_HOPS + 1):
        nxt = sorted(
            {m for n in frontier for m in adj[n] if m not in dist}
        )
        for m in nxt:
            dist[m] = hop
        if not nxt:
            break
        frontier = nxt
    want: dict = {}
    for n, d in dist.items():
        c, lo, hi, s = want.get(d, (0, None, None, 0))
        want[d] = (
            c + 1,
            n if lo is None else min(lo, n),
            n if hi is None else max(hi, n),
            s + n,
        )
    assert got == want
    assert len(got) >= 3  # non-vacuous: at least levels 0, 1, 2


# ----------------------------------------------------- constraint audit


def test_constraint_audit_counts_and_nonvacuity(spark):
    """FK checks must hold (clean synthetic data), predicate checks must
    report the independently-recounted violation totals, and at least
    two constraints must have nonzero violations (the audit is not a
    wall of zeros)."""
    got = {
        r.check_name: (r.n_checked, r.n_violations)
        for r in QUERIES["diag_constraint_audit"](spark, SF_MEDIUM).collect()
    }
    assert len(got) == 8
    cust = spark.read.parquet(f"{SF_MEDIUM}/customer.parquet")
    orders = spark.read.parquet(f"{SF_MEDIUM}/orders.parquet")
    li = spark.read.parquet(f"{SF_MEDIUM}/lineitem.parquet")
    assert got["customer_acctbal_nonnegative"] == (
        cust.count(),
        cust.filter("c_acctbal < 0").count(),
    )
    assert got["orders_fresh_since_1996"] == (
        orders.count(),
        orders.filter("CAST(o_orderdate AS DATE) < DATE'1996-01-01'").count(),
    )
    for fk in ("customer_nation_fk", "orders_custkey_fk", "lineitem_order_fk"):
        assert got[fk][1] == 0, fk
    assert got["lineitem_quantity_range"][0] == li.count()
    assert sum(1 for _, v in got.values() if v > 0) >= 2


def test_constraint_audit_is_three_scans(spark):
    """The suite folds into one aggregate pass per table: exactly three
    parquet scans of customer/orders/lineitem (plus nation + the two
    key-side scans for the FK joins), never one scan per constraint."""
    plan = _plan(QUERIES["diag_constraint_audit"](spark, SF_MEDIUM))
    import re as _re

    scans = _re.findall(r"Scan parquet\s+\(\d+\)", plan)
    # 6 scans total: customer x2 (facts + orders-FK keys), orders x2
    # (facts + lineitem-FK keys), lineitem, nation — NOT 8+ (one per check)
    assert len(scans) <= 6, scans


# ----------------------------------------------------- group-aware split


def test_group_split_is_leakage_free_and_total(spark):
    """Every document lands in exactly one split, every source's docs
    land in a single split, and all three splits are populated."""
    from lua_mapreduce_spark.operators.analytics3 import _SPLIT_MOD
    import hashlib

    got = {
        r.split: (r.n_groups, r.n_docs, r.sum_chars)
        for r in QUERIES["curation_group_split"](spark, SF_MEDIUM).collect()
    }
    assert set(got) == {"train", "val", "test"}
    docs = spark.read.parquet(f"{SF_MEDIUM}/documents.parquet").collect()
    assign: dict = {}
    for r in docs:
        h = int(hashlib.md5(r.source.encode()).hexdigest()[:15], 16) % _SPLIT_MOD
        assign.setdefault(
            "train" if h <= 2 else "val" if h == 3 else "test", []
        ).append(r)
    want = {
        s: (len({r.source for r in rs}), len(rs), sum(r.n_chars for r in rs))
        for s, rs in assign.items()
    }
    assert got == want
    assert sum(v[1] for v in got.values()) == len(docs)
    # group-awareness: a source appears in exactly one split
    seen: dict = {}
    for s, rs in assign.items():
        for r in rs:
            assert seen.setdefault(r.source, s) == s


# ----------------------------------------------------- compaction planner


def test_compaction_bins_python_replay_and_invariants(spark):
    """The plan must equal a literal cumulative-offset replay, assign
    every file exactly once, genuinely pack (multi-file bins exist), and
    never overflow a bin past target + one file."""
    from lua_mapreduce_spark.operators.analytics4 import _COMPACT_TARGET

    got = {
        (r.lang, r.bin): r
        for r in QUERIES["layout_compaction_bins"](spark, SF_MEDIUM).collect()
    }
    docs = spark.read.parquet(f"{SF_MEDIUM}/documents.parquet").collect()
    per_lang: dict = {}
    for r in docs:
        per_lang.setdefault(r.lang, []).append(r)
    want: dict = {}
    for lang, rs in per_lang.items():
        off = 0
        for r in sorted(rs, key=lambda x: (x.source, x.doc_id)):
            b = off // _COMPACT_TARGET
            n, tot, lo, hi = want.get((lang, b), (0, 0, r.source, r.source))
            want[(lang, b)] = (
                n + 1,
                tot + r.n_chars,
                min(lo, r.source),
                max(hi, r.source),
            )
            off += r.n_chars
    assert {
        k: (v.n_files, v.bin_bytes, v.first_source, v.last_source)
        for k, v in got.items()
    } == want
    assert sum(v.n_files for v in got.values()) == len(docs)
    assert sum(1 for v in got.values() if v.n_files > 1) >= 2
    max_file = max(r.n_chars for r in docs)
    for v in got.values():
        assert v.bin_bytes < _COMPACT_TARGET + max_file


# ----------------------------------------------------- MAD outliers


def test_mad_outliers_python_replay(spark):
    """Median/MAD in quarter-cents must be exactly integer, and outlier
    counts must equal a literal statistics.median replay."""
    import statistics

    from lua_mapreduce_spark.operators.analytics4 import _MAD_K

    got = {
        r.event_type: r
        for r in QUERIES["events_mad_outliers"](spark, SF_MEDIUM).collect()
    }
    ev = spark.read.parquet(f"{SF_MEDIUM}/events.parquet").collect()
    per_type: dict = {}
    for r in ev:
        per_type.setdefault(r.event_type, []).append(round(r.value * 100) * 4)
    assert set(got) == set(per_type)
    for t, vals in per_type.items():
        med = statistics.median(vals)
        assert med == int(med)  # quarter-cent scaling keeps it integral
        devs = [abs(v - int(med)) for v in vals]
        mad = statistics.median(devs)
        assert mad == int(mad)
        n_out = sum(1 for d in devs if d > _MAD_K * int(mad))
        r = got[t]
        assert (r.n_events, r.med_qc, r.mad_qc, r.n_outliers) == (
            len(vals),
            int(med),
            int(mad),
            n_out,
        )
        assert r.n_outliers > 0  # non-vacuous on the synthetic data


def test_mad_outliers_broadcasts_the_bounded_stats(spark):
    """The per-type median/MAD relations are bounded (one row per type)
    and must come back as broadcast joins — never a window-over-type
    shuffle of the raw events (5-partition skew at scale)."""
    plan = _plan(QUERIES["events_mad_outliers"](spark, SF_MEDIUM))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


# ----------------------------------------------------- chi-square


def test_chisquare_python_replay(spark):
    """Per-segment chi-square contributions must equal a literal
    integer replay of the truncating formula over the contingency
    table."""
    got = {
        r.c_mktsegment: (r.n_orders, r.chi2_centi)
        for r in QUERIES["agg_chisquare_contingency"](spark, SF_MEDIUM).collect()
    }
    orders = spark.read.parquet(f"{SF_MEDIUM}/orders.parquet")
    cust = spark.read.parquet(f"{SF_MEDIUM}/customer.parquet")
    cells: dict = {}
    for r in (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment", "o_orderpriority")
        .count()
        .collect()
    ):
        cells[(r.c_mktsegment, r.o_orderpriority)] = r["count"]
    segs = {s for s, _ in cells}
    pris = {p for _, p in cells}
    grand = sum(cells.values())
    want: dict = {}
    for s in segs:
        r_tot = sum(v for (cs, _), v in cells.items() if cs == s)
        chi = 0
        for p in pris:
            n = cells.get((s, p), 0)
            c_tot = sum(v for (_, cp), v in cells.items() if cp == p)
            exp_c = (100 * r_tot * c_tot) // grand
            dev = 100 * n - exp_c
            chi += (dev * dev) // max(exp_c, 1)
        want[s] = (r_tot, chi)
    assert got == want
    assert sum(chi for _, chi in got.values()) > 0


# ----------------------------------------------------- group-median impute


def test_impute_group_median_python_replay(spark):
    """Fill values must be the exact per-type median of PRESENT values
    (half-cent integral), and post-imputation sums must reconcile."""
    import statistics

    from lua_mapreduce_spark.operators.analytics4 import _IMPUTE_MOD

    got = {
        r.event_type: r
        for r in QUERIES["curation_impute_group_median"](spark, SF_MEDIUM).collect()
    }
    ev = spark.read.parquet(f"{SF_MEDIUM}/events.parquet").collect()
    per_type: dict = {}
    for r in ev:
        per_type.setdefault(r.event_type, []).append(
            (r.event_id % _IMPUTE_MOD == 0, round(r.value * 100) * 2)
        )
    assert set(got) == set(per_type)
    for t, rows in per_type.items():
        present = [v for m, v in rows if not m]
        fill = statistics.median(present)
        assert fill == int(fill)  # half-cent scaling keeps it integral
        n_missing = sum(1 for m, _ in rows if m)
        want_sum = sum(present) + n_missing * int(fill)
        r = got[t]
        assert (r.n_rows, r.n_imputed, r.fill_halfcents, r.sum_halfcents) == (
            len(rows),
            n_missing,
            int(fill),
            want_sum,
        )
        assert n_missing > 0  # the mask is non-vacuous


# -------------------------------------------- integer-median scaling proofs


def test_quarter_cent_scaling_keeps_median_and_mad_integral():
    """Property proof of the events_mad_outliers exactness trick: for ANY
    multiset of integer cents, 4x scaling makes the interpolated median
    integral, deviations even, and the MAD integral — so the whole MAD
    pipeline is exact in BIGINT on both engines, at any group size or
    parity."""
    import statistics

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.lists(st.integers(min_value=0, max_value=10**9), min_size=1))
    def check(cents):
        v4 = [c * 4 for c in cents]
        med = statistics.median(v4)
        assert med == int(med)
        devs = [abs(v - int(med)) for v in v4]
        assert all(d % 2 == 0 for d in devs)
        mad = statistics.median(devs)
        assert mad == int(mad)

    check()


def test_half_cent_scaling_keeps_median_integral():
    """Same proof for curation_impute_group_median's 2x scaling: the
    interpolated median of even numbers is always integral."""
    import statistics

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.lists(st.integers(min_value=0, max_value=10**9), min_size=1))
    def check(cents):
        med = statistics.median([c * 2 for c in cents])
        assert med == int(med)

    check()


# -------------------------------------------- analytics4 column pruning


def test_compaction_scan_reads_only_needed_columns(spark):
    """The manifest scan must prune to the four columns the plan uses —
    a compaction planner that drags `text` through the window defeats
    the run-over-metadata design."""
    import re as _re

    plan = _plan(QUERIES["layout_compaction_bins"](spark, SF_MEDIUM))
    m = _re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, "no ReadSchema in plan"
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"lang", "source", "doc_id", "n_chars"}, cols


# -------------------------------------------- streaming state sizing


def test_drain_restores_session_shuffle_partitions(spark):
    """The drain's state-partition sizing must be drain-scoped: the
    session's shuffle partitioning is restored afterwards (even though the
    drain itself ran with the source-sized value), and the sized drain
    still executes >= 3 micro-batches."""
    from lua_mapreduce_spark.streaming import stateful

    before = spark.conf.get("spark.sql.shuffle.partitions")
    rows = QUERIES["streaming_stream_stream_join"](spark, SF_MEDIUM).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert stateful.LAST_DRAIN_NUM_BATCHES >= 3
    assert len(rows) > 0


# -------------------------------------------- PPJoin positional filter


def test_prefix_join_positional_filter_prunes_candidates(spark):
    """The PPJoin positional filter (overlap <= 1 + min(s_a - rk_a,
    s_b - rk_b), lossless per Xiao et al. 2008) must strictly shrink the
    candidate set beyond the length filter. Losslessness is proven by
    test_prefix_join_lossless_vs_direct_spark + the prefix-free oracle;
    this pins that the filter does real work (59.7% drop at sf0.1)."""
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
    ).select("doc_id", "s", "shingle", "rk")
    base = (
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (
            F.least(F.col("a.s"), F.col("b.s")) * 1000
            >= _PJ_T * F.greatest(F.col("a.s"), F.col("b.s"))
        )
    )
    pos = (
        1 + F.least(F.col("a.s") - F.col("a.rk"), F.col("b.s") - F.col("b.rk"))
    ) * (1000 + _PJ_T) >= _PJ_T * (F.col("a.s") + F.col("b.s"))
    without = (
        prefix.alias("a").join(prefix.alias("b"), base)
        .select("a.doc_id", "b.doc_id").distinct().count()
    )
    with_pos = (
        prefix.alias("a").join(prefix.alias("b"), base & pos)
        .select("a.doc_id", "b.doc_id").distinct().count()
    )
    assert 0 < with_pos < without, (
        f"positional filter pruned nothing: {with_pos} vs {without}"
    )
