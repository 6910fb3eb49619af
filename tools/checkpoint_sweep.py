"""Judge each per-query ``localCheckpoint`` call site by running the queries
that reach it with and without that one checkpoint.

A call site is a ``(file, line)`` in ``lua_mapreduce_spark/``. The sweep
classifies every site statically: a site inside a ``for``/``while`` loop or
inside a ``@memo`` builder is ``loop``/``memo`` and is not swept (iterative
operators need the truncation, and a memoized build runs once per session);
every other site is a ``candidate``. The sweep then

1. constructs every registered query once, cold, and records which sites
   each one reaches (the reach map, cached in ``--reach`` when given);
2. for each query that reaches a chosen candidate, runs one untimed
   warm-up run of every variant, then ``_PAIRS`` alternating rounds of
   ``[with, without site 1, without site 2, ...]`` (the order flips every
   round).

A site is disabled in this process only: ``localCheckpoint`` on
``pyspark.sql.classic.dataframe.DataFrame`` (the class every session's
DataFrames are on Spark 4.1; patching ``pyspark.sql.DataFrame`` has no
effect) returns ``self`` when its caller's file and line match.

Per (site, query, sf) it prints one JSON line: warm construct+collect
medians with and without, the Spark jobs started during construction, the
analyzed-plan size in operator lines, ``analyzed().deterministic()`` of the
query and of the relation the site materializes, and whether every answer
without the site equals the answer with it. A final ``summary`` line per
site applies the measurable keep reasons: the query is slower without it by
more than the 15% noise floor at some sf, the relation is
nondeterministic, an answer changes, or the query fails without it.
Verdicts judge each site alone: sites of one query can interact, so a
query that would lose several must be timed with all of them disabled
before they go (BASELINE.md, "Per-query sets").

Each query's runs happen in a child process with its own Spark session,
and each run has a deadline (``_DEADLINE_S``): past it, the parent kills
the child with its JVM, records that variant as failed (a site whose
query fails without it is kept), and goes on with the query's remaining
runs in a fresh child. That stops a run whose Catalyst planning grows
without bound, which no Spark job cancellation reaches.

Usage:
    python tools/checkpoint_sweep.py --list
    python tools/checkpoint_sweep.py [--sites FILE:LINE ...] [--sf DIR ...] \
        [--reach reach.json]
"""

from __future__ import annotations

import argparse
import ast
import hashlib
import json
import multiprocessing
import os
import signal
import statistics
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
_PKG = os.path.join(_REPO, "lua_mapreduce_spark")

from lua_mapreduce_spark.catalog import DEFAULT_SF_DIR  # noqa: E402

_NOISE = 0.15  # the same-code noise floor recorded in BASELINE.md
_PAIRS = 5  # alternating [with, without] rounds per query and sf
# Per-run deadline, far above the slowest timed run of the recorded sweep
# (sim_hnsw_layers at sf0.1 without a site, 7.6 s). A child's session
# start-up and warm-up get the same allowance.
_DEADLINE_S = 150.0


def classify_sites() -> dict[str, str]:
    """``"path:line"`` -> ``candidate`` | ``loop`` | ``memo`` for every
    ``.localCheckpoint(`` call in the package. ``line`` is the line of the
    ``.localCheckpoint`` attribute, which is the line Python reports for
    the call's frame."""
    sites: dict[str, str] = {}
    for dirpath, _, files in os.walk(_PKG):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, _REPO)
            with open(path) as fh:
                tree = ast.parse(fh.read())

            def visit(node, in_loop, in_memo):
                for child in ast.iter_child_nodes(node):
                    loop = in_loop or isinstance(
                        child, (ast.For, ast.While, ast.comprehension)
                    )
                    memo = in_memo or (
                        isinstance(child, ast.FunctionDef)
                        and any(
                            isinstance(d, ast.Name) and d.id == "memo"
                            for d in child.decorator_list
                        )
                    )
                    if (
                        isinstance(child, ast.Call)
                        and isinstance(child.func, ast.Attribute)
                        and child.func.attr == "localCheckpoint"
                    ):
                        kind = "memo" if memo else "loop" if loop else "candidate"
                        sites[f"{rel}:{child.func.end_lineno}"] = kind
                    visit(child, loop, memo)

            visit(tree, False, False)
    return dict(sorted(sites.items()))


class SiteSwitch:
    """Patch ``localCheckpoint`` to log every call site it is reached from
    and to skip the one site in ``disabled``."""

    def __init__(self):
        from pyspark.sql.classic.dataframe import DataFrame

        self.hits: list[str] = []
        self.disabled: str | None = None
        self.site_deterministic: bool | None = None
        orig = DataFrame.localCheckpoint
        switch = self

        def local_checkpoint(df, eager=True, storageLevel=None):
            caller = sys._getframe(1)
            site = f"{os.path.relpath(caller.f_code.co_filename, _REPO)}:{caller.f_lineno}"
            switch.hits.append(site)
            if site == switch.disabled:
                plan = df._jdf.queryExecution().analyzed()
                switch.site_deterministic = bool(plan.deterministic())
                return df
            return orig(df, eager, storageLevel)

        DataFrame.localCheckpoint = local_checkpoint


def _answer_key(rows) -> str:
    """Order-insensitive digest of the rows; floats compared to 9
    significant digits (a dropped checkpoint may reorder a float sum)."""

    def norm(v):
        if isinstance(v, float):
            return f"{v:.9g}"
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        if isinstance(v, dict):
            return tuple(sorted((norm(k), norm(x)) for k, x in v.items()))
        return repr(v)

    body = repr(sorted(repr(tuple(norm(v) for v in r)) for r in rows))
    return hashlib.sha1(body.encode()).hexdigest()[:16]


class Runner:
    def __init__(self, spark, switch: SiteSwitch):
        self.spark = spark
        self.switch = switch
        self.n = 0

    def run(self, fn, sf_dir: str, disabled: str | None) -> dict:
        """Construct and collect one query with ``disabled`` skipped."""
        sc = self.spark.sparkContext
        self.n += 1
        group = f"ckpt_sweep_{self.n}"
        self.switch.disabled = disabled
        self.switch.site_deterministic = None
        self.switch.hits = []
        try:
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            try:
                df = fn(self.spark, sf_dir)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            rows = df.collect()
            t2 = time.perf_counter()
        finally:
            self.switch.disabled = None
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        plan = df._jdf.queryExecution().analyzed()
        return {
            "total_s": t2 - t0,
            "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
            "plan_lines": plan.treeString().count("\n"),
            "deterministic": bool(plan.deterministic()),
            "answer": _answer_key(rows),
            "reached": disabled is None or disabled in self.switch.hits,
            "site_deterministic": self.switch.site_deterministic,
        }


def reach_map(runner: Runner, queries: dict, sf_dir: str) -> dict[str, list[str]]:
    """Query -> sites its cold construction reached (construction only:
    every site runs while the query is being built)."""
    out = {}
    for name in sorted(queries):
        runner.switch.hits = []
        try:
            queries[name](runner.spark, sf_dir)
        except Exception as exc:  # noqa: BLE001 — record and keep mapping
            print(f"reach {name} failed: {exc!r}", file=sys.stderr)
        hits = sorted(set(runner.switch.hits))
        if hits:
            out[name] = hits
        print(f"reach {name}: {hits}", file=sys.stderr, flush=True)
    return out


def _session(warm_sf: str) -> Runner:
    """A warmed sweep session in this process, with the site switch on."""
    from bench import _build_session, _warm_session

    spark = _build_session("checkpoint-sweep")
    runner = Runner(spark, SiteSwitch())
    _warm_session(spark, warm_sf)
    return runner


def _reach_child(conn, sf_dir: str) -> None:
    from lua_mapreduce_spark.operators import QUERIES

    runner = _session(sf_dir)
    conn.send(reach_map(runner, QUERIES, sf_dir))
    runner.spark.stop()


def _runs_child(conn, name: str, sf_dir: str, warm_sf: str, jobs: list) -> None:
    """Run query ``name`` once per variant in ``jobs``, in order, on one
    session, announcing each run before it starts. A variant that fails
    skips its later runs."""
    os.setpgrp()  # so the parent can kill this process and its JVM together
    from lua_mapreduce_spark.operators import QUERIES

    runner = _session(warm_sf)
    failed = set()
    for i, v in enumerate(jobs):
        if v in failed:
            continue
        conn.send(("start", i))
        try:
            conn.send(("done", i, runner.run(QUERIES[name], sf_dir, v)))
        except Exception as exc:  # noqa: BLE001 — a verdict, not a crash
            failed.add(v)
            conn.send(("error", i, repr(exc)[:300]))
    runner.spark.stop()


def _kill(proc) -> None:
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:  # not in its own group yet
        proc.kill()
    proc.join()


def run_jobs(target, args: tuple, jobs: list) -> list[tuple]:
    """``(kind, payload)`` per job of ``jobs`` (variants), run in order by
    ``target(conn, *args, jobs)`` in a child process: ``("done", record)``,
    ``("error", message)``, or ``("skipped", None)`` after the variant
    failed. A run still going ``_DEADLINE_S`` after it started is killed
    with its child and recorded as an error; the jobs after it, less that
    variant's, go to a fresh child."""
    ctx = multiprocessing.get_context("spawn")
    out: list[tuple] = [("skipped", None)] * len(jobs)
    todo = list(range(len(jobs)))
    while todo:
        recv, send = ctx.Pipe(duplex=False)
        proc = ctx.Process(target=target, args=(send, *args, [jobs[i] for i in todo]))
        proc.start()
        send.close()
        current, problem = None, None
        while True:
            if not recv.poll(_DEADLINE_S):
                _kill(proc)
                problem = f"killed after {_DEADLINE_S:.0f} s"
                break
            try:
                msg = recv.recv()
            except EOFError:
                proc.join()
                if current is not None:
                    problem = f"child exited with code {proc.exitcode} during the run"
                break
            if msg[0] == "start":
                current = msg[1]
            else:
                out[todo[msg[1]]] = (msg[0], msg[2])
                current = None
        recv.close()
        failed = {jobs[i] for i, (kind, _) in enumerate(out) if kind == "error"}
        if problem is None:
            lost = [i for i in todo if out[i][0] == "skipped" and jobs[i] not in failed]
            if lost:
                sys.exit(f"sweep child exited with code {proc.exitcode} between runs")
            break
        if current is None:
            sys.exit(f"sweep child stopped before its first run: {problem}")
        out[todo[current]] = ("error", problem)
        failed.add(jobs[todo[current]])
        todo = [i for i in todo[current + 1 :] if jobs[i] not in failed]
    return out


def sweep_query(name: str, sf_dir: str, sites: list[str], warm_sf: str) -> list[dict]:
    """Alternating rounds of [with, without each site], after one untimed
    warm-up run of every variant; one JSON-able record per site."""
    variants = [None, *sites]
    jobs = variants + [
        v for r in range(_PAIRS) for v in (variants if r % 2 == 0 else variants[::-1])
    ]
    runs: dict = {v: [] for v in variants}
    errors: dict = {}
    results = run_jobs(_runs_child, (name, sf_dir, warm_sf), jobs)
    for i, (v, (kind, payload)) in enumerate(zip(jobs, results)):
        if kind == "error":
            errors.setdefault(v, payload)
        elif kind == "done" and i >= len(variants):
            runs[v].append(payload)
    sf = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    if None in errors:
        return [{"site": s, "query": name, "sf": sf, "error_with": errors[None]} for s in sites]
    base = runs[None]
    out = []
    for s in sites:
        rec = {"site": s, "query": name, "sf": sf}
        if s in errors:
            rec["error_without"] = errors[s]
            out.append(rec)
            continue
        wo = runs[s]
        med_with = statistics.median(x["total_s"] for x in base)
        med_wo = statistics.median(x["total_s"] for x in wo)
        rec.update(
            {
                "with_s": round(med_with, 3),
                "without_s": round(med_wo, 3),
                "slowdown_without": round(med_wo / med_with - 1, 3),
                "with_runs": [round(x["total_s"], 3) for x in base],
                "without_runs": [round(x["total_s"], 3) for x in wo],
                "construct_jobs": [base[-1]["jobs"], wo[-1]["jobs"]],
                "plan_lines": [base[-1]["plan_lines"], wo[-1]["plan_lines"]],
                "deterministic": [base[-1]["deterministic"], wo[-1]["deterministic"]],
                "site_deterministic": wo[-1]["site_deterministic"],
                "reached_warm": all(x["reached"] for x in wo),
                "answer_stable_with": len({x["answer"] for x in base}) == 1,
                "answer_same": {x["answer"] for x in wo} <= {x["answer"] for x in base},
            }
        )
        out.append(rec)
    return out


def verdict(recs: list[dict]) -> tuple[str, str]:
    """(keep|delete, reason) from one site's records over queries and sfs.
    A run that never reached the site (it only runs inside a memoized
    build, which warm runs skip) measures nothing about it."""
    recs = [r for r in recs if r.get("reached_warm", True)]
    if not recs:
        return "keep", "reached only while a memoized build runs"
    for r in recs:
        if "error_with" in r:
            return "keep", f"{r['query']} fails with the checkpoint: {r['error_with']}"
        if "error_without" in r:
            return "keep", f"{r['query']} fails without it at {r['sf']}"
        if not r["answer_same"] and r["answer_stable_with"]:
            return "keep", f"{r['query']} answer changes without it at {r['sf']}"
        if r["site_deterministic"] is False:
            return "keep", "materializes a nondeterministic relation"
    slow = [r for r in recs if r["slowdown_without"] > _NOISE]
    if slow:
        r = max(slow, key=lambda x: x["slowdown_without"])
        return "keep", (
            f"{r['query']} {r['with_s']} -> {r['without_s']} s without it at {r['sf']}"
        )
    return "delete", "no query is slower without it beyond the noise floor"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--list", action="store_true", help="print the site classes and exit")
    ap.add_argument("--sites", nargs="*", help="candidate sites to sweep (default: all)")
    fixtures = os.path.dirname(DEFAULT_SF_DIR)
    ap.add_argument(
        "--sf",
        nargs="*",
        default=[os.path.join(fixtures, "sf0.01"), os.path.join(fixtures, "sf0.1")],
    )
    ap.add_argument("--reach", help="JSON file caching the reach map")
    args = ap.parse_args()

    classes = classify_sites()
    if args.list:
        for site, kind in classes.items():
            print(kind, site)
        kinds = [k for k in classes.values()]
        print({k: kinds.count(k) for k in sorted(set(kinds))}, file=sys.stderr)
        return
    chosen = args.sites or [s for s, k in classes.items() if k == "candidate"]
    bad = [s for s in chosen if classes.get(s) != "candidate"]
    if bad:
        sys.exit(f"not candidate sites: {bad}")

    if args.reach and os.path.exists(args.reach):
        with open(args.reach) as fh:
            reach = json.load(fh)
        stale = {s for hits in reach.values() for s in hits} - set(classes)
        if stale:
            sys.exit(f"{args.reach} names sites the source no longer has: {sorted(stale)}")
    else:
        ctx = multiprocessing.get_context("spawn")
        recv, send = ctx.Pipe(duplex=False)
        proc = ctx.Process(target=_reach_child, args=(send, args.sf[0]))
        proc.start()
        send.close()
        reach = recv.recv()
        proc.join()
        if args.reach:
            with open(args.reach, "w") as fh:
                json.dump(reach, fh, indent=1)

    by_site: dict[str, list[dict]] = {s: [] for s in chosen}
    for sf_dir in args.sf:
        for name, hits in sorted(reach.items()):
            sites = [s for s in hits if s in by_site]
            if not sites:
                continue
            for rec in sweep_query(name, sf_dir, sites, args.sf[0]):
                by_site[rec["site"]].append(rec)
                print(json.dumps(rec), flush=True)
    for site, recs in by_site.items():
        keep, reason = verdict(recs) if recs else ("keep", "not reached")
        print(
            json.dumps(
                {
                    "summary": site,
                    "queries": sorted({r["query"] for r in recs}),
                    "verdict": keep,
                    "reason": reason,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
