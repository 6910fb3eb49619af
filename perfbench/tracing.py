"""Outside-in tracing for the benchmark's traced runs.

Spans are recorded around calls into the engine's public functions from the
benchmark's own code; no package code changes. Each span gets its own Spark
job group, so the jobs it ran can be looked up afterwards. Executor totals
(task time, GC, input, shuffle) come from the status store's driver
executor summary, diffed per pass; per-stage records (shuffle records,
spill) from the status store's stage data; Catalyst phase times from each
DataFrame's ``QueryPlanningTracker``. The status listener is asynchronous,
so every read first waits for the listener bus to drain.

Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

MB = 1024 * 1024


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._qid = None
        self.passes: list[dict] = []

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent and parent["id"],
               "qid": self._qid, "group": f"perfbench-{len(self.spans)}", **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def query(self, qid: str, name: str):
        """The root span of one query instance; its children share ``qid``."""
        self._qid = qid
        try:
            with self.span("query", query=name) as rec:
                yield rec
        finally:
            self._qid = None

    def query_name(self) -> str | None:
        """The query of the current query-instance span."""
        return self._stack[0].get("query") if self.enabled and self._stack else None

    def tag(self, **attrs) -> None:
        """Attach attributes to the current query-instance span."""
        if self.enabled and self._stack:
            self._stack[0].update(attrs)

    def wrap(self, fn, name: str, tag=None):
        """``fn`` with a span around every call while tracing is enabled;
        ``tag(*args)`` may return attributes for the query-instance span."""
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            if tag is not None:
                self.tag(**tag(*args))
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def catalyst_ms(self, df) -> float:
        phases = df._jdf.queryExecution().tracker().phases().iterator()
        total = 0
        while phases.hasNext():
            total += phases.next()._2().durationMs()
        return float(total)

    # -- status store -----------------------------------------------------
    def _drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def _last_job_id(self) -> int:
        jobs = self.store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.nonEmpty() else -1

    def _executor(self) -> dict:
        ex = self.store.executorSummary("driver")
        return {"task_ms": ex.totalDuration(), "gc_ms": ex.totalGCTime(),
                "input": ex.totalInputBytes(), "shuffle_read": ex.totalShuffleRead(),
                "shuffle_write": ex.totalShuffleWrite(), "tasks": ex.totalTasks(),
                "failed_tasks": ex.failedTasks(), "cached": ex.memoryUsed() + ex.diskUsed()}

    def pass_start(self) -> None:
        self._drain()
        self._pass = {"first_span": len(self.spans), "last_job": self._last_job_id(),
                      "executor": self._executor()}

    def pass_end(self, wall_s: float) -> dict:
        """Close a traced pass: resolve its spans' jobs and stages and
        return the pass's layer metrics."""
        self._drain()
        before, after = self._pass["executor"], self._executor()
        delta = {k: after[k] - before[k] for k in after}
        spans = self.spans[self._pass["first_span"]:]
        first_job, last_job = self._pass["last_job"] + 1, self._last_job_id()
        for s in spans:
            s["jobs"] = sorted(self.sc.statusTracker().getJobIdsForGroup(s["group"]))

        stages = {}  # stage id -> (shuffle write bytes, disk spill bytes)
        for job in range(first_job, last_job + 1):
            info = self.sc.statusTracker().getJobInfo(job)
            for sid in info.stageIds if info is not None else ():
                if sid not in stages:
                    try:
                        sd = self.store.lastStageAttempt(sid)
                    except Py4JJavaError:  # evicted past spark.ui.retainedStages
                        continue
                    stages[sid] = (sd.shuffleWriteBytes(), sd.diskBytesSpilled())

        def shuffle_bytes(jobs) -> int:
            seen = set()
            for job in jobs:
                info = self.sc.statusTracker().getJobInfo(job)
                seen.update(info.stageIds if info is not None else ())
            return sum(stages.get(sid, (0, 0))[0] for sid in seen)

        def total(name: str, pred=lambda s: True) -> float:
            return sum(s["end"] - s["start"] for s in spans if s["name"] == name and pred(s))

        queries = {s["qid"]: s for s in spans if s["name"] == "query"}
        mr = {"holistic": 0.0, "combiner": 0.0, "grep": 0.0, "taskfn": 0.0}
        shuffled = {"holistic": 0, "combiner": 0, "grep": 0, "taskfn": 0}
        native_s = 0.0
        for q in queries.values():
            wall = q["end"] - q["start"]
            if q["query"] == "text_wordcount":
                native_s += wall
            kind = q.get("mapreduce")
            if kind:
                mr[kind] += wall
                jobs = {j for s in spans if s["qid"] == q["qid"] for j in s["jobs"]}
                shuffled[kind] += shuffle_bytes(jobs)
        # A job belongs to collect when its span is a collect span or sits
        # below one (e.g. MapReduceJob.run called while collecting); every
        # other job of the pass ran eagerly, during construction.
        collecting: set[int] = set()
        for s in spans:  # parents come before their children
            if s["name"] == "collect" or s["parent"] in collecting:
                collecting.add(s["id"])
        collect_jobs = {j for s in spans if s["id"] in collecting for j in s["jobs"]}
        n_jobs = max(0, last_job - first_job + 1)
        pass_metrics = {
            "catalog.load_table_calls": sum(s["name"] == "catalog.load_table" for s in spans),
            "catalog.load_table_s": total("catalog.load_table"),
            "operators.construct_s": total("construct"),
            "operators.eager_jobs": n_jobs - len(collect_jobs),
            "streaming.drain_s": total("construct", lambda s: s["query"].startswith("streaming_")),
            "plan.catalyst_ms": sum(q.get("catalyst_ms", 0.0) for q in queries.values()),
            "exec.collect_s": total("collect"),
            "exec.task_s": delta["task_ms"] / 1000,
            "exec.busy_cores": delta["task_ms"] / 1000 / wall_s,
            "exec.jobs": n_jobs,
            "exec.tasks": delta["tasks"],
            "exec.input_mb": delta["input"] / MB,
            "exec.shuffle_write_mb": delta["shuffle_write"] / MB,
            "exec.shuffle_read_mb": delta["shuffle_read"] / MB,
            "exec.spill_mb": sum(spill for _, spill in stages.values()) / MB,
            "exec.gc_s": delta["gc_ms"] / 1000,
            "exec.cached_mb": after["cached"] / MB,
            "exec.failed_tasks": delta["failed_tasks"],
            "mapreduce.holistic_s": mr["holistic"],
            "mapreduce.combiner_s": mr["combiner"] + mr["grep"],
            "mapreduce.taskfn_s": mr["taskfn"],
            "mapreduce.native_ratio": mr["holistic"] / native_s if mr["holistic"] and native_s else 0.0,
            "mapreduce.shuffle_mb": sum(shuffled.values()) / MB,
            # The two word counts differ only in the combiner, so this is
            # the share of the holistic shuffle the combiner leaves.
            "mapreduce.combine_ratio":
                shuffled["combiner"] / shuffled["holistic"] if shuffled["holistic"] else 0.0,
        }
        self.passes.append(pass_metrics)
        return pass_metrics

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, "passes": self.passes}, fh)


def median_metrics(passes: list[dict]) -> dict:
    return {k: statistics.median(p[k] for p in passes) for k in passes[0]}
