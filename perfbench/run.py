"""The repository's benchmark: one command per workload.

Run from the repository root::

    python3 perfbench/run.py --workload window --seed 1 --seconds 18 --trace 0

It generates the workload's inputs from the seed, samples the set-up time in
fresh processes, runs the workload in a fresh ``local[<cores>]`` Spark
process as a closed loop with one client (see ``worker.py``), checks every
answer, and prints each metric on its own line followed by one JSON object:
the end-to-end metrics with ``--trace 0``, the per-layer metrics of a traced
run with ``--trace 1``. Metrics, layers and workloads are described in
``perfbench/README.md``.

Each run works in its own directory under ``.bench_build/perfbench/`` (its
own ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and Spark warehouse) and removes it at
the end; traced runs leave their spans in ``.bench_build/perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
# Explicit and far below host RAM. The inputs are small, and a small heap
# cap keeps the JVM's peak RSS from drifting with its heap-sizing heuristics.
DRIVER_MEMORY = "1g"
SETUP_SAMPLES = 2  # the worker's own set-up plus one set-up-only process
DEADLINE_S = 170

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "peak_rss_mb": "MB",
    "ok_frac": "1",
}
PER_LAYER = {
    "session.build_s": "s",
    "operators.import_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "operators.construct_s": "s",
    "operators.eager_jobs": "count",
    "operators.cold_extra_s": "s",
    "streaming.drain_s": "s",
    "plan.catalyst_ms": "ms",
    "exec.collect_s": "s",
    "exec.task_s": "s",
    "exec.busy_cores": "cores",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.gc_s": "s",
    "exec.cached_mb": "MB",
    "exec.failed_tasks": "count",
    "mapreduce.holistic_s": "s",
    "mapreduce.combiner_s": "s",
    "mapreduce.taskfn_s": "s",
    "mapreduce.native_ratio": "ratio",
    "mapreduce.shuffle_mb": "MB",
    "mapreduce.combine_ratio": "ratio",
    "trace.overhead": "ratio",
    "trace.counts_repeat": "bool",
}


class BenchError(Exception):
    pass


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def _stop_group(pgid: int) -> None:
    """Stop every process left in a child's process group (the Spark JVM
    and its Python workers) and wait until they are gone."""
    for sig, wait_s in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + wait_s
        while _group_pids(pgid) and time.monotonic() < end:
            time.sleep(0.05)
        if not _group_pids(pgid):
            return


def _child(argv: list[str], env: dict, cwd: str, log: str, deadline: float) -> float:
    """Run ``worker.py argv`` in a fresh process group; return its start
    time on the monotonic clock."""
    with open(log, "ab") as err:
        start = time.monotonic()
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), *argv],
                                env=env, cwd=cwd, stdout=err, stderr=err,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc.pid)
            proc.wait()
    if code != 0:
        with open(log, encoding="utf-8", errors="replace") as fh:
            tail = fh.read()[-3000:]
        raise BenchError(f"worker {argv[:2]} {'timed out' if code is None else f'exited {code}'}"
                         f"\n{tail}")
    return start


def _read(path: str) -> dict:
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def _entries(path: str) -> set[str]:
    return set(os.listdir(path)) if os.path.isdir(path) else set()


def measure(args, root: str) -> dict:
    deadline = time.monotonic() + DEADLINE_S
    base = os.path.join(root, ".bench_build", "perfbench")
    work = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    # The streaming operators split events.parquet into a cache keyed by
    # the input's path; every run has a new input path, so its entries are
    # removed with the run.
    stream_cache = os.path.join(root, ".cache", "stream_batches")
    cached_before = _entries(stream_cache)
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "data", "cwd")}
    for d in dirs.values():
        os.makedirs(d)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([root, HERE]),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        # The JVM extracts native libraries to java.io.tmpdir and keeps a
        # perf-data file in /tmp; both would land outside the run directory.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        "TZ": "UTC",
    })
    log = os.path.join(work, "worker.log")
    try:
        truth = workloads.prepare(args.workload, args.seed, dirs["data"])
        truth_file = os.path.join(work, "truth.json")
        with open(truth_file, "w", encoding="utf-8") as fh:
            json.dump(truth, fh)

        setup_s = []
        if not args.trace:
            for i in range(SETUP_SAMPLES - 1):
                out = os.path.join(work, f"probe{i}.json")
                start = _child(["--probe", "--out", out], env, dirs["cwd"], log, deadline)
                setup_s.append(_read(out)["setup"]["ready"] - start)

        out = os.path.join(work, "result.json")
        trace_file = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
        start = _child(["--workload", args.workload, "--data", dirs["data"],
                        "--truth", truth_file, "--seed", str(args.seed),
                        "--seconds", str(args.seconds), "--trace", str(args.trace),
                        "--trace-file", trace_file, "--out", out],
                       env, dirs["cwd"], log, deadline)
        result = _read(out)
        setup_s.append(result["setup"]["ready"] - start)
        result["setup_samples"] = setup_s
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)
        for entry in _entries(stream_cache) - cached_before:
            shutil.rmtree(os.path.join(stream_cache, entry), ignore_errors=True)


def end_to_end(result: dict) -> tuple[dict, dict]:
    """The end-to-end metrics and the sample count behind each."""
    warm = result["passes"][2:]  # after the cold and the settling pass
    latencies = [c + e for p in warm for _, c, e in p["samples"]]
    values = {
        "setup_s": statistics.median(result["setup_samples"]),
        "first_pass_s": result["passes"][0]["wall"],
        "pass_s": statistics.median(p["wall"] for p in warm),
        "query_p50_s": statistics.median(latencies),
        "peak_rss_mb": result["peak_rss_mb"],
        "ok_frac": 1 - result["failed"] / result["attempted"],
    }
    counts = {"setup_s": len(result["setup_samples"]), "first_pass_s": 1,
              "pass_s": len(warm), "query_p50_s": len(latencies),
              "peak_rss_mb": 1, "ok_frac": result["attempted"]}
    return values, counts


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # Turn SIGTERM into an exit that runs the clean-up below: stop the
    # worker's process group and remove the run directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "lua_mapreduce_spark", "__init__.py")):
        print("perfbench: run from the repository root; lua_mapreduce_spark/ not found",
              file=sys.stderr)
        return 2
    try:
        result = measure(args, root)
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1

    for m in result["mismatches"]:
        print(f"FAILED {m['query']} pass {m['pass']}: {m['error'].strip()[-300:]}")
    if args.trace:
        layer = dict(result["layer"])
        layer.update({k: result["setup"][k] for k in ("session.build_s", "operators.import_s")})
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        counts = {}
    else:
        values, counts = end_to_end(result)
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(f"{'passes (cold, warm...)':28s} " + " ".join(f"{p['wall']:.2f}" for p in result["passes"]) + " s")
    for name, m in metrics.items():
        n = f"  (n={counts[name]})" if name in counts else ""
        print(f"{name:28s} {m['value']:.6g} {m['unit']}{n}")
    print(json.dumps({"correct": result["failed"] == 0, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
