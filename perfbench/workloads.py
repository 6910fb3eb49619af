"""The benchmark's workloads: frozen query lists and their seeded inputs.

The query list is copied here on purpose. The engine's own query window
(``_DRIVER_WINDOW`` in ``lua_mapreduce_spark.operators``) rotates as queries
are added; a benchmark that imported it would measure different work after
every rotation.
"""

from __future__ import annotations

import os

import gen

# Ten of the 50 queries of the engine's query window as it stood when the
# benchmark was defined, in window order. A pass of the whole window takes
# longer than a run allows, so the ten were chosen from a traced per-query
# profile of the whole window (README.md, "Choosing the window slice"): the
# set whose shares of construction, stream drains, eager and collect jobs,
# load_table calls and Catalyst time come closest to the whole window's, at
# a sixth of its warm pass and with little cold-start cost of its own.
WINDOW = [
    "curation_pii_pattern_scan",
    "graph_local_clustering_coefficient",
    "events_funnel_time_to_convert",
    "events_anomaly_seasonal_residual",
    "text_readability_by_source",
    "multimodal_resize_thumbnail",
    "streaming_sliding_counts",
    "upsert_snapshot_merge",
    "window_range_frame",
    "scalar_array_map_funcs",
]

# The window's inputs: a generated star schema at the scale the engine's
# correctness fixture uses (60,000 lineitem rows).
WINDOW_SF = 0.01

# The five MapReduce jobs of one mr_corpus pass (built in worker.py).
MR_JOBS = [
    "mr_wordcount",
    "mr_wordcount_combiner",
    "mr_grep_count",
    "wordcount_task",
    "text_wordcount",
]

# The mr_corpus input: a Zipf corpus of about 440k words (2.7 MB of text).
CORPUS = {"n_docs": 2000, "mean_words": 220, "vocab_size": 20000, "n_shards": 16, "row_groups": 16}

WORKLOADS = {"window": WINDOW, "mr_corpus": MR_JOBS}

# Nominal warm-pass time of each workload on a quiet 4-core host. A run
# measures ``round(seconds / PASS_S)`` passes (at least three), a number that
# depends only on the arguments: stopping on elapsed time instead would let
# a slow host measure fewer passes, taken earlier in the JIT warm-up, and
# the pass count itself would move ``pass_s``.
PASS_S = {"window": 6.0, "mr_corpus": 4.5}


def measured_passes(workload: str, seconds: float, trace: bool) -> int:
    return max(4 if trace else 3, round(seconds / PASS_S[workload]))


def prepare(workload: str, seed: int, data_dir: str) -> dict:
    """Write the workload's inputs under ``data_dir``; return what the
    generator knows about them (JSON-serializable)."""
    if workload == "window":
        gen.write_star(data_dir, seed, sf=WINDOW_SF)
        return {}
    if workload == "mr_corpus":
        truth = gen.write_corpus(data_dir, seed, **CORPUS)
        return {
            "word_counts": truth.word_counts,
            "grep_counts": truth.grep_counts,
            "shards": os.path.join(data_dir, "shards"),
        }
    raise KeyError(f"unknown workload {workload!r}; known: {sorted(WORKLOADS)}")

