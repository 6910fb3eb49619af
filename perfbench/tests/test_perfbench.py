"""Tests of the benchmark's input generators, answer digest and metric list.

Run from the repository root::

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import worker  # noqa: E402

CORPUS = {"n_docs": 120, "mean_words": 40, "vocab_size": 500, "n_shards": 4, "row_groups": 3}


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def test_star_is_a_function_of_the_seed(tmp_path):
    gen.write_star(str(tmp_path / "a"), seed=7, sf=0.001)
    gen.write_star(str(tmp_path / "b"), seed=7, sf=0.001)
    gen.write_star(str(tmp_path / "c"), seed=8, sf=0.001)
    a, b, c = (_files(str(tmp_path / d)) for d in "abc")
    assert len(a) == 10
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_star_keys_are_unique_and_every_lineitem_has_its_order(tmp_path):
    rows = gen.write_star(str(tmp_path), seed=3, sf=0.001)
    assert rows["lineitem"] == 6000 and rows["orders"] == 1500
    read = lambda t, col: pq.read_table(tmp_path / f"{t}.parquet").column(col).to_pylist()  # noqa: E731
    for table, key in [("customer", "c_custkey"), ("supplier", "s_suppkey"),
                       ("part", "p_partkey"), ("orders", "o_orderkey"),
                       ("events", "event_id"), ("documents", "doc_id"),
                       ("embeddings", "vec_id")]:
        keys = read(table, key)
        assert len(keys) == rows[table] == len(set(keys)), table
    orders = set(read("orders", "o_orderkey"))
    assert set(read("lineitem", "l_orderkey")) <= orders
    assert set(read("orders", "o_custkey")) <= set(read("customer", "c_custkey"))
    assert set(read("lineitem", "l_partkey")) <= set(read("part", "p_partkey"))
    assert set(read("lineitem", "l_suppkey")) <= set(read("supplier", "s_suppkey"))


def test_corpus_is_a_function_of_the_seed(tmp_path):
    gen.write_corpus(str(tmp_path / "a"), seed=5, **CORPUS)
    gen.write_corpus(str(tmp_path / "b"), seed=5, **CORPUS)
    gen.write_corpus(str(tmp_path / "c"), seed=6, **CORPUS)
    a, b, c = (_files(str(tmp_path / d)) for d in "abc")
    assert len(a) == 1 + CORPUS["n_shards"]
    assert a == b
    assert a["documents.parquet"] != c["documents.parquet"]


def test_corpus_word_counts_match_the_files(tmp_path):
    truth = gen.write_corpus(str(tmp_path), seed=11, **CORPUS)
    word = re.compile(r"[A-Za-z]+")

    def count(lines) -> Counter:
        return Counter(w.lower() for line in lines for tok in line.split()
                       for w in word.findall(tok))

    docs = pq.read_table(tmp_path / "documents.parquet")
    assert docs.num_rows == CORPUS["n_docs"]
    assert pq.ParquetFile(tmp_path / "documents.parquet").num_row_groups == CORPUS["row_groups"]
    texts = docs.column("text").to_pylist()
    assert count(texts) == Counter(truth.word_counts)
    # Every whitespace token holds exactly one alphabetic run.
    assert sum(truth.word_counts.values()) == sum(len(t.split()) for t in texts)

    shard_lines = []
    for name in sorted(os.listdir(tmp_path / "shards")):
        with open(tmp_path / "shards" / name, encoding="utf-8") as fh:
            shard_lines.extend(fh)
    assert count(shard_lines) == Counter(truth.word_counts)

    sources = docs.column("source").to_pylist()
    grep = Counter(s for s, t in zip(sources, texts) if "the " in t.lower())
    assert grep == truth.grep_counts


def test_digest_ignores_row_and_column_order_and_float_noise():
    rows = [("a", 1, 0.1 + 0.2), ("b", 2, 1.5)]
    base = worker.digest(["k", "n", "x"], rows)
    assert worker.digest(["x", "k", "n"], [(1.5, "b", 2), (0.3, "a", 1)]) == base
    assert worker.digest(["k", "n", "x"], [("a", 1, 0.3), ("b", 2, 1.5)]) == base
    assert worker.digest(["k", "n", "x"], [("a", 1, 0.31), ("b", 2, 1.5)]) != base
    assert worker.digest(["k", "n", "x"], rows[:1]) != base


def test_measured_pass_count_depends_only_on_the_arguments():
    import workloads

    for name in workloads.WORKLOADS:
        assert workloads.measured_passes(name, 1, trace=False) == 3
        assert workloads.measured_passes(name, 1, trace=True) == 4
    assert workloads.measured_passes("window", 18, trace=False) == 3
    assert workloads.measured_passes("mr_corpus", 18, trace=False) == 4


def test_benchmark_json_names_the_metrics_run_prints():
    import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.workloads.WORKLOADS)
