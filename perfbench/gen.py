"""Seeded input generators for the benchmark workloads.

Every table is a pure function of the seed: the same seed writes
byte-identical parquet and text files. The engine only ever sees the files;
the generator also returns what it knows about them (exact word
frequencies, per-source grep counts) so the benchmark can
check answers without trusting the engine.

* ``write_star`` writes the ten-table schema the operator registry reads
  (TPC-H-ish star plus events, documents and embeddings), shaped like the
  engine's fixture directories: the same row counts per scale factor,
  uniform keys, the same categorical domains and value ranges, every
  ``l_orderkey`` backed by an order row.
* ``write_corpus`` writes a Zipf-distributed text corpus twice: as
  ``documents.parquet`` (split into several row groups so scans use every
  core) and as ``shards/*.txt`` for task-file jobs that read shards
  themselves.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(path: str, columns: dict, row_groups: int = 1) -> None:
    table = pa.table(columns)
    rows = max(1, -(-table.num_rows // row_groups))
    pq.write_table(table, path, row_group_size=rows, compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100), n) / 100.0, 2)


def _days(rng: np.random.Generator, start_days: int, span_days: int, n: int) -> pa.Array:
    us = _EPOCH_1995 + (start_days + rng.integers(0, span_days, n)) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def _docs(rng: np.random.Generator, n: int) -> list[str]:
    """Small-vocabulary documents; about one in twenty repeats an earlier
    document with ' dup' markers appended, for the dedup operators."""
    texts: list[str] = []
    vocab = np.array(DOC_VOCAB)
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 4)))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]))
    return texts


def write_star(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten registry tables at scale factor ``sf`` (6M lineitem
    rows per unit, as in the engine's fixtures; documents and embeddings
    stay at 500 rows at every scale). Returns the row count per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part, n_user = (round(k * sf) for k in (150_000, 10_000, 200_000, 15_000))
    n_ord, n_line, n_ev, n_doc = round(1_500_000 * sf), round(6_000_000 * sf), round(1_000_000 * sf), 500

    tables = {}
    tables["region"] = {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    tables["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    tables["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}
    tables["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)}
    tables["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, 0, 2404, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}
    tables["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, 1, 2498, n_line)}
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_user, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(0.01 + rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    texts = _docs(rng, n_doc)
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    vecs = rng.standard_normal((n_doc, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_doc).astype(np.int32)}

    for name, columns in tables.items():
        _write(f"{out_dir}/{name}.parquet", columns)
    return {name: len(next(iter(columns.values()))) for name, columns in tables.items()}


@dataclass
class CorpusTruth:
    """What the generator knows about the corpus it wrote."""

    word_counts: dict[str, int]  # lowercase alphabetic word -> occurrences
    grep_counts: dict[str, int]  # source -> documents containing 'the '


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = {"the"}
    while len(words) < size:
        for n in rng.integers(2, 11, size):
            words.add("".join(letters[rng.integers(0, 26, n)]))
            if len(words) == size:
                break
    words.remove("the")
    return np.array(["the"] + sorted(words))  # rank 1 is 'the', as in English


def write_corpus(
    out_dir: str,
    seed: int,
    n_docs: int,
    mean_words: int,
    vocab_size: int,
    n_shards: int,
    row_groups: int,
) -> CorpusTruth:
    """Write a Zipf(1.07) corpus as ``documents.parquet`` plus
    ``shards/part-NNNN.txt`` (one document per line, documents dealt
    round-robin to shards). About one word in twelve starts a capitalized
    sentence and the word before it ends in '.', so tokenizers must split
    punctuation and fold case; the counts returned are over the lowercase
    alphabetic runs."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, vocab_size)
    weights = 1.0 / np.arange(1, vocab_size + 1) ** 1.07
    lengths = rng.integers(mean_words // 2, mean_words * 3 // 2 + 1, n_docs)
    ids = rng.choice(vocab_size, int(lengths.sum()), p=weights / weights.sum())
    tokens = vocab[ids].astype(object)
    starts = np.flatnonzero(rng.random(len(ids)) < 0.08)
    tokens[starts] = [w.capitalize() for w in tokens[starts]]
    ends = starts[starts > 0] - 1
    tokens[ends] = [w + "." for w in tokens[ends]]
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(tokens[offsets[i]:offsets[i + 1]]) for i in range(n_docs)]
    sources = [f"src{i % 20}" for i in range(n_docs)]
    counts = np.bincount(ids, minlength=vocab_size)

    os.makedirs(f"{out_dir}/shards", exist_ok=True)
    parquet = f"{out_dir}/documents.parquet"
    _write(parquet, {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": ["en"] * n_docs,
        "source": sources,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}, row_groups)
    for s in range(n_shards):
        with open(f"{out_dir}/shards/part-{s:04d}.txt", "w", encoding="utf-8") as fh:
            fh.write("".join(t + "\n" for t in texts[s::n_shards]))
    grep = Counter(src for src, t in zip(sources, texts) if "the " in t.lower())
    return CorpusTruth(
        word_counts={str(vocab[i]): int(c) for i, c in enumerate(counts) if c},
        grep_counts=dict(grep),
    )
