#!/usr/bin/env python3
"""Seeded input generator for the benchmark workloads.

Usage: gen.py <workload> <seed> <out_dir>

One process writes every input a workload reads, derived only from the
seed: the same (workload, seed) always yields byte-identical files.
Row order is a seeded permutation, so no query can lean on file order.

Tables keep the schemas and value domains of the engine's fixture
tables (FIXTURES.md section 1), so every declared query and its DuckDB
oracle run unchanged on them. Each workload writes all ten tables; the
ones it exercises are sized up:

- ``build-serve``: the star schema plus ``events``, and ``documents``
  with a 5% share of near-duplicates (the fixture's ``<text> dup``
  shape); ``embeddings`` are 64-dim unit vectors around ten label
  centroids;
- ``mapreduce``: a Zipf corpus, written both as ``corpus.txt`` (one
  line per record) and as a ``documents`` table with the same lines
  (``doc_id`` = 0-based line number).
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Scale of each workload's inputs: star-schema scale factor (sf0.1 =
# 600k lineitem rows), documents, embeddings and, for mapreduce, corpus
# lines. Some queries register all tables, so every workload writes
# every table.
SIZES = {
    "build-serve": dict(sf=0.01, docs=600, vecs=200),
    "mapreduce": dict(sf=0.001, lines=60_000, vecs=200),
}
MR_VOCAB = 40_000
MR_ZIPF_S = 1.1
# This share of the corpus lines carries the grep pattern, the engine's
# `TextQueries.GrepPattern`.
GREP_PATTERN = "data"
GREP_SHARE = 0.1

DOC_VOCAB = ("spark window merge table column vector stream value data "
             "small join filter big group hash customer sort order slow "
             "line part fast row the agg key query a scan batch").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
PNOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(table, path, rng):
    """Write `table` with its rows in a seeded permutation."""
    order = rng.permutation(table.num_rows)
    pq.write_table(table.take(pa.array(order)), path,
                   compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def star_schema(rng, out, sf):
    n_cust = int(150_000 * sf)
    n_supp = max(25, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = 4 * n_ord
    n_ev = int(1_000_000 * sf)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}), f"{out}/region.parquet", rng)
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet", rng)
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet", rng)
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet", rng)
    keys = np.arange(n_part)
    adj = np.array(PADJ)[rng.integers(0, 8, n_part)]
    noun = np.array(PNOUN)[rng.integers(0, 8, n_part)]
    _write(pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)}),
        f"{out}/part.parquet", rng)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[
            rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + DAY_US * rng.integers(
            0, 2404, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet", rng)
    flags = np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": flags,
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(EPOCH_1995 + DAY_US * rng.integers(
            1, 2499, n_line))}),
        f"{out}/lineitem.parquet", rng)
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev),
                            pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.0, 560.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet", rng)


def documents_table(texts, rng):
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def documents(rng, out, n):
    vocab = np.array(DOC_VOCAB)
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    _write(documents_table(texts, rng), f"{out}/documents.parquet", rng)


def embeddings(rng, out, n):
    centroids = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n)
    vecs = centroids[labels] + 2.0 * rng.normal(size=(n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{out}/embeddings.parquet", rng)


def zipf_corpus(rng, out, n_lines):
    # Random lowercase words of 3-10 letters; rank r has weight r^-s.
    lens = rng.integers(3, 11, MR_VOCAB)
    letters = rng.integers(0, 26, int(lens.sum())).astype(np.uint8) + 97
    words, pos = [], 0
    for n in lens:
        words.append(letters[pos:pos + n].tobytes().decode())
        pos += n
    words = np.array(sorted(set(words)))
    weights = 1.0 / np.arange(1, len(words) + 1) ** MR_ZIPF_S
    weights = rng.permutation(weights)
    per_line = rng.integers(4, 21, n_lines)
    toks = words[rng.choice(len(words), int(per_line.sum()),
                            p=weights / weights.sum())]
    grep = rng.random(n_lines) < GREP_SHARE
    lines, pos = [], 0
    for n, g in zip(per_line, grep):
        line = " ".join(toks[pos:pos + n])
        pos += n
        lines.append(f"{line} {GREP_PATTERN}" if g else line)
    with open(f"{out}/corpus.txt", "w") as f:
        f.write("\n".join(lines) + "\n")
    _write(documents_table(lines, rng), f"{out}/documents.parquet", rng)


def generate(workload, seed, out):
    size = SIZES[workload]
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    star_schema(rng, out, size["sf"])
    if workload == "mapreduce":
        zipf_corpus(rng, out, size["lines"])
    else:
        documents(rng, out, size["docs"])
    embeddings(rng, out, size["vecs"])


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in SIZES:
        sys.exit(f"usage: gen.py {{{'|'.join(SIZES)}}} <seed> <out>")
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
