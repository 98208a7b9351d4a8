#!/usr/bin/env python3
"""Tests of the benchmark's input generator.

Run from the repository root: python3 -m unittest perfbench/test_gen.py
"""
import filecmp
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


class GenTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def gen(self, workload, seed, name):
        out = os.path.join(self.tmp.name, name)
        gen.generate(workload, seed, out)
        return out

    def test_same_seed_gives_identical_bytes(self):
        for w in gen.SIZES:
            a, b = self.gen(w, 7, f"{w}-a"), self.gen(w, 7, f"{w}-b")
            names = sorted(os.listdir(a))
            self.assertEqual(names, sorted(os.listdir(b)))
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)

    def test_other_seed_gives_other_inputs(self):
        a, b = self.gen("build-serve", 1, "a"), self.gen("build-serve", 2, "b")
        self.assertFalse(filecmp.cmp(f"{a}/lineitem.parquet",
                                     f"{b}/lineitem.parquet", shallow=False))

    def test_every_workload_writes_every_table(self):
        for w in gen.SIZES:
            out = self.gen(w, 3, w)
            for t in TABLES:
                self.assertGreater(
                    pq.read_metadata(f"{out}/{t}.parquet").num_rows, 0, t)

    def test_mapreduce_corpus_matches_documents(self):
        out = self.gen("mapreduce", 5, "mr")
        with open(f"{out}/corpus.txt") as f:
            lines = f.read().split("\n")[:-1]
        docs = pq.read_table(f"{out}/documents.parquet").sort_by("doc_id")
        self.assertEqual(docs.column("text").to_pylist(), lines)
        share = sum(gen.GREP_PATTERN in ln for ln in lines) / len(lines)
        self.assertAlmostEqual(share, gen.GREP_SHARE, delta=0.02)
        words = {w for ln in lines for w in ln.split()}
        self.assertGreater(len(words), 1000)


if __name__ == "__main__":
    unittest.main()
