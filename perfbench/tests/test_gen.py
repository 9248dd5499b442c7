"""Specs for the seeded input generator.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402


def docs_containing(path, token):
    texts = pq.read_table(path, columns=["text"]).column("text").to_pylist()
    return sum(1 for t in texts if token in re.findall(r"[a-z0-9]+", t.lower()))


class GenSpec(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.out = {}
        for wl in ("serve", "curate"):
            for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
                d = os.path.join(cls.tmp.name, f"{wl}-{tag}")
                cls.out[(wl, tag)] = (d, gen.generate(wl, seed, d))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_identical_digests(self):
        for wl in ("serve", "curate"):
            self.assertEqual(self.out[(wl, "a")][1], self.out[(wl, "b")][1])

    def test_other_seed_gives_other_digests(self):
        for wl in ("serve", "curate"):
            a, c = self.out[(wl, "a")][1], self.out[(wl, "c")][1]
            self.assertEqual(set(a), set(c))
            # region and nation are fixed reference tables, and the query
            # order is one of two; every other file is drawn from the seed
            fixed = ("region.parquet", "nation.parquet", "queries.json")
            drawn = [f for f in a if not f.endswith(fixed)]
            self.assertTrue(all(a[f] != c[f] for f in drawn), [f for f in drawn if a[f] == c[f]])

    def test_needles_occur_in_exactly_one_document(self):
        d = self.out[("serve", "a")][0]
        with open(os.path.join(d, "serve.json")) as f:
            spec = json.load(f)
        corpus = os.path.join(d, "corpus", "documents.parquet")
        self.assertEqual(len(spec["needles"]), gen.SERVE_NEEDLES)
        for tok in spec["needles"]:
            self.assertEqual(docs_containing(corpus, tok), 1, tok)

    def test_probe_marker_occurs_in_exactly_one_document(self):
        for wl, corpus in (("serve", "corpus/documents.parquet"), ("curate", "sf/documents.parquet")):
            d = self.out[(wl, "a")][0]
            with open(os.path.join(d, "probe", "probe.json")) as f:
                spec = json.load(f)
            wave = os.path.join(d, "probe", "wave.parquet")
            self.assertEqual(docs_containing(wave, spec["marker"]), 1, wl)
            self.assertEqual(docs_containing(os.path.join(d, corpus), spec["marker"]), 0, wl)
            self.assertEqual(len(set(spec["deletes"])), gen.PROBE_DELETES)

    def test_operation_mix(self):
        with open(os.path.join(self.out[("serve", "a")][0], "serve.json")) as f:
            ops = [o for c in json.load(f)["clients"] for o in c]
        share = lambda kind: sum(o["op"] == kind for o in ops) / len(ops)
        self.assertAlmostEqual(share("search"), 0.92, delta=0.02)
        self.assertAlmostEqual(share("deep_dive"), 0.05, delta=0.01)
        self.assertAlmostEqual(share("click"), 0.03, delta=0.01)


if __name__ == "__main__":
    unittest.main()
