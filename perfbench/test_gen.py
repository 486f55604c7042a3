"""Tests of the input generators: python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import os
import shutil
import tempfile
import unittest
from unittest import mock

import gen

# Small sizes keep the tests fast; the generators are the same.
SMALL = {
    "kg_build": {"docs": 300},
    "link_heavy": {"mentions": 250},
    "rdfxml_file": {"files": 2, "file_bytes": 20_000},
    "suite": {"docs": 80, "vectors": 40, "dim": 8, "events": 100, "users": 5},
}


@mock.patch.dict(gen.SIZES, SMALL)
class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.root = tempfile.mkdtemp(prefix="perfbench-test-")

    def tearDown(self):
        shutil.rmtree(self.root)

    def make(self, workload, seed, name):
        out = os.path.join(self.root, name)
        os.makedirs(out)
        gen.generate(workload, seed, out)
        return gen.fingerprint(out)

    def test_same_seed_same_fingerprint(self):
        for w in SMALL:
            with self.subTest(workload=w):
                self.assertEqual(self.make(w, 7, f"{w}-a"), self.make(w, 7, f"{w}-b"))

    def test_other_seed_other_fingerprint(self):
        for w in SMALL:
            with self.subTest(workload=w):
                self.assertNotEqual(self.make(w, 7, f"{w}-a"), self.make(w, 8, f"{w}-b"))

    def test_ensure_reuses_only_a_matching_stamp(self):
        first = gen.ensure("link_heavy", 1, self.root)
        stamp = os.path.join(first, "_STAMP")
        mtime = os.stat(stamp).st_mtime_ns
        self.assertEqual(gen.ensure("link_heavy", 1, self.root), first)
        self.assertEqual(os.stat(stamp).st_mtime_ns, mtime)
        gen.ensure("link_heavy", 2, self.root)
        self.assertIn('"seed": 2', open(stamp).read())

    def test_documents_hold_the_hub_and_malformed_documents(self):
        ids = gen.documents(3, 300).column("doc_id").to_pylist()
        self.assertEqual(ids, list(range(300)))
        self.assertIn(11, ids)
        self.assertTrue(any(d % 65 == 63 for d in ids))

    def test_link_truth_labels_every_mention(self):
        universe, truth = gen.link_universe(5, 250)
        self.assertEqual(universe.column("mention").to_pylist(), truth.column("mention").to_pylist())
        self.assertEqual(len(set(universe.column("mention").to_pylist())), 250)
        self.assertLess(len(set(truth.column("entity").to_pylist())), 250)

    def test_rdfxml_file_reaches_its_size(self):
        # the triple count itself is checked against the parser on every run
        text, triples = gen.rdfxml_file(4, 0, 5_000)
        self.assertTrue(text.startswith("<?xml") and text.endswith("</rdf:RDF>\n"))
        self.assertGreaterEqual(len(text), 5_000)
        self.assertGreater(triples, 0)


if __name__ == "__main__":
    unittest.main()
