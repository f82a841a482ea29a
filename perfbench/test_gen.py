"""Tests of the benchmark's seeded generators.

    python3 perfbench/test_gen.py
"""
import itertools
import json
import os
import re
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def tables(d):
    return {f: pq.read_table(os.path.join(d, f)) for f in sorted(os.listdir(d)) if f.endswith(".parquet")}


class SeededInputs(unittest.TestCase):

    def test_same_seed_same_op_streams(self):
        self.assertEqual(gen.dashboard_ops(7, 60), gen.dashboard_ops(7, 60))
        self.assertEqual(gen.modeling_ops(7, 60), gen.modeling_ops(7, 60))

    def test_different_seeds_differ(self):
        self.assertNotEqual(gen.dashboard_ops(7, 60), gen.dashboard_ops(8, 60))
        self.assertNotEqual(gen.modeling_ops(7, 60), gen.modeling_ops(8, 60))
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.gen_tables(a, 7, 0.001)
            gen.gen_tables(b, 8, 0.001)
            ta, tb = tables(a), tables(b)
            self.assertFalse(ta["lineitem.parquet"].equals(tb["lineitem.parquet"]))
            self.assertFalse(ta["documents.parquet"].equals(tb["documents.parquet"]))

    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.gen_tables(a, 7, 0.001)
            gen.gen_tables(b, 7, 0.001)
            ta, tb = tables(a), tables(b)
            self.assertEqual(sorted(ta), sorted(tb))
            for name in ta:
                self.assertTrue(ta[name].equals(tb[name]), name)
            with open(os.path.join(a, "truth.json")) as fa, open(os.path.join(b, "truth.json")) as fb:
                self.assertEqual(json.load(fa), json.load(fb))

    def test_dashboard_mix_is_seed_independent(self):
        tmpl = [t.__name__ for t in gen.dashboard_templates()]
        for seed in (1, 2):
            ops = gen.dashboard_ops(seed, 40)
            repeats = sum(1 for i, o in enumerate(ops) if o["sql"] in {p["sql"] for p in ops[:i]})
            # about half the ops repeat an earlier query text, for every seed
            self.assertTrue(0.35 <= repeats / len(ops) <= 0.75, repeats)
            self.assertTrue(all(o["twin"] and "AGGREGATE" not in o["twin"] for o in ops))
        self.assertEqual(len(tmpl), 15)

    def test_modeling_reads_only_defined_measures(self):
        for seed in (1, 2, 3):
            views = {}
            for op in gen.modeling_ops(seed, 200):
                if op["kind"] in ("setup", "ddl"):
                    views[op["view"]] = op["measures"]
                    continue
                m = re.search(r"AGGREGATE\((\w+)\).* FROM (mv_\d+)", op["sql"])
                if op["kind"] == "read" and m:
                    self.assertIn(m.group(1), views[m.group(2)], op["sql"])
            kinds = {op["kind"] for op in gen.modeling_ops(seed, 200)}
            self.assertEqual(kinds, {"setup", "ddl", "read", "ctas"})


class PlantedFamilies(unittest.TestCase):

    def test_families_recoverable_from_the_corpus(self):
        with tempfile.TemporaryDirectory() as d:
            truth = gen.gen_corpus(d, 5, n_docs=400, n_vecs=50)
            docs = pq.read_table(os.path.join(d, "documents.parquet")).to_pydict()
            self.assertEqual(docs["doc_id"], list(range(400)))
            texts = docs["text"]
            found = sorted([a, b] for a, b in itertools.combinations(range(len(texts)), 2)
                           if gen.jaccard(texts[a], texts[b]) >= 0.7)
            # every near-duplicate pair in the corpus is a planted one, and
            # every planted family member pairs up with its family
            self.assertEqual(found, truth["pairs"])
            fam = truth["family"]
            self.assertTrue(all(fam[a] == fam[b] != -1 for a, b in found))
            self.assertGreater(sum(f >= 0 for f in fam), 0)
            self.assertLess(sum(f >= 0 for f in fam), len(fam) / 2)
            norm = {" ".join(t.lower().split()) for t in texts}
            self.assertEqual(len(norm), truth["distinct_texts"])
            self.assertEqual(sum(len(t.split()) for t in texts), truth["tokens"])


if __name__ == "__main__":
    unittest.main()
