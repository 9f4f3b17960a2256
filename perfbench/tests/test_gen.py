"""The generator's determinism and reuse rules.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402

SMALL = {"lineitem": 4_000, "documents": 200, "embeddings": 100}


def digest(root):
    h = hashlib.sha256()
    for dp, dns, fns in os.walk(root):
        dns.sort()
        for f in sorted(fns):
            if f == "meta.json":
                continue
            h.update(f.encode())
            with open(os.path.join(dp, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        work = os.path.join(os.path.dirname(HERE), "work")
        os.makedirs(work, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=work)
        self.sizes = dict(gen.SIZES)
        gen.SIZES["small"] = SMALL

    def tearDown(self):
        gen.SIZES.clear()
        gen.SIZES.update(self.sizes)
        shutil.rmtree(self.tmp)

    def make(self, name, seed):
        out = os.path.join(self.tmp, name)
        return out, gen.ensure(out, seed, "small")

    def test_same_seed_gives_identical_bytes(self):
        a, _ = self.make("a", 7)
        b, _ = self.make("b", 7)
        self.assertEqual(digest(a), digest(b))

    def test_other_seed_gives_other_tables_of_the_same_size(self):
        a, ma = self.make("a", 7)
        b, mb = self.make("b", 8)
        self.assertNotEqual(digest(a), digest(b))
        self.assertEqual(ma["rows"], mb["rows"])

    def test_reuse_needs_every_marker_and_the_same_seed(self):
        out, first = self.make("a", 7)
        self.assertFalse(first["reused"])
        self.assertTrue(self.make("a", 7)[1]["reused"])
        os.remove(os.path.join(out, "orders.parquet", "_SUCCESS"))
        self.assertFalse(self.make("a", 7)[1]["reused"])
        self.assertFalse(self.make("a", 9)[1]["reused"])
        with open(os.path.join(out, "meta.json")) as f:
            self.assertEqual(json.load(f)["seed"], 9)

    def test_foreign_keys_stay_in_range(self):
        tables, _ = gen.gen_tables(3, SMALL)
        n_orders = tables["orders"].num_rows
        n_part = tables["part"].num_rows
        li = tables["lineitem"]
        self.assertLess(max(li.column("l_orderkey").to_pylist()), n_orders)
        self.assertLess(max(li.column("l_partkey").to_pylist()), n_part)
        self.assertLess(max(tables["orders"].column("o_custkey").to_pylist()),
                        tables["customer"].num_rows)

    def test_planted_groups_are_near_duplicates(self):
        tables, groups = gen.gen_tables(3, SMALL)
        self.assertTrue(groups)
        text = tables["documents"].column("text").to_pylist()

        def shingles(t):
            w = t.split()
            return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
        for g in groups:
            a = shingles(text[g[0]])
            for d in g[1:]:
                b = shingles(text[d])
                self.assertGreaterEqual(len(a & b) / len(a | b), 0.8)


if __name__ == "__main__":
    unittest.main()
