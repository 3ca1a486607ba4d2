"""Generator determinism and the properties the checks rely on.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen  # noqa: E402


def tree(d):
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


class DeterminismTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in sorted(gen.GENERATORS):
            with self.subTest(workload=w), tempfile.TemporaryDirectory() as t:
                a, b, c = (os.path.join(t, x) for x in "abc")
                gen.generate(w, 7, a)
                gen.generate(w, 7, b)
                gen.generate(w, 8, c)
                ta, tb, tc = tree(a), tree(b), tree(c)
                self.assertEqual(ta.keys(), tb.keys())
                for k in ta:
                    self.assertEqual(ta[k], tb[k], k)
                self.assertNotEqual(ta, tc)


class CurationTest(unittest.TestCase):
    def test_gates_and_cliques(self):
        with tempfile.TemporaryDirectory() as t:
            m = gen.generate("curation_ingest", 3, t)
            self.assertGreater(m["cliques"], 10)
            for e in m["epochs"]:
                n_in, n_lang, n_quality, n_kept = e["funnel"]
                self.assertTrue(n_in > n_lang > n_quality > n_kept > 0)
            counts = [e["kept_count"] for e in m["epochs"]]
            self.assertEqual(counts, sorted(counts))

    def test_quality_score_separates_stubs(self):
        good = " ".join(["the"] + ["kalomi"] * 90)
        stub = "the 12345 and 67890 of 11111 to 22222 is 33333 the 44444"
        self.assertGreater(gen.quality_score(good), 0.5)
        self.assertLess(gen.quality_score(stub), 0.5)


class EtlTest(unittest.TestCase):
    def test_manifest(self):
        with tempfile.TemporaryDirectory() as t:
            m = gen.generate("etl_incremental", 5, t)
            facts = [m["initial"]["fact_rows"]] + [b["fact_rows"] for b in m["batches"]]
            self.assertEqual(facts, sorted(set(facts)))
            with open(os.path.join(t, "batches.tsv")) as f:
                rows = [l.split("\t") for l in f.read().split("\n") if l]
            self.assertEqual([r[0] for r in rows], [b["name"] for b in m["batches"]])
            for b in m["batches"]:
                self.assertEqual(sorted(os.listdir(os.path.join(t, b["name"]))),
                                 ["cust_info.csv", "prd_info.csv", "sales_details.csv"])


class StarTest(unittest.TestCase):
    def test_query_order_is_a_seeded_permutation_of_the_pool(self):
        with tempfile.TemporaryDirectory() as t:
            m = gen.generate("star_queries", 11, t)
            self.assertEqual(sorted(m["queries"]), sorted(gen.QUERY_POOL))
            self.assertTrue(set(gen.QUERY_POOL) <= set(gen.QUERIES))
            with open(os.path.join(t, "manifest.json")) as f:
                self.assertEqual(json.load(f)["rows"]["lineitem"], gen.STAR["lineitem"])


if __name__ == "__main__":
    unittest.main()
