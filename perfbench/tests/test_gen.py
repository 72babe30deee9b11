"""Seeded input generator: the same seed gives identical inputs, a
different seed different ones.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

FILES = {
    "refresh": ["events.parquet"],
    "rescore_stream": ["events.parquet", "stream.txt"],
    "curate_graph": ["documents.parquet", "lineitem.parquet"],
}


class SeededInputs(unittest.TestCase):
    def _gen(self, root, workload, seed, name):
        d = os.path.join(root, name)
        gen.generate(workload, seed, d, stream_events=200)
        return d

    def test_same_seed_identical_other_seed_different(self):
        with tempfile.TemporaryDirectory() as root:
            for workload, files in FILES.items():
                a = self._gen(root, workload, 7, f"{workload}-a")
                b = self._gen(root, workload, 7, f"{workload}-b")
                c = self._gen(root, workload, 8, f"{workload}-c")
                for f in files:
                    fa, fb, fc = (os.path.join(x, f) for x in (a, b, c))
                    self.assertTrue(filecmp.cmp(fa, fb, shallow=False),
                                    f"{workload}/{f} differs for one seed")
                    self.assertFalse(filecmp.cmp(fa, fc, shallow=False),
                                     f"{workload}/{f} equal across seeds")

    def test_shapes(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as root:
            ev = pq.read_table(os.path.join(
                self._gen(root, "refresh", 1, "r"), "events.parquet"))
            self.assertEqual(ev.num_rows, gen.NUM_RATINGS)
            self.assertEqual(len(set(ev["user_id"].to_pylist())),
                             gen.NUM_USERS)
            self.assertEqual(len({e % gen.NUM_PRODUCTS
                                  for e in ev["event_id"].to_pylist()}),
                             gen.NUM_PRODUCTS)
            with open(os.path.join(self._gen(root, "rescore_stream", 1, "s"),
                                   "stream.txt")) as f:
                lines = f.read().split()
            self.assertEqual(sum("PRODUCT_RATING_PREFIX:" in l
                                 for l in lines), 200)
            cg = self._gen(root, "curate_graph", 1, "c")
            docs = pq.read_table(os.path.join(cg, "documents.parquet"))
            texts = docs["text"].to_pylist()
            self.assertEqual(len(texts), gen.NUM_DOCS)
            self.assertEqual(sum(t.endswith(" " + gen.NEAR_DUP_MARK)
                                 for t in texts),
                             int(gen.NUM_DOCS * gen.NEAR_DUP_FRAC))
            li = pq.read_table(os.path.join(cg, "lineitem.parquet"))
            self.assertEqual(len(set(li["l_orderkey"].to_pylist())),
                             gen.NUM_ORDERS)
            self.assertLessEqual(max(li["l_partkey"].to_pylist()),
                                 gen.NUM_PARTS)


if __name__ == "__main__":
    unittest.main()
