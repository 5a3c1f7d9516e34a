"""Tests of the seeded input generation."""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def shape(tables):
    """Row counts, text bytes and duplicate-text count of generated tables."""
    rows = {n: sum(p.num_rows for p in parts) for n, parts in tables.items()}
    texts = [t for p in tables["documents"] for t in p["text"].to_pylist()]
    return rows, sum(len(t) for t in texts), len(texts) - len(set(texts))


class GenTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.base = gen.base_tables(0.001)

    def write(self, seed, copies=2, doc_len=2):
        with tempfile.TemporaryDirectory() as d:
            return gen.write(gen.rewrite(self.base, seed, copies, doc_len), d)

    def test_same_seed_same_content(self):
        self.assertEqual(self.write(7), self.write(7))

    def test_seed_changes_content(self):
        self.assertNotEqual(self.write(7), self.write(8))

    def test_shape_does_not_depend_on_the_seed(self):
        a = shape(gen.rewrite(self.base, 1, 4, 3))
        b = shape(gen.rewrite(self.base, 2, 4, 3))
        self.assertEqual(a, b)
        self.assertEqual(a[0]["lineitem"], 4 * self.base["lineitem"].num_rows)
        self.assertEqual(a[0]["nation"], 25)

    def test_copies_are_distinct_and_keep_key_residues(self):
        tw = gen.rewrite(self.base, 3, 4, 1)
        ids = [i for p in tw["documents"] for i in p["doc_id"].to_pylist()]
        self.assertEqual(len(ids), len(set(ids)))
        base_ids = self.base["documents"]["doc_id"].to_pylist()
        self.assertEqual(sorted(i % 10**9 for i in ids), sorted(base_ids * 4))
        first = [p["text"].to_pylist() for p in tw["documents"]]
        self.assertEqual(len({tuple(sorted(t)) for t in first}), 4)

    def test_permutations_are_distinct_bijections(self):
        perms = {gen.perm(m) for m in range(128)}
        self.assertEqual(len(perms), 128)
        self.assertTrue(all(sorted(p) == sorted(gen.ALPHA) for p in perms))


if __name__ == "__main__":
    unittest.main()
