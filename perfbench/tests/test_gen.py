"""Tests of the seeded input generators (python3 -m unittest, or
python3 perfbench/run.py --selftest)."""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402
from run import same_tree  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def path(self, *p):
        return os.path.join(self.dir, *p)

    def test_release_is_byte_deterministic_per_seed(self):
        t1 = gen.release(5, 2000, self.path("a"))
        t2 = gen.release(5, 2000, self.path("b"))
        t3 = gen.release(6, 2000, self.path("c"))
        self.assertEqual(t1, t2)
        self.assertTrue(same_tree(self.path("a"), self.path("b")))
        self.assertFalse(same_tree(self.path("a"), self.path("c")))

    def test_lake_is_byte_deterministic_per_seed(self):
        gen.lake(5, 0.001, self.path("a"))
        gen.lake(5, 0.001, self.path("b"))
        gen.lake(6, 0.001, self.path("c"))
        self.assertTrue(same_tree(self.path("a"), self.path("b")))
        self.assertFalse(same_tree(self.path("a"), self.path("c")))

    def test_release_truth_is_consistent(self):
        t = gen.release(3, 2000, self.path("r"))
        self.assertGreater(t["retracted"], 0)
        self.assertGreater(t["patched"], t["retracted"])
        qa = t["qa"]
        for row in qa.values():
            self.assertEqual(row["n_diff"], row["n_db"] - row["n_ref"])
        self.assertEqual(qa[gen.LOST_CLASS]["n_db"], 0)
        self.assertEqual(qa[gen.UNCATALOGUED_CLASS]["n_ref"], 0)
        # the Gene dump is the biggest file, as in a WormBase release
        sizes = {c: os.path.getsize(self.path("r", "dump", c + ".ace.gz"))
                 for c, _, _ in gen.CLASSES}
        self.assertEqual(max(sizes, key=sizes.get), "Gene")


if __name__ == "__main__":
    unittest.main()
