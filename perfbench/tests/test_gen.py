"""The generator is a pure function of its seed and parameters."""

import filecmp
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def tree(root):
    return sorted(os.path.relpath(os.path.join(b, f), root)
                  for b, _, fs in os.walk(root) for f in fs)


class GenTest(unittest.TestCase):
    def generate(self, workload, seed, **kw):
        d = tempfile.mkdtemp(prefix="perfbench_gen_")
        self.addCleanup(shutil.rmtree, d, ignore_errors=True)
        return d, gen.generate(workload, d, seed, **kw)

    def assertSameBytes(self, a, b):
        self.assertEqual(tree(a), tree(b))
        for f in tree(a):
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                        shallow=False), f)

    def test_sink_same_seed_gives_identical_bytes(self):
        a, _ = self.generate("sink_microbatch", 7, files=4)
        b, _ = self.generate("sink_microbatch", 7, files=4)
        self.assertSameBytes(a, b)

    def test_index_same_seed_gives_identical_bytes(self):
        a, _ = self.generate("index_maintain", 7, docs=100, passes=2, inserts=50)
        b, _ = self.generate("index_maintain", 7, docs=100, passes=2, inserts=50)
        self.assertSameBytes(a, b)

    def test_other_seed_gives_other_inputs(self):
        a, _ = self.generate("sink_microbatch", 7, files=2)
        b, _ = self.generate("sink_microbatch", 8, files=2)
        f = os.path.join("arrivals", "arrival-00000.parquet")
        self.assertFalse(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                     shallow=False))

    def test_manifest_matches_the_parameters(self):
        d, m = self.generate("sink_microbatch", 3, files=20)
        rows = sum(f["rows"] for f in m["files"])
        self.assertEqual(rows, 20 * 1000)
        for f in m["files"]:
            self.assertEqual(sum(f["logdates"].values()), f["rows"])
            self.assertEqual(sum(n for n, _ in f["buckets"].values()), f["rows"])
        missing = sum(sum(f["missing"].values()) for f in m["files"])
        self.assertAlmostEqual(missing / rows, 0.025, delta=0.01)
        with open(os.path.join(d, "manifest.json")) as fh:
            self.assertEqual(json.load(fh)["files"][0]["rows"], 1000)

    def test_index_truth_follows_the_ops(self):
        _, m = self.generate("index_maintain", 5, docs=200, passes=3, inserts=100)
        stored, *passes = m["files"]
        self.assertEqual(stored["live"], 200)
        live = 200
        for p in passes:
            self.assertEqual(p["inserts"], 100)
            self.assertEqual(p["deletes"], 40)
            # the cancelled inserts never go live; every other delete
            # names a live doc
            live += p["net_inserts"] - (p["deletes"] - (100 - p["net_inserts"]))
            self.assertEqual(p["live"], live)
            self.assertEqual(sum(n for n, _ in p["sources"].values()), p["live"])
            self.assertLess(p["keepers"], p["live"])

    def test_unknown_parameter_is_refused(self):
        with self.assertRaises(ValueError):
            self.generate("sink_microbatch", 1, days=2)


if __name__ == "__main__":
    unittest.main()
