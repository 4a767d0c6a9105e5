"""The percentile rule, the completeness expectation, the notify sample
and the index gate."""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import analyze  # noqa: E402
import stats  # noqa: E402


class PercentileRuleTest(unittest.TestCase):
    def test_p50_needs_twenty_samples(self):
        self.assertEqual(stats.percentile(list(range(19)), 50), (None, 19))
        self.assertEqual(stats.percentile(list(range(20)), 50), (9.5, 20))

    def test_p90_needs_a_hundred_samples(self):
        self.assertEqual(stats.percentile(list(range(99)), 90), (None, 99))
        v, n = stats.percentile(list(range(100)), 90)
        self.assertEqual(n, 100)
        self.assertAlmostEqual(v, 89.1)

    def test_low_percentiles_count_the_lower_tail(self):
        self.assertFalse(stats.reportable(99, 10))
        self.assertTrue(stats.reportable(100, 10))

    def test_interpolates_between_closest_ranks(self):
        v, _ = stats.percentile([float(x) for x in range(1, 22)], 50)
        self.assertEqual(v, 11.0)

    def test_median_and_mean(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        self.assertEqual(stats.mean([1, 2, 3]), 2)
        self.assertIsNone(stats.mean([]))


class CompletenessRuleTest(unittest.TestCase):
    def manifest(self):
        # two batches: the second's watermark is the first's max event time
        # minus ten minutes
        return {"files": [
            {"name": "a", "max_ts_us": (1704067200 + 1500) * 1_000_000,
             "logdates": {"202401010000": 1, "202401010010": 1,
                          "202401010020": 1}, "missing": {}},
            {"name": "b", "max_ts_us": (1704067200 + 3000) * 1_000_000,
             "logdates": {"202401010045": 1}, "missing": {}},
        ]}

    def test_fired_set_is_window_ends_at_or_below_the_final_watermark(self):
        exp = analyze.expected(self.manifest(), ["a", "b"])
        # watermark 00:15 → windows ending 00:05 and 00:15 are complete
        self.assertEqual(exp["fired"], {"202401010000", "202401010010"})
        self.assertEqual(exp["sink_posts"], 4)

    def test_one_batch_fires_nothing(self):
        self.assertEqual(analyze.expected(self.manifest(), ["a"])["fired"], set())


class NotifySampleTest(unittest.TestCase):
    def test_logdates_one_file_ends_are_one_sample(self):
        manifest = {"files": [
            {"name": "a", "logdates": {"202401010000": 1, "202401010005": 1}},
            {"name": "b", "logdates": {"202401010010": 1}},
        ]}
        ops = [{"kind": "land", "file": "a", "moved": 1000.0, "measured": True},
               {"kind": "land", "file": "b", "moved": 3000.0, "measured": True}]
        posts = [["/complete/202401010000", 4000.0],
                 ["/complete/202401010005", 4500.0],
                 ["/complete/202401010010", 9000.0]]
        result = {"ops": ops, "pipelines": [{"posts": posts}]}
        self.assertEqual(sorted(analyze.notify_latencies(result, manifest)), [3.5, 6.0])


class IndexGateTest(unittest.TestCase):
    def run_gate(self, keepers):
        manifest = {"files": [{"name": "p", "sources": {"src0": [2, 7]},
                               "keepers": 2, "live": 2}]}
        result = {"ops": [{"kind": "upsert", "file": "p", "ok": True},
                          {"kind": "probe", "file": "p", "ok": True}],
                  "probes": [{"after": "p", "sources": {"src0": [2, 7]},
                              "exact_keepers": keepers, "bm25_n_docs": 2}]}
        return analyze.check_index(result, manifest)

    def test_matching_probe_passes(self):
        self.assertEqual(self.run_gate(2), ([], set()))

    def test_wrong_probe_fails_its_op(self):
        bad, failed = self.run_gate(3)
        self.assertEqual(failed, {1})
        self.assertEqual(len(bad), 1)


if __name__ == "__main__":
    unittest.main()
