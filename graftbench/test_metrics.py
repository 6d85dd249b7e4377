"""Tests of the benchmark's own metric math.

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import unittest

import metrics


def span(i, parent, start, end, name="op"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name, "op": 0}


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail(list(range(19))))
        self.assertEqual(metrics.tail(list(range(20)))[0], 50.0)
        self.assertEqual(metrics.tail(list(range(39)))[0], 50.0)
        self.assertEqual(metrics.tail(list(range(40)))[0], 75.0)
        self.assertEqual(metrics.tail(list(range(100)))[0], 90.0)
        self.assertEqual(metrics.tail(list(range(199)))[0], 90.0)
        self.assertEqual(metrics.tail(list(range(200)))[0], 95.0)
        self.assertEqual(metrics.tail(list(range(1000)))[0], 99.0)
        self.assertEqual(metrics.tail(list(range(10000)))[0], 99.9)

    def test_value_leaves_ten_samples_beyond(self):
        xs = [float(x) for x in range(1, 101)]
        pct, v = metrics.tail(xs)
        self.assertEqual(v, 90.0)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail(list(range(200))), metrics.tail(list(range(199, -1, -1))))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 30, 60)]
        self.assertEqual(metrics.self_times(spans)[0], 100 - 50)

    def test_children_clipped_to_parent(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 90, 130)]
        self.assertEqual(metrics.self_times(spans)[0], 90)

    def test_grandchildren_do_not_count_for_the_grandparent(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 1, 20, 80)]
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 80)
        self.assertEqual(st[1], 10)
        self.assertEqual(st[2], 60)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(metrics.self_times([span(0, -1, 5, 12)])[0], 7)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([]), 0)


class FailedFracTest(unittest.TestCase):
    def test_failed_check_counts_as_failure(self):
        ops = [{"ok": True}, {"ok": True}]
        checks = [{"ok": False}]
        self.assertEqual(metrics.failed_frac(ops, checks), (3, 1, 1 / 3))

    def test_failed_ops_and_checks_add(self):
        ops = [{"ok": False}, {"ok": True}, {"ok": True}]
        checks = [{"ok": False}, {"ok": True}]
        self.assertEqual(metrics.failed_frac(ops, checks), (5, 2, 0.4))

    def test_all_ok(self):
        self.assertEqual(metrics.failed_frac([{"ok": True}], [{"ok": True}]), (2, 0, 0.0))


class EndToEndTest(unittest.TestCase):
    def test_ladder_throughput_is_the_geomean_of_median_tier_rates(self):
        raw = {"workload": "scalar_ladder", "rss_peak_mb": 100.0,
               "setup": {"context_s": 1.0, "reps_s": [3.0, 1.0, 2.0], "warmup_s": 0.5},
               "ops": [{"name": "gcd.a", "rows": 100, "s": 1.0},
                       {"name": "gcd.a", "rows": 100, "s": 1.0},
                       {"name": "gcd.a", "rows": 100, "s": 9.0},
                       {"name": "gcd.b", "rows": 400, "s": 1.0}]}
        for o in raw["ops"]:
            o["calib_s"] = metrics.CALIB_REF_S
        m, detail = metrics.end_to_end(raw, extra_setup_s=0.25)
        self.assertAlmostEqual(m["setup_s"], 0.25 + 1.0 + 2.0 + 0.5)
        self.assertAlmostEqual(m["rows_per_s"], 200.0)  # sqrt(100 * 400)
        self.assertEqual(m["query_p50_s"], 1.0)
        self.assertEqual(detail["op_p50_s"], {"gcd.a": 1.0, "gcd.b": 1.0})
        self.assertEqual(detail["op_rows_per_s"], {"gcd.a": 100.0, "gcd.b": 400.0})



class HostFactorTest(unittest.TestCase):
    def test_operation_times_scale_to_the_reference_host_and_setup_does_not(self):
        ref = metrics.CALIB_REF_S
        raw = {"workload": "short_queries", "rss_peak_mb": 1.0,
               "setup": {"context_s": 1.0, "reps_s": [1.0], "warmup_s": 1.0},
               "ops": [{"name": "q", "rows": 10, "s": 2.0, "calib_s": 2 * ref},
                       {"name": "q", "rows": 10, "s": 2.0, "calib_s": 2 * ref},
                       {"name": "q", "rows": 10, "s": 2.0, "calib_s": 4 * ref}]}
        m, detail = metrics.end_to_end(raw)
        self.assertAlmostEqual(detail["host_factor"], 0.5)
        self.assertAlmostEqual(m["query_p50_s"], 1.0)
        self.assertAlmostEqual(m["rows_per_s"], 10.0)
        self.assertAlmostEqual(m["setup_s"], 3.0)


if __name__ == "__main__":
    unittest.main()
