"""Tests of the benchmark's own arithmetic and metric names.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import metrics  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(HERE)), 'BENCHMARK.json')


class PercentileRule(unittest.TestCase):
    def test_p75_needs_thirty_eight_samples(self):
        self.assertEqual(metrics.tail_level(40), 0.76)
        self.assertGreaterEqual(metrics.tail_level(38), 0.75)
        self.assertLess(metrics.tail_level(37), 0.75)

    def test_highest_level_keeps_ten_samples_above(self):
        for n in range(11, 200):
            p = metrics.tail_level(n)
            xs = list(range(n))
            above = sum(1 for x in xs if x > metrics.percentile(xs, p))
            self.assertGreaterEqual(above, 10, n)
            higher = round(p + 0.01, 2)
            if higher < 1:
                above = sum(1 for x in xs if x > metrics.percentile(xs, higher))
                self.assertLess(above, 10, n)

    def test_too_few_samples_support_no_tail(self):
        self.assertIsNone(metrics.tail_level(10))
        self.assertEqual(metrics.tail_level(11), 0.09)

    def test_percentile_matches_inclusive_quartiles(self):
        xs = [3.1, 0.2, 5.5, 1.7, 2.2, 9.0, 4.4]
        q1, q2, q3 = statistics.quantiles(xs, n=4, method='inclusive')
        self.assertAlmostEqual(metrics.percentile(xs, 0.25), q1)
        self.assertAlmostEqual(metrics.percentile(xs, 0.5), q2)
        self.assertAlmostEqual(metrics.percentile(xs, 0.75), q3)


class MetricNames(unittest.TestCase):
    def test_names_match_the_regex(self):
        for name in list(metrics.END_TO_END) + list(metrics.PER_LAYER):
            self.assertRegex(name, metrics.NAME_RE)
        for bad in ('.x', 'a b', 'a/b', 'x' * 65, ''):
            self.assertIsNone(metrics.NAME_RE.match(bad), bad)

    @unittest.skipUnless(os.path.exists(BENCHMARK), 'no BENCHMARK.json')
    def test_benchmark_json_declares_the_emitted_metrics(self):
        with open(BENCHMARK) as f:
            spec = json.load(f)
        self.assertEqual({m['name']: m['unit'] for m in spec['end_to_end']}, metrics.END_TO_END)
        self.assertEqual({m['name']: m['unit'] for m in spec['per_layer']}, metrics.PER_LAYER)


class ResultLine(unittest.TestCase):
    RES = {'workload': 'ingest_rpc_increments', 'seed': 1, 'cores': 4,
           'setup_rounds_s': [9.0, 2.0, 3.0], 'attempts': 4, 'checks': 6,
           'failures': [], 'peak_rss_mb': 1000.0, 'layers': {'rpc.posts': 60.0},
           'calls': [{'name': f'c{i}', 'seconds': s, 'items': 250, 'rows': -1}
                     for i, s in enumerate([4.0, 5.0, 6.0])]}

    def test_end_to_end(self):
        out = metrics.result(self.RES, traced=False)
        self.assertEqual((out['correct'], out['attempted'], out['failed']), (True, 10, 0))
        m = {k: v['value'] for k, v in out['metrics'].items()}
        self.assertEqual(set(m), set(metrics.END_TO_END))
        self.assertEqual(m['setup_s'], 3.0)
        self.assertEqual(m['items_per_s'], 750 / 15.0)
        self.assertEqual(m['call_s_p50'], 5.0)
        self.assertEqual(m['call_s_p75'], 5.5)

    def test_per_layer_reports_every_metric(self):
        out = metrics.result(self.RES, traced=True)
        self.assertEqual(set(out['metrics']), set(metrics.PER_LAYER))
        self.assertEqual(out['metrics']['rpc.posts']['value'], 60.0)
        self.assertEqual(out['metrics']['trace.call_s_p50']['value'], 5.0)

    def test_a_failure_marks_the_run_incorrect(self):
        out = metrics.result(dict(self.RES, failures=['x']), traced=False)
        self.assertEqual((out['correct'], out['failed']), (False, 1))


if __name__ == '__main__':
    unittest.main()
