"""The benchmark's own tests: generator determinism, the percentile rule
and the agreement of the printed metric names with BENCHMARK.json.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Needs no Spark and no build; runs in a few seconds.
"""

import hashlib
import json
import os
import shutil
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import report  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_build", "test-tmp")


def digest(directory):
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        h.update(name.encode())
        with open(os.path.join(directory, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def generate(self, workload, seed, tag):
        out = os.path.join(SCRATCH, f"{workload}-{seed}-{tag}")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        params, props = gen.generate(workload, seed, 2, out)
        return digest(out), params, props

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_same_seed_same_inputs(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                a = self.generate(w, 7, "a")
                b = self.generate(w, 7, "b")
                self.assertEqual(a, b)

    def test_other_seed_other_inputs(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                self.assertNotEqual(self.generate(w, 7, "a")[0], self.generate(w, 8, "a")[0])

    def test_recorded_properties_match_the_shares(self):
        _, _, props = self.generate("neel-stream", 3, "a")
        self.assertAlmostEqual(props["location_share"], gen.SHARES["location"], delta=0.05)
        self.assertAlmostEqual(props["retweet_share"], gen.SHARES["retweet"], delta=0.03)
        self.assertGreater(props["entity_hits_per_tweet"], 0.5)
        _, _, props = self.generate("dedup-ingest", 3, "a")
        self.assertAlmostEqual(props["exact_copy_share"], gen.SHARES["dedup_exact"], delta=0.03)
        self.assertAlmostEqual(props["near_duplicate_share"], gen.SHARES["dedup_near"], delta=0.03)

    def test_filler_words_never_hold_a_dictionary_term(self):
        import random
        words = gen.vocabulary(random.Random(1), 2000)
        self.assertFalse([w for w in words if any(t in w for t in gen.DICTIONARY)])


class PercentileRuleTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(report.supported_percentile(19))
        self.assertEqual(report.supported_percentile(20), 50.0)
        self.assertEqual(report.supported_percentile(99), 50.0)
        self.assertEqual(report.supported_percentile(100), 90.0)
        self.assertEqual(report.supported_percentile(999), 90.0)
        self.assertEqual(report.supported_percentile(1000), 99.0)
        self.assertEqual(report.supported_percentile(10000), 99.9)
        for n in (20, 100, 1000, 10000, 54321):
            p = report.supported_percentile(n)
            self.assertGreaterEqual(n * (1 - p / 100), 10 - 1e-9)

    def test_percentile_interpolates_between_ranks(self):
        xs = list(range(1, 101))
        self.assertEqual(report.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(report.percentile(xs, 99), 99.01)
        self.assertEqual(report.percentile([5.0], 99), 5.0)
        self.assertEqual(report.percentile(xs[::-1], 0), 1)
        q = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(report.percentile(xs, 25), q[0])


class BenchmarkJsonTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def test_workloads_are_the_generators(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(gen.GENERATORS))

    def test_end_to_end_names_and_units(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]},
                         report.END_TO_END)
        names = [m["name"] for m in self.bench["end_to_end"]]
        self.assertEqual(names, list(report.END_TO_END))

    def test_per_layer_names_and_units(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["per_layer"]},
                         report.PER_LAYER)

    def test_printed_metrics_are_the_declared_ones(self):
        raw = fake_stream_result()
        self.assertEqual(set(report.end_to_end("neel-stream", raw, 1.0)), set(report.END_TO_END))
        self.assertEqual(set(report.per_layer("neel-stream", raw)), set(report.PER_LAYER))

    def test_an_aborted_run_leaves_out_what_it_did_not_measure(self):
        raw = {"series": {}, "values": {}}
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                self.assertEqual(set(report.end_to_end(w, raw, 1.0)), {"setup_s"})
                self.assertEqual(set(report.per_layer(w, raw)), set(report.PER_LAYER))


def fake_stream_result():
    """A minimal raw result of a stream run, as perfbench.Main writes it."""
    n = 6
    s = {f"progress.{k}": [10.0 + i for i in range(n)] for k in (
        "latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
        "triggerExecution", "input_rows", "state_rows_total", "state_rows_updated",
        "state_rows_removed", "state_memory_bytes", "state_commit_ms")}
    s["progress.batch_id"] = [float(i) for i in range(n)]
    s["latency_ms"] = [float(i) for i in range(1, 2001)]
    s["sources.admission_lag_ms"] = [1.0, 2.0]
    s["sources.backlog_rows"] = [0.0, 3.0]
    s["fs.batch_calls"] = [5.0, 6.0, 7.0]
    v = {"measured_first_batch": 2, "measured_last_batch": 5, "tweets_per_s.rows": 1500.0,
         "tweets_per_s.span_ms": 3000.0, "live_heap_mb": 100.0, "window_s": 4.0}
    return {"series": s, "values": v}


if __name__ == "__main__":
    unittest.main()
