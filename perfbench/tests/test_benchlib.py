"""Tests for the benchmark's own helpers. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests

The dataset-digest test builds the harness (as run.py does) and runs the
JVM generator, so it needs the Spark jars; the rest are pure Python.
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import benchlib as bl  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p95_needs_200_samples_for_10_beyond(self):
        self.assertEqual(bl.beyond(200, 95), 10)
        self.assertTrue(bl.supported(200, 95))
        self.assertEqual(bl.beyond(199, 95), 9)
        self.assertFalse(bl.supported(199, 95))

    def test_highest_supported_percentile(self):
        self.assertEqual(bl.highest_supported_percentile(1000), 99)
        self.assertEqual(bl.highest_supported_percentile(10000), 99.9)
        self.assertEqual(bl.highest_supported_percentile(200), 95)
        self.assertEqual(bl.highest_supported_percentile(100), 90)
        self.assertEqual(bl.highest_supported_percentile(45), 75)
        self.assertIsNone(bl.highest_supported_percentile(15))

    def test_nearest_rank(self):
        v = list(range(1, 201))  # 1..200
        self.assertEqual(bl.percentile(v, 95), 190)
        self.assertEqual(len([x for x in v if x > bl.percentile(v, 95)]), bl.beyond(200, 95))
        self.assertEqual(bl.percentile(v, 50), 100)
        self.assertEqual(bl.percentile([7.0], 95), 7.0)
        self.assertEqual(bl.median([3, 1, 2, 10]), 2.5)


class HarrellDavis(unittest.TestCase):
    def test_incomplete_beta(self):
        self.assertAlmostEqual(bl.betainc(1, 1, 0.3), 0.3, places=12)
        self.assertAlmostEqual(bl.betainc(7.5, 7.5, 0.5), 0.5, places=12)
        # I_x(a, 1) = x^a
        self.assertAlmostEqual(bl.betainc(3.5, 1, 0.8), 0.8 ** 3.5, places=12)
        self.assertAlmostEqual(bl.betainc(9.5, 0.5, 0.9) + bl.betainc(0.5, 9.5, 0.1), 1.0, places=12)

    def test_quantile_estimates(self):
        self.assertAlmostEqual(bl.hd_quantile([4.0] * 9, 0.95), 4.0, places=12)
        v = list(range(1, 102))  # symmetric about 51
        self.assertAlmostEqual(bl.hd_quantile(v, 0.5), 51.0, places=9)
        self.assertGreater(bl.hd_quantile(v, 0.95), bl.hd_quantile(v, 0.9))
        self.assertLess(abs(bl.hd_quantile(v, 0.95) - 96), 1.0)
        self.assertEqual(bl.hd_quantile([7.0], 0.95), 7.0)


class SeedDeterminism(unittest.TestCase):
    def test_serve_small_stream_is_byte_identical_per_seed(self):
        a = json.dumps(bl.serve_small_stream(7, 400))
        self.assertEqual(a, json.dumps(bl.serve_small_stream(7, 400)))
        self.assertNotEqual(a, json.dumps(bl.serve_small_stream(8, 400)))

    def test_scan_large_stream_is_byte_identical_per_seed(self):
        a = json.dumps(bl.scan_large_stream(7, 10))
        self.assertEqual(a, json.dumps(bl.scan_large_stream(7, 10)))
        self.assertNotEqual(a, json.dumps(bl.scan_large_stream(8, 10)))

    def test_serve_small_blocks_hold_every_shape_and_half_repeat(self):
        warm, stream, shapes = bl.serve_small_stream(3, 800)
        block = len(bl.SMALL_SHAPES)
        for i in range(0, 800, block):
            self.assertEqual(sorted(shapes[i:i + block]), sorted(bl.SMALL_SHAPES))
        for n in (24, 800):
            props = bl.stream_properties(stream, shapes, n, warm)
            self.assertAlmostEqual(props["repeat_share"], 0.5, delta=0.05)
        # A repeat never crosses shapes.
        first_shape = {}
        for q, s in zip(stream, shapes):
            self.assertEqual(first_shape.setdefault(q, s), s)

    def test_dataset_digest_is_deterministic_per_seed(self):
        root = os.path.dirname(os.path.dirname(HERE))
        sys.path.insert(0, os.path.join(root, "perfbench"))
        import run  # noqa: E402
        cwd = os.getcwd()
        os.chdir(root)
        try:
            work = os.path.abspath(os.path.join(run.BUILD_DIR, "digest-test"))
            os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
            out = subprocess.run(run.jvm_command(run.build(), "2g", os.path.join(work, "tmp")) +
                                 ["perfbench.Digest", "5", "20000", work],
                                 capture_output=True, text=True, check=True).stdout
        finally:
            os.chdir(cwd)
        d = json.loads(out.strip().splitlines()[-1])
        self.assertEqual(d["seed"]["events_1_slice"], d["seed"]["events_7_slices"])
        self.assertEqual(d["seed"], d["seed_again"])
        for table, digest in d["seed"].items():
            self.assertNotEqual(digest, d["other_seed"][table], table)


class SpanArithmetic(unittest.TestCase):
    def test_union(self):
        self.assertEqual(bl.union_ms([]), 0.0)
        self.assertEqual(bl.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(bl.union_ms([(0, 10), (2, 3)]), 10)

    def test_self_time_subtracts_covered_child_intervals(self):
        spans = [
            {"id": "r1", "parent": "", "name": "request", "start_ms": 0, "end_ms": 100},
            {"id": "a", "parent": "r1", "name": "engine.plan", "start_ms": 0, "end_ms": 30},
            {"id": "b", "parent": "r1", "name": "result.exec", "start_ms": 40, "end_ms": 100},
            # Parallel jobs overlap: only their union is subtracted from b.
            {"id": "j1", "parent": "b", "name": "spark.job", "start_ms": 50, "end_ms": 70},
            {"id": "j2", "parent": "b", "name": "spark.job", "start_ms": 60, "end_ms": 80},
            # A child running past its parent is clipped to the parent.
            {"id": "j3", "parent": "a", "name": "spark.job", "start_ms": 25, "end_ms": 35},
        ]
        st = bl.self_times(spans)
        self.assertEqual(st["r1"], 100 - 30 - 60)
        self.assertEqual(st["b"], 60 - 30)
        self.assertEqual(st["a"], 30 - 5)
        self.assertEqual(st["j1"], 20)
        layers = bl.layer_self_times(spans)
        self.assertEqual(layers["spark.job"], 20 + 20 + 10)
        # Overlapping siblings each keep their own self time (j1 and j2 share
        # 10 ms) and j3 is not clipped as a span of its own (5 ms past r1).
        self.assertEqual(sum(layers.values()), 100 + 10 + 5)


class FinalRecord(unittest.TestCase):
    def test_end_to_end_record_fits_the_byte_bound(self):
        sys.path.insert(0, os.path.dirname(HERE))
        import run  # noqa: E402
        worst = {k: (-1.2345678901234567e+300, u) for k, u in run.E2E_UNITS.items()}
        line = bl.final_record(True, 10**12, 10**12, worst)
        self.assertLessEqual(len(line.encode()), bl.RECORD_MAX_BYTES)
        self.assertEqual(sorted(json.loads(line)), ["attempted", "correct", "failed", "metrics"])

    def test_traced_record_fits_its_bound(self):
        import run  # noqa: E402
        worst = {k: (-1.2345678901234567e+300, u) for k, u in run.LAYER_UNITS.items()}
        line = bl.final_record(True, 1, 0, worst, bl.TRACE_RECORD_MAX_BYTES)
        self.assertLessEqual(len(line.encode()), bl.TRACE_RECORD_MAX_BYTES)

    def test_oversized_record_is_refused(self):
        metrics = {f"m{i}": (1.0, "s") for i in range(200)}
        with self.assertRaises(ValueError):
            bl.final_record(True, 1, 0, metrics)


if __name__ == "__main__":
    unittest.main()
