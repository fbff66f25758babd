"""The input generators are pure functions of the seed.

Run from the root of a checkout: python3 perfbench/test_inputs.py
"""

import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import inputs  # noqa: E402


class SeededInputs(unittest.TestCase):
    def test_wearable_same_seed_same_bytes(self):
        self.assertEqual(inputs.wearable_bytes(7, 5000), inputs.wearable_bytes(7, 5000))

    def test_wearable_other_seed_other_bytes(self):
        self.assertNotEqual(inputs.wearable_bytes(7, 5000), inputs.wearable_bytes(8, 5000))

    def test_taxi_same_seed_same_bytes(self):
        self.assertEqual(inputs.taxi_chunks(7, 3000, 3), inputs.taxi_chunks(7, 3000, 3))

    def test_taxi_other_seed_other_bytes(self):
        self.assertNotEqual(inputs.taxi_chunks(7, 3000, 3), inputs.taxi_chunks(8, 3000, 3))

    def test_taxi_rows_are_debs_shaped(self):
        rows = b"".join(inputs.taxi_chunks(3, 2000, 4)).decode().splitlines()
        self.assertEqual(len(rows), 2000)
        self.assertTrue(all(len(r.split(",")) == 17 for r in rows))

    def test_taxi_lateness_stays_inside_the_watermark(self):
        import time
        drops = [time.mktime(time.strptime(r.split(",")[3], "%Y-%m-%d %H:%M:%S"))
                 for r in b"".join(inputs.taxi_chunks(5, 20000, 1)).decode().splitlines()]
        seen_max, late = drops[0], 0
        for d in drops:
            self.assertLess(seen_max - d, inputs.TAXI_WATERMARK_S)
            late += d < seen_max
            seen_max = max(seen_max, d)
        self.assertGreater(late, 0)

    def test_wearable_steps_cross_the_threshold(self):
        norms = [int((x * x + y * y + z * z) ** 0.5) for x, y, z, v in inputs.wearable_samples(2, 2000) if v == 0]
        falls = sum(1 for a, b in zip(norms, norms[1:]) if a > inputs.THRESHOLD >= b)
        self.assertGreater(falls, 50)

    def test_catalog_same_seed_same_bytes(self):
        def written(seed):
            with tempfile.TemporaryDirectory() as d:
                inputs.write_catalog(seed, d, orders=300, events=300)
                return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}
        a = written(7)
        self.assertEqual(len(a), 8)
        self.assertEqual(a, written(7))
        self.assertNotEqual(a, written(8))

    def test_catalog_events_are_ordered_with_distinct_stamps(self):
        _, _, rows = inputs.catalog_tables(4, orders=300, events=2000)["events"]
        stamps = [r[1] for r in rows]
        self.assertEqual(stamps, sorted(set(stamps)))
        self.assertEqual({r[3] for r in rows}, set(inputs.EVENT_TYPES))


if __name__ == "__main__":
    unittest.main()
