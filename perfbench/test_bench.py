"""Self-tests of the benchmark's own arithmetic and input generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import re
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow.parquet as pq  # noqa: E402

import analyze  # noqa: E402
import gen  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def digest(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            return gen.generate(workload, seed, d, warmup=True, seconds=1)["digest"]

    def test_same_seed_same_digest(self):
        for w in ("changefeed", "curation_cold"):
            self.assertEqual(self.digest(w, 7), self.digest(w, 7), w)

    def test_different_seed_different_digest(self):
        for w in ("changefeed", "curation_cold"):
            self.assertNotEqual(self.digest(w, 7), self.digest(w, 8), w)

    def test_planted_near_dups_are_copies(self):
        with tempfile.TemporaryDirectory() as d:
            man = gen.generate("curation_cold", 3, d, warmup=True)
            text = pq.read_table(f"{d}/documents.parquet").column("text").to_pylist()
        p = dict(gen.PROFILES["curation_cold"], **gen.WARMUP["curation_cold"])
        self.assertEqual(len(man["planted"]), round(p["docs"] * p["near_dup"]))
        for a, b in man["planted"]:
            self.assertLess(a, b)
            self.assertIn(" dup", text[a] + text[b])
            self.assertEqual(text[a].removesuffix(" dup"), text[b].removesuffix(" dup"))

    def test_events_follow_the_profile(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("changefeed", 3, d, warmup=True)
            t = pq.read_table(f"{d}/events.parquet").to_pydict()
        n = len(t["event_id"])
        p = gen.PROFILES["changefeed"]
        self.assertLessEqual(len(set(t["user_id"])), round(n / p["events_per_key"]))
        shares = {k: t["event_type"].count(k) / n for k in gen.EVENT_TYPES}
        for k, want in zip(("signup", "error"), (p["mix"][0], p["mix"][2])):
            self.assertAlmostEqual(shares[k], want, delta=0.03)
        self.assertTrue(all(re.fullmatch(r'\{"k": \d{1,2}\}', v) for v in t["props"]))
        self.assertEqual(t["ts"], sorted(t["ts"]))


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start_ms": start, "end_ms": end}


class SelfTimeTest(unittest.TestCase):
    def test_synthetic_tree(self):
        spans = [span(0, -1, 0, 100),
                 span(1, 0, 10, 40),    # overlaps its sibling by 10
                 span(2, 0, 30, 60),
                 span(3, 1, 15, 20),    # grandchild: not the root's child
                 span(4, 2, 55, 70)]    # runs past its parent's end
        st = analyze.self_times(spans)
        self.assertAlmostEqual(st[0], 100 - 50)
        self.assertAlmostEqual(st[1], 30 - 5)
        self.assertAlmostEqual(st[2], 30 - 5)
        self.assertAlmostEqual(st[3], 5)
        self.assertAlmostEqual(st[4], 15)

    def test_leaf_is_its_duration(self):
        self.assertEqual(analyze.self_times([span(0, -1, 3, 9)]), {0: 6})


class LagTest(unittest.TestCase):
    # ten slices of 10 rows, one every 100 ms; the first five are read
    # by batch 0 (ends at 1000 ms), the rest by batch 1 (ends at 1500)
    slices = [{"file": f"s{i}", "visible_ms": 100 * i, "rows": 10} for i in range(10)]
    files = [(0 if i < 5 else 1, f"s{i}") for i in range(10)]
    progress = [
        {"query": "q", "batch": 0, "start_ms": 400, "duration_ms": {"triggerExecution": 600}},
        {"query": "q", "batch": 1, "start_ms": 1000, "duration_ms": {"triggerExecution": 500}},
        {"query": "other", "batch": 0, "start_ms": 0, "duration_ms": {"triggerExecution": 1}}]

    def test_lags_on_synthetic_schedule(self):
        ends = analyze.batch_ends(self.progress, "q")
        self.assertEqual(ends, {0: 1000, 1: 1500})
        lags = analyze.stream_lags(self.slices, self.files, ends)
        self.assertEqual(sorted(v for v, _ in lags),
                         [600, 600, 700, 700, 800, 800, 900, 900, 1000, 1000])
        p50, p99, n = analyze.quantiles(lags)
        self.assertEqual((p50, p99, n), (800, 1000, 100))

    def test_unread_slice_has_no_lag(self):
        ends = analyze.batch_ends(self.progress, "q")
        lags = analyze.stream_lags(self.slices, self.files[:9], ends)
        self.assertEqual(len(lags), 9)

    def test_backlog_max(self):
        ends = analyze.batch_ends(self.progress, "q")
        self.assertEqual(analyze.backlog_max(self.slices, self.files, ends), 10)

    def test_weighted_quantile(self):
        s = [(1, 1), (2, 1), (3, 98)]
        self.assertEqual(analyze.wquantile(s, 0.01), 1)
        self.assertEqual(analyze.wquantile(s, 0.02), 2)
        self.assertEqual(analyze.wquantile(s, 0.5), 3)
        with self.assertRaises(ValueError):
            analyze.wquantile([], 0.5)


if __name__ == "__main__":
    unittest.main()
