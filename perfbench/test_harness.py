"""Tests of the harness's own logic: python3 -m unittest perfbench/test_harness.py"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import gen     # noqa: E402
import stats   # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        xs = list(range(1, 100))            # 99 samples
        self.assertIsNone(stats.percentile(xs, 90))
        xs = list(range(1, 101))            # 100 samples: p90 = 90, ten beyond
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertIsNone(stats.percentile(xs, 99))
        self.assertEqual(stats.percentile(list(range(1, 1001)), 99), 990)

    def test_median_and_quartiles(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertIsNone(stats.median([]))
        q1, q2, q3 = stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((q1, q2, q3), (2.75, 5.5, 8.25))

    def test_tail_picks_highest_allowed(self):
        self.assertEqual(stats.tail(list(range(1, 101))), ("p90", 90))
        self.assertEqual(stats.tail(list(range(1, 1001))), ("p99", 990))
        self.assertIsNone(stats.tail(list(range(1, 50))))


class SelfTime(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start_ns": a, "end_ns": b}

    def test_children_subtracted_once(self):
        spans = [self.span(1, 0, 0, 100),
                 self.span(2, 1, 10, 40), self.span(3, 1, 30, 50),  # overlap
                 self.span(4, 1, 90, 130),                          # clipped
                 self.span(5, 2, 10, 20)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - (50 - 10) - (100 - 90))
        self.assertEqual(st[2], 30 - 10)
        self.assertEqual(st[5], 10)

    def test_no_children(self):
        self.assertEqual(stats.self_times([self.span(1, 0, 5, 9)]), {1: 4})


class OpenLoop(unittest.TestCase):
    def test_lateness(self):
        chunks = [{"due_ns": 1_000_000, "sent_ns": 1_000_000},
                  {"due_ns": 2_000_000, "sent_ns": 5_000_000},
                  {"due_ns": 3_000_000, "sent_ns": 2_999_000}]
        self.assertEqual(stats.lateness_ms(chunks), [0.0, 3.0, 0.0])

    def test_schedule_is_seeded_and_stamped(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.rt(d, 7, 2)
            b = gen.rt(d, 7, 2)
            c = gen.rt(d, 8, 2)
        self.assertEqual(a["n_paced"], 2 * 1000 // gen.RT_PERIOD_MS)
        self.assertTrue((a["events"]["ts_us"] == b["events"]["ts_us"]).all())
        self.assertFalse((a["events"]["ts_us"] == c["events"]["ts_us"]).all())
        ev = a["events"]
        paced = ev["chunk"][(ev["chunk"] >= 0) & (ev["chunk"] < a["n_paced"])]
        # every paced chunk carries its share of the offered rate
        self.assertEqual(len(paced), a["n_paced"] * gen.RT_EVENTS_PER_CHUNK)

    def test_no_fresh_event_behind_the_watermark(self):
        with tempfile.TemporaryDirectory() as d:
            g = gen.rt(d, 3, 5)
        ev = g["events"]
        seen = set()
        wm = None
        for c in [-1] + list(range(g["n_paced"])):
            sel = ev["chunk"] == c
            for i, ts in zip(ev["event_id"][sel], ev["ts_us"][sel]):
                if i not in seen and wm is not None:
                    self.assertGreater(ts, wm)
            seen.update(ev["event_id"][sel].tolist())
            kept = sel & (ev["event_type"] != "error")
            if kept.any():
                m = int(ev["ts_us"][kept].max()) - gen.RT_HORIZON_US
                wm = m if wm is None else max(wm, m)

    def test_window_closers(self):
        hour = 3_600_000_000
        t0 = gen.RT_T0_US
        ev = {"chunk": gen.np.array([-1, 0, 1, 2]),
              "ts_us": gen.np.array([t0 + 10, t0 + 30 * 60 * 1_000_000,
                                     t0 + hour + 20 * 60 * 1_000_000, t0 + 3 * hour]),
              "event_type": gen.np.array(["view", "view", "click", "view"])}
        got = gen.rt_window_closers({"events": ev, "n_paced": 3})
        # the backlog closes nothing; chunk 1 pushes the watermark past
        # the first hour, chunk 2 past the next two
        self.assertEqual(got, [((t0 + hour) // 1000, 1), ((t0 + 2 * hour) // 1000, 2)])


class LatencyJoin(unittest.TestCase):
    def test_chunk_batch_commit(self):
        chunks = [{"offset": 0, "due_ns": 0}, {"offset": 1, "due_ns": 100},
                  {"offset": 2, "due_ns": 200}, {"offset": 3, "due_ns": 300}]
        batches = [{"batch_id": 0, "start_offset": None, "end_offset": 0},
                   {"batch_id": 1, "start_offset": 0, "end_offset": 2},
                   {"batch_id": 2, "start_offset": 2, "end_offset": 2}]   # no-data batch
        commits = {0: 1_000_000, 1: 3_000_000}
        lat, missing = stats.visible_latency_ms(chunks, batches, commits)
        self.assertEqual(lat, [1.0, 2.9999, 2.9998])
        self.assertEqual(missing, [chunks[3]])


class LakeReplay(unittest.TestCase):
    def test_changes_and_fingerprint(self):
        before = {1: (0, 10, 1), 2: (0, 20, 1), 3: (0, 30, 1)}
        after = {1: (0, 11, 1), 3: (0, 30, 1), 4: (0, 40, 2)}
        self.assertEqual(checks.changes(before, after),
                         [["delete", 1, 20], ["insert", 1, 40],
                          ["update_postimage", 1, 11], ["update_preimage", 1, 10]])
        self.assertEqual(checks.fingerprint(after, 3, 4)[:4], [2, 7, 70, 3])


if __name__ == "__main__":
    unittest.main()
