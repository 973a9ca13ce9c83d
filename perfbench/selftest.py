"""The benchmark's own self-tests; run.py runs them before every run.

    python3 perfbench/selftest.py
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import lineage  # noqa: E402
import stats  # noqa: E402
import trace  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_p99_of_16_is_refused(self):
        # nearest-rank p99 of 16 samples is the maximum
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(range(16), 99)

    def test_ten_beyond_is_required(self):
        stats.percentile(range(1000), 99)
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(range(999), 99)
        stats.percentile(range(100), 90)
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(range(99), 90)

    def test_median_needs_ten_each_side(self):
        self.assertEqual(stats.percentile(range(21), 50), 10)
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(range(19), 50)


def _log(path, entries):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))


def _add(name, batch):
    return {"path": f"file:///in/{name}", "timestamp": 0, "batchId": batch, "action": "add"}


def _marker(sink, batch, ns):
    p = os.path.join(sink, "_commits", str(batch))
    os.makedirs(os.path.dirname(p), exist_ok=True)
    open(p, "w").close()
    os.utime(p, ns=(ns, ns))


class JoinTest(unittest.TestCase):
    def test_file_batch_commit_join_with_compact_logs(self):
        with tempfile.TemporaryDirectory() as out:
            src = os.path.join(out, "_checkpoints", "mapped", "sources", "0")
            # batches 0-1 only survive in the compacted log, 2 in both
            _log(os.path.join(src, "2.compact"), [_add("a", 0), _add("b", 1), _add("c", 2)])
            _log(os.path.join(src, "2"), [_add("c", 2)])
            _log(os.path.join(src, "3"), [_add("d", 3)])
            _log(os.path.join(out, "_checkpoints", "dedup", "sources", "0", "0"),
                 [_add("a", 0), _add("b", 0)])
            _log(os.path.join(out, "_checkpoints", "dedup", "sources", "0", "1"),
                 [_add("c", 1), _add("d", 1)])
            for b, ns in ((0, 100), (1, 200), (2, 300), (3, 400)):
                _marker(os.path.join(out, "mapped"), b, ns)
            _marker(os.path.join(out, "dedup"), 0, 150)   # dedup batch 1 never commits
            got = lineage.land_to_commit(out, ["mapped", "dedup"], ["a", "b", "c", "d", "e"])
            self.assertEqual(got, {"a": 150, "b": 200, "c": None, "d": None, "e": None})
            self.assertEqual(lineage.file_batches(os.path.join(out, "_checkpoints", "mapped")),
                             {"a": 0, "b": 1, "c": 2, "d": 3})

    def test_conflicting_batch_ids_are_refused(self):
        with tempfile.TemporaryDirectory() as out:
            src = os.path.join(out, "sources", "0")
            _log(os.path.join(src, "9.compact"), [_add("a", 0)])
            _log(os.path.join(src, "10"), [_add("a", 10)])
            with self.assertRaises(ValueError):
                lineage.file_batches(out)


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        s = trace.Spans()
        root = s.add("root", 0, 10_000_000)
        s.add("a", 1_000_000, 3_000_000, root)
        s.add("a", 2_000_000, 5_000_000, root)
        s.add("b", 7_000_000, 8_000_000, root)
        self.assertEqual(s.self_times_ms(), {"root": 5.0, "a": 5.0, "b": 1.0})


if __name__ == "__main__":
    unittest.main()
