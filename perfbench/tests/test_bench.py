"""Self-tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

The last test builds the harness (if needed) and asks it for the program's
query names, so it needs the Spark toolchain; the others run in plain
Python.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import corpus  # noqa: E402
import stats  # noqa: E402

BASE = ["agg", "batch", "column", "data"]


class CorpusTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        a = corpus.generate(1, BASE, tokens=5000, vocab=800)
        b = corpus.generate(1, BASE, tokens=5000, vocab=800)
        c = corpus.generate(2, BASE, tokens=5000, vocab=800)
        self.assertEqual(a[0], b[0])
        self.assertEqual(a[2], b[2])
        self.assertNotEqual(a[0], c[0])
        self.assertNotEqual(a[2]["digest"], c[2]["digest"])

    def test_expected_counts_match_the_text(self):
        text, expected, st = corpus.generate(3, BASE, tokens=4000, vocab=500)
        counts = {}
        for w in text.split():
            counts[w] = counts.get(w, 0) + 1
        self.assertEqual(expected, [f"{w} {counts[w]}" for w in sorted(counts)])
        self.assertEqual(st["tokens"], 4000)
        self.assertEqual(st["distinct"], len(counts))
        self.assertEqual(st["bytes"], len(text.encode()))


class DrawTest(unittest.TestCase):
    QUERIES = ["a", "b", "c", "d", "e"]

    def test_seeded_orders_of_the_frozen_queries(self):
        p1 = stats.draw(self.QUERIES, 7, 5)
        self.assertEqual(p1, stats.draw(self.QUERIES, 7, 5))
        self.assertNotEqual(p1, stats.draw(self.QUERIES, 8, 5))
        self.assertEqual(len(p1), 5)
        self.assertTrue(all(sorted(p) == self.QUERIES for p in p1))


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_above(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertIsNone(stats.tail(list(range(1, 11))))
        value, pct, n = stats.tail(list(range(1, 12)))  # 11 samples
        self.assertEqual((value, n), (1, 11))  # exactly 10 above 1
        value, pct, n = stats.tail(list(range(100, 0, -1)))
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for v in range(1, 101) if v > value), 10)


class WordCountCheckTest(unittest.TestCase):
    def write(self, d, files):
        for r, lines in enumerate(files, 1):
            with open(os.path.join(d, f"j-{r}.out"), "w") as f:
                f.write("".join(l + "\n" for l in lines))

    def setUp(self):
        self.expected = ["a 2", "b 1", "c 5", "d 1"]
        self.digest = corpus.digest(self.expected)

    def check(self, files):
        with tempfile.TemporaryDirectory() as d:
            self.write(d, files)
            return checks.check_wordcount(d, "j", len(files), self.expected, self.digest)

    def test_accepts_correct_output(self):
        self.assertEqual(self.check([["a 2", "b 1"], [], ["c 5", "d 1"]]), [])

    def test_rejects_a_flipped_count(self):
        self.assertTrue(self.check([["a 2", "b 2"], ["c 5", "d 1"]]))

    def test_rejects_an_unsorted_file(self):
        problems = self.check([["b 1", "a 2"], ["c 5", "d 1"]])
        self.assertTrue(any("not sorted" in p for p in problems))

    def test_rejects_files_that_are_not_range_contiguous(self):
        problems = self.check([["a 2", "c 5"], ["b 1", "d 1"]])
        self.assertTrue(any("overlaps" in p for p in problems))


class EventLogCheckTest(unittest.TestCase):
    LOG = ["1,Start_Job,j,1,4,8,0,in,2,-,out",
           "1,Dispatch_MapTask,0,0", "1,Complete_MapTask,0,12",
           "1,Dispatch_ReduceTask,1,0", "1,Complete_ReduceTask,1,7"]

    def test_accepts_a_paired_log(self):
        self.assertEqual(checks.check_event_log(self.LOG, finish_expected=False), [])
        self.assertEqual(checks.check_event_log(self.LOG + ["2,Finish_Job,900"], True), [])

    def test_rejects_an_unpaired_dispatch(self):
        log = self.LOG + ["2,Dispatch_MapTask,3,0"]
        self.assertTrue(any("without Complete" in p for p in checks.check_event_log(log, False)))

    def test_rejects_a_complete_without_dispatch(self):
        log = self.LOG + ["2,Complete_ReduceTask,4,3"]
        self.assertTrue(checks.check_event_log(log, False))

    def test_rejects_missing_start_and_misplaced_finish(self):
        self.assertTrue(checks.check_event_log(self.LOG[1:], False))
        self.assertTrue(checks.check_event_log(self.LOG, finish_expected=True))
        self.assertTrue(checks.check_event_log(self.LOG[:1] + ["2,Finish_Job,9"] + self.LOG[1:], True))


class FrozenClassesTest(unittest.TestCase):
    def test_every_frozen_query_exists_in_the_program(self):
        import run as bench
        cp = bench.build()
        with tempfile.TemporaryDirectory() as d:
            names = set(subprocess.run(bench.java(cp, d, ["list"]), capture_output=True,
                                       text=True, check=True).stdout.split())
        with open(os.path.join(HERE, "classes.json")) as f:
            classes = json.load(f)
        frozen = set(classes["workloads"]["queries"]["run_set"])
        for d in classes["workloads"]["queries"]["classes"].values():
            frozen |= set(d["members"])
        self.assertTrue(frozen)
        self.assertEqual(frozen - names, set())


if __name__ == "__main__":
    unittest.main()
