"""Self-tests of the benchmark's own logic (no JVM, no Spark):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest
from collections import Counter
from pathlib import Path

import metrics
from metrics import DEAD_LETTER, SKIP, WORKFLOW, Outputs, Row

HERE = Path(__file__).resolve().parent


class TailTest(unittest.TestCase):
    def test_p99_when_ten_samples_lie_beyond_it(self):
        xs = list(range(1, 1001))
        self.assertEqual(metrics.tail(xs), (990, 0.99, 1000))

    def test_falls_back_to_highest_quantile_with_ten_beyond(self):
        xs = list(range(1, 201))  # p99 would leave only 2 samples beyond
        value, q, n = metrics.tail(xs)
        self.assertEqual((value, n), (190, 200))
        self.assertAlmostEqual(q, 0.95)
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_no_supported_quantile_reports_max(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, None, 3))
        self.assertEqual(metrics.tail([]), (None, None, 0))


class SetupTest(unittest.TestCase):
    def test_setup_adds_the_stream_start_between_the_phases(self):
        result = {"setup_end_ms": 31_000.0, "setup_extra_ms": 5_500.0}
        self.assertEqual(metrics.setup_seconds(result, 1_000.0), 35.5)

    def test_setup_without_a_second_phase(self):
        self.assertEqual(metrics.setup_seconds({"setup_end_ms": 21_000.0}, 1_000.0), 20.0)


class AttributionTest(unittest.TestCase):
    def _log(self, path, entries, mtime_ms=None):
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))
        if mtime_ms is not None:
            os.utime(path, ns=(int(mtime_ms * 1e6), int(mtime_ms * 1e6)))

    def test_waves_map_to_the_batch_that_listed_them(self):
        with tempfile.TemporaryDirectory() as d:
            ck = Path(d)
            f = lambda n, b: {"path": f"file:///in/{n}", "timestamp": 1, "batchId": b}
            self._log(ck / "sources/0/0", [f("a.zip", 0)])
            self._log(ck / "sources/0/1", [f("b.zip", 1), f("c.zip", 1)])
            # a compacted log repeats earlier entries; the first batch wins
            self._log(ck / "sources/0/2.compact",
                      [f("a.zip", 0), f("b.zip", 1), f("c.zip", 1), f("d.zip", 2)])
            self._log(ck / "offsets/0", [], mtime_ms=1000)
            self._log(ck / "commits/0", [], mtime_ms=3000)
            self._log(ck / "offsets/1", [], mtime_ms=3000)
            self._log(ck / "commits/1", [], mtime_ms=7000)
            self._log(ck / "offsets/2", [], mtime_ms=7000)  # batch 2 never commits
            rows = [Row("wave", 0, "a.zip", "", WORKFLOW, "", 1),
                    Row("wave", 1, "b.zip", "", WORKFLOW, "", 1),
                    Row("wave", 1, "c.zip", "", SKIP, "", 1),
                    Row("wave", 2, "d.zip", "", WORKFLOW, "", 1),
                    Row("wave", 2, "e.zip", "", WORKFLOW, "", 1)]
            waves = [{"wave": 0, "due_ms": 500.0}, {"wave": 1, "due_ms": 1500.0},
                     {"wave": 2, "due_ms": 2500.0}]
            lat, missing, busy = metrics.attribute_waves(ck, rows, waves)
            self.assertEqual(lat, {0: [2.5], 1: [5.5, 5.5]})
            self.assertEqual(sorted(missing), ["d.zip", "e.zip"])
            self.assertEqual(busy, 2.0 + 4.0)

    def test_tail_counts_micro_batches_not_zips(self):
        notes = []
        # 3 batches holding 1, 2 and 100 ZIPs: the tail is the worst batch,
        # reported as a maximum over 3 units, whatever the ZIP count.
        lat = {0: [2.5], 1: [5.5, 5.0], 2: [4.0] * 100}
        got = metrics._latency([max(v) for v in lat.values()], "micro-batches", notes, p50=4.0)
        self.assertEqual(got, {"latency_p50_s": 4.0, "latency_tail_s": 5.5})
        self.assertIn("quantile None of 3 micro-batches", notes[0])


class ManifestCheckTest(unittest.TestCase):
    ROWS = [Row("backlog", 0, "book-1.zip", "1", WORKFLOW, "", 1),
            Row("backlog", 0, "book-2.zip", "2", WORKFLOW, "", 1),
            Row("backlog", 0, "book-3.zip", "3", DEAD_LETTER, "EXTRACT", 1),
            Row("backlog", 0, "book-2-b.zip", "2", SKIP, "DUPLICATE_IN_BATCH", 1)]

    def outputs(self, **change):
        out = dict(workflow=Counter({"1": 1, "2": 1}),
                   raw=Counter({"book-1.zip": 1, "book-2.zip": 1}),
                   dead_letter=Counter({("book-3.zip", "EXTRACT"): 1}))
        out.update(change)
        return Outputs(**out)

    def test_matching_outputs_pass(self):
        self.assertEqual(metrics.check_outputs(self.ROWS, self.outputs()), (set(), set()))

    def test_missing_workflow_row_is_flagged(self):
        bad, _ = metrics.check_outputs(self.ROWS, self.outputs(workflow=Counter({"2": 1})))
        self.assertEqual(bad, {"book-1.zip"})

    def test_wrong_error_code_is_flagged(self):
        bad, extra = metrics.check_outputs(
            self.ROWS, self.outputs(dead_letter=Counter({("book-3.zip", "MISSING_ISBN"): 1})))
        self.assertEqual(bad, {"book-3.zip"})
        self.assertEqual(extra, {("dead_letter", ("book-3.zip", "MISSING_ISBN"))})

    def test_duplicate_workflow_row_is_flagged(self):
        bad, _ = metrics.check_outputs(self.ROWS, self.outputs(workflow=Counter({"1": 1, "2": 2})))
        self.assertEqual(bad, {"book-2.zip"})

    def test_uploaded_skip_is_flagged(self):
        raw = Counter({"book-1.zip": 1, "book-2.zip": 1, "book-2-b.zip": 1})
        bad, extra = metrics.check_outputs(self.ROWS, self.outputs(raw=raw))
        self.assertEqual(bad, {"book-2-b.zip"})
        self.assertEqual(extra, {("raw", "book-2-b.zip")})

    def test_relanded_history_zip_may_not_add_a_second_raw_copy(self):
        rows = [Row("history", -1, "book-1.zip", "1", WORKFLOW, "", 1),
                Row("wave", 0, "book-1.zip", "1", SKIP, "ALREADY_UPLOADED", 1)]
        out = Outputs(Counter({"1": 1}), Counter({"book-1.zip": 1}), Counter())
        self.assertEqual(metrics.check_outputs(rows, out), (set(), set()))
        out = Outputs(Counter({"1": 1}), Counter({"book-1.zip": 2}), Counter())
        self.assertEqual(metrics.check_outputs(rows, out)[0], {"book-1.zip"})


class CurateCheckTest(unittest.TestCase):
    EXPECTED = {"q_a": {"rows": 2, "hash": "00000000000000ff"},
                "q_b": {"rows": 5, "hash": None}}

    def test_entry_must_match_rows_and_hash(self):
        self.assertTrue(metrics.check_entry(self.EXPECTED, "q_a", 2, "00000000000000ff"))
        self.assertFalse(metrics.check_entry(self.EXPECTED, "q_a", 3, "00000000000000ff"))
        self.assertFalse(metrics.check_entry(self.EXPECTED, "q_a", 2, "00000000000000fe"))

    def test_null_hash_checks_row_count_only(self):
        self.assertTrue(metrics.check_entry(self.EXPECTED, "q_b", 5, "anything"))
        self.assertFalse(metrics.check_entry(self.EXPECTED, "q_b", 4, "anything"))

    def test_unrecorded_entry_fails(self):
        self.assertFalse(metrics.check_entry(self.EXPECTED, "q_c", 2, "00000000000000ff"))

    def test_print_ignores_row_order_and_sees_content(self):
        import duckdb
        with tempfile.TemporaryDirectory() as d:
            con = duckdb.connect()
            for name, order in (("a", "ASC"), ("b", "DESC"), ("c", "ASC")):
                (Path(d) / name).mkdir()
                v = "x * 2" if name != "c" else "x * 3"
                con.execute(f"COPY (SELECT x, {v} AS y, [x, 1.5] AS l FROM range(50) t(x) "
                            f"ORDER BY x {order}) TO '{d}/{name}/part-0.parquet' (FORMAT parquet)")
            con.close()
            a, b, c = (metrics.output_print(Path(d) / n) for n in "abc")
            self.assertEqual(a, b)
            self.assertEqual(a[0], 50)
            self.assertNotEqual(a[1], c[1])


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_lists_match_the_runner(self):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         metrics.PER_LAYER)
        self.assertEqual(spec["paths"], ["perfbench"])


if __name__ == "__main__":
    unittest.main()
