"""Each correctness check accepts the right result and rejects a perturbed one.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import copy
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import checks  # noqa: E402

EXPECTED = {"n": 600000.0, "sum_orderkey": 45003074209.0, "sum_qty": 15287597.0,
            "sum_text_len": 19053737.0, "sum_escaped_len": 19071706.0}


def bulk_ops():
    echo = {"n": 600000.0, "sum_orderkey": 45003074209.0, "sum_qty": 15287597.0,
            "sum_text_len": 19053737.0}
    tsv = dict(echo, sum_text_len=19071706.0)
    return {"ops": [
        {"kind": "tsv_echo", "pass": 0, "ok": True, "error": None, "result": tsv},
        {"kind": "tsv_agg", "pass": 0, "ok": True, "error": None,
         "result": {"sum_qty": 15287597.0}},
        {"kind": "arrow_echo", "pass": 0, "ok": True, "error": None, "result": dict(echo)},
        {"kind": "rdf_echo", "pass": 0, "ok": True, "error": None, "result": dict(echo)}]}


class BulkCheckTest(unittest.TestCase):
    def test_accepts_matching_calls(self):
        self.assertEqual(checks.check_bulk(bulk_ops(), EXPECTED), (4, 0, []))

    def test_rejects_each_perturbed_proof_value(self):
        for i, key in [(0, "n"), (0, "sum_text_len"), (1, "sum_qty"),
                       (2, "sum_orderkey"), (3, "sum_qty")]:
            raw = bulk_ops()
            raw["ops"][i]["result"][key] += 1
            attempted, failed, problems = checks.check_bulk(raw, EXPECTED)
            self.assertEqual((attempted, failed), (4, 1), key)
            self.assertIn(key, problems[0])

    def test_tsv_echo_must_carry_escaped_text(self):
        raw = bulk_ops()
        raw["ops"][0]["result"]["sum_text_len"] = EXPECTED["sum_text_len"]
        self.assertEqual(checks.check_bulk(raw, EXPECTED)[1], 1)

    def test_failed_call_counts(self):
        raw = bulk_ops()
        raw["ops"][2].update(ok=False, error="IOException: child exited", result={})
        self.assertEqual(checks.check_bulk(raw, EXPECTED)[1], 1)

    def test_missing_value_counts(self):
        raw = bulk_ops()
        del raw["ops"][3]["result"]["n"]
        self.assertEqual(checks.check_bulk(raw, EXPECTED)[1], 1)


def micro(n_batches=10, size=100):
    batches = [{"id": k, "n": size, "id_lo": k * size, "id_hi": k * size + size - 1,
                "id_sum": (2 * k * size + size - 1) * size // 2} for k in range(n_batches)]
    total = n_batches * size
    return {"extra": {"generated": total, "sunk": total, "distinct": total,
                      "duplicated": 0, "missing": 0, "out_of_range": 0,
                      "batches": batches}}


class MicrobatchCheckTest(unittest.TestCase):
    def test_accepts_exactly_once(self):
        self.assertEqual(checks.check_microbatch(micro()), (1000, 0, []))

    def test_rejects_lost_rows(self):
        raw = micro()
        raw["extra"].update(missing=3, sunk=997, distinct=997)
        self.assertEqual(checks.check_microbatch(raw)[1], 3)

    def test_rejects_duplicated_rows(self):
        raw = micro()
        raw["extra"].update(duplicated=5, sunk=1005)
        self.assertEqual(checks.check_microbatch(raw)[1], 5)

    def test_rejects_unknown_ids(self):
        raw = micro()
        raw["extra"].update(out_of_range=2)
        self.assertEqual(checks.check_microbatch(raw)[1], 2)

    def test_rejects_a_batch_that_is_not_a_dense_range(self):
        raw = micro()
        raw["extra"]["batches"][4]["id_sum"] += 1
        attempted, failed, problems = checks.check_microbatch(raw)
        self.assertEqual(failed, 100)
        self.assertIn("batch 4", problems[0])


class SuiteCheckTest(unittest.TestCase):
    def setUp(self):
        rows = [(1, "a", 0.5), (2, "b", float("nan")), (3, None, 1.25)]
        self.expected = {"q01": checks.canon(rows, ["k", "s", "v"])}
        # Spark may return the columns and rows in another order
        self.results = {"q01": checks.canon(
            [(None, 1.25, 3), ("a", 0.5, 1), ("b", float("nan"), 2)], ["s", "v", "k"])}
        self.raw = {"extra": {"verified_rows": {"q01": 3}},
                    "ops": [{"kind": "q01", "pass": 0, "ok": True, "error": None,
                             "result": {"rows": 3}}]}

    def test_accepts_equal_results_in_any_order(self):
        self.assertEqual(checks.check_suite(self.raw, self.results, self.expected),
                         (2, 0, []))

    def test_rejects_a_changed_value(self):
        got = checks.canon([(1, "a", 0.5), (2, "b", float("nan")), (3, None, 1.2500001)],
                           ["k", "s", "v"])
        self.assertEqual(checks.check_suite(self.raw, {"q01": got}, self.expected)[1], 1)

    def test_rejects_a_missing_row_and_a_renamed_column(self):
        short = checks.canon([(1, "a", 0.5), (2, "b", float("nan"))], ["k", "s", "v"])
        renamed = checks.canon([(1, "a", 0.5), (2, "b", float("nan")), (3, None, 1.25)],
                               ["k", "s", "w"])
        for got in (short, renamed):
            self.assertEqual(checks.check_suite(self.raw, {"q01": got}, self.expected)[1], 1)

    def test_rejects_an_unreadable_result(self):
        raw = copy.deepcopy(self.raw)
        raw["extra"]["verify_error.q01"] = "AnalysisException: boom"
        _, failed, problems = checks.check_suite(raw, {"q01": None}, self.expected)
        self.assertEqual(failed, 1)
        self.assertIn("boom", problems[0])

    def test_rejects_a_timed_pass_with_another_row_count(self):
        raw = copy.deepcopy(self.raw)
        raw["ops"][0]["result"]["rows"] = 2
        self.assertEqual(checks.check_suite(raw, self.results, self.expected)[1], 1)


class LeakCheckTest(unittest.TestCase):
    def test_counts_live_children_and_watchdogs(self):
        self.assertEqual(checks.check_leaks({"extra": {"leak": {"children": 0,
                                                                "watchdogs": 0}}})[1], 0)
        self.assertEqual(checks.check_leaks({"extra": {"leak": {"children": 1,
                                                                "watchdogs": 2}}})[1], 1)


if __name__ == "__main__":
    unittest.main()
