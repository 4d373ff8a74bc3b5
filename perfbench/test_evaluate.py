"""Self-test of the benchmark's checker: a wrong answer and a thrown
request must each count against the run.

    python3 perfbench/test_evaluate.py
"""

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import evaluate  # noqa: E402

ANSWER = json.dumps({"data": {"q": [{"uid": "0x1", "name": "a"}, {"uid": "0x2", "name": "b"}]}})


def read(rid, answer=ANSWER, expected=ANSWER, error=None):
    op = {"id": rid, "kind": "dql", "template": "t", "client": 1, "phase": "untraced",
          "start": 0.0, "ms": 10.0, "answer": answer, "nrows": 2, "expected": expected}
    if error:
        op["error"] = error
    return op


def error_rate(ops):
    report = evaluate.evaluate("graph_query", {}, {"ops": ops, "setup_s": 1.0}, None, False)
    return report["failed"] / report["attempted"]


class CheckerTest(unittest.TestCase):

    def test_clean_run_has_no_errors(self):
        self.assertEqual(error_rate([read("r1"), read("r2")]), 0.0)

    def test_result_order_is_not_part_of_the_answer(self):
        reordered = json.dumps({"data": {"q": [{"uid": "0x2", "name": "b"},
                                               {"uid": "0x1", "name": "a"}]}})
        self.assertEqual(error_rate([read("r1", answer=reordered)]), 0.0)

    def test_corrupted_expected_answer_raises_error_rate(self):
        corrupted = ANSWER.replace('"b"', '"c"')
        self.assertEqual(error_rate([read("r1"), read("r2", expected=corrupted)]), 0.5)

    def test_throwing_request_raises_error_rate(self):
        self.assertEqual(error_rate([read("r1"), read("r2", answer="", error="boom")]), 0.5)

    def test_errors_envelope_raises_error_rate(self):
        envelope = json.dumps({"errors": [{"message": "bad"}]})
        self.assertEqual(error_rate([read("r1", answer=envelope)]), 1.0)


if __name__ == "__main__":
    unittest.main()
