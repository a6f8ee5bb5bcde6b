"""Self-tests of run.py's output check: python3 -m unittest discover -s perfbench"""
import unittest

import pandas as pd

import run


class AnswerDiffTest(unittest.TestCase):
    oracle = pd.DataFrame({"k": [1, 2, 3, 4], "v": [0.5, 1.5, float("nan"), 2.5]})

    def test_same_rows_in_any_order_and_column_order_pass(self):
        shuffled = self.oracle.iloc[::-1][["v", "k"]]
        self.assertIsNone(run.answer_diff(self.oracle, shuffled))

    def test_planted_missing_row_is_caught(self):
        self.assertIsNotNone(run.answer_diff(self.oracle, self.oracle.drop(index=1)))

    def test_planted_duplicate_row_is_caught(self):
        dup = pd.concat([self.oracle, self.oracle.iloc[[1]]])
        self.assertIsNotNone(run.answer_diff(self.oracle, dup))

    def test_changed_value_is_caught(self):
        changed = self.oracle.assign(v=[0.5, 1.5, float("nan"), 2.6])
        self.assertIsNotNone(run.answer_diff(self.oracle, changed))


if __name__ == "__main__":
    unittest.main()
