"""The registry split rule and the committed split."""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import oracle  # noqa: E402


class SplitTest(unittest.TestCase):

    def test_rule(self):
        survey = [
            {"name": "q_orders", "plan_tables": ["orders"], "action_tables": []},
            {"name": "q_docs", "plan_tables": ["documents"], "action_tables": []},
            # a memoized store hides the read from the final plan; the
            # action that built it shows it
            {"name": "q_index", "plan_tables": ["postings"],
             "action_tables": ["embeddings"]},
            {"name": "q_none", "plan_tables": [], "action_tables": []},
        ]
        s = oracle.split_of(survey)
        self.assertEqual(s["corpus_sf01"], ["q_docs", "q_index"])
        self.assertEqual(s["analytics_sf01"], ["q_none", "q_orders"])

    def test_committed_split_is_a_partition(self):
        with open(os.path.join(HERE, "split.json")) as f:
            s = json.load(f)
        a, c = s["analytics_sf01"], s["corpus_sf01"]
        self.assertEqual(len(set(a) | set(c)), len(a) + len(c))
        with open(os.path.join(HERE, "workloads.json")) as f:
            w = json.load(f)
        self.assertTrue(set(w["analytics_sf01"]) <= set(a))
        self.assertTrue(set(w["corpus_sf01"]) <= set(c))
        with open(os.path.join(HERE, "expected.json")) as f:
            e = json.load(f)
        self.assertEqual(set(e), set(w["analytics_sf01"]) | set(w["corpus_sf01"]))


if __name__ == "__main__":
    unittest.main()
