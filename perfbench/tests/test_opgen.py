import json
import os
import unittest

from bench import opgen

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(HERE, "workloads.json")) as fh:
    CONFIG = json.load(fh)


def plan(workload, seed):
    return opgen.make_plan(workload, CONFIG["workloads"][workload], seed,
                           CONFIG["rows"]["documents"], CONFIG["rows"]["embeddings"])


class SeededPlans(unittest.TestCase):
    def test_same_seed_same_operations(self):
        for w in CONFIG["workloads"]:
            self.assertEqual(json.dumps(plan(w, 7)), json.dumps(plan(w, 7)), w)

    def test_other_seed_other_operations(self):
        for w in CONFIG["workloads"]:
            self.assertNotEqual(json.dumps(plan(w, 7)), json.dumps(plan(w, 8)), w)

    def test_every_pass_runs_every_key_once(self):
        for w in ("verbs", "llm_tier"):
            keys = sorted(CONFIG["workloads"][w]["keys"])
            for order in plan(w, 3)["passes"]:
                self.assertEqual(sorted(order), keys)

    def test_churn_batches(self):
        spec = CONFIG["workloads"]["store_churn"]
        c = plan("store_churn", 11)["churn"]
        self.assertEqual(len(c["rounds"]), spec["rounds"])
        w = c["warmup_round"]
        self.assertEqual((w["del_docs"], w["vacuum"]), ([], False))
        seen = set(c["init_docs"]) | set(w["add_docs"])
        live = set(seen)
        for i, r in enumerate(c["rounds"]):
            self.assertFalse(seen & set(r["add_docs"]), "adds are fresh ids")
            seen |= set(r["add_docs"])
            live |= set(r["add_docs"])
            self.assertTrue(set(r["del_docs"]) <= live, "deletes hit live ids")
            live -= set(r["del_docs"])
            self.assertEqual(bool(r["del_docs"]), (i + 1) % spec["delete_every"] == 0)
            self.assertEqual(r["vacuum"], (i + 1) % spec["vacuum_every"] == 0)

    def test_churn_needs_enough_rows(self):
        spec = dict(CONFIG["workloads"]["store_churn"], rounds=10_000)
        with self.assertRaises(ValueError):
            opgen.churn_plan(spec, 1, 500, 500)


if __name__ == "__main__":
    unittest.main()
