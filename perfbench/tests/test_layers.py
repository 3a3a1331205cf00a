import json
import os
import unittest

from bench import layers

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def op(i, key, kind, s, traced, p=0):
    return {"id": i, "pass": p, "key": key, "kind": kind, "s": s, "traced": traced,
            "error": None, "explain_s": 0.0, "gc_s": 0.0}


RESULT = {
    "workload": "verbs",
    "setups": [{"s": 3.0}, {"s": 1.0}, {"s": 2.0}],
    "passes": [{"op_s": 1.5, "heap_mb": 80.0, "traced": False},
               {"op_s": 1.0, "heap_mb": 90.0, "traced": True}],
    "ops": [op(0, "a", "query", 0.5, False), op(1, "b", "query", 1.0, False),
            op(2, "a", "query", 0.4, True, 1), op(3, "b", "query", 0.6, True, 1)],
    "extra": {"builds": {}},
}


class MetricSets(unittest.TestCase):
    def test_traced_run_reports_every_per_layer_metric(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        with open(os.path.join(HERE, "workloads.json")) as fh:
            entries = json.load(fh)["build_entries"]
        got = layers.per_layer(RESULT, [], [], "operators", 4, entries)
        self.assertEqual(sorted(got), sorted(m["name"] for m in bench["per_layer"]))

    def test_untraced_run_reports_every_end_to_end_metric(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        got, notes = layers.end_to_end(RESULT)
        self.assertEqual(sorted(got), sorted(m["name"] for m in bench["end_to_end"]))
        self.assertEqual(got["setup_s"][0], 2.0)
        self.assertEqual(got["mix_s"][0], 1.25)
        self.assertEqual(got["heap_peak_mb"][0], 90.0)
        self.assertEqual(notes["samples"], 4)


if __name__ == "__main__":
    unittest.main()
