import unittest

from bench import layers, record


def rec(**kw):
    r = {"workload": "verbs", "trace": 0, "cpus": 4, "heap_gb": 7, "sf": "sf0.01",
         "metrics": {"mix_s": {"value": 2.0, "unit": "s"}}}
    r.update(kw)
    return r


class Compare(unittest.TestCase):
    def test_like_for_like(self):
        new = rec(metrics={"mix_s": {"value": 3.0, "unit": "s"}})
        self.assertEqual(record.compare(rec(), new), {"mix_s": 1.5})

    def test_refuses_other_cpu_count_heap_or_data(self):
        for k, v in (("cpus", 32), ("heap_gb", 8), ("sf", "sf0.1"),
                     ("workload", "llm_tier"), ("trace", 1)):
            with self.assertRaises(record.Incomparable, msg=k):
                record.compare(rec(), rec(**{k: v}))


class TailPercentile(unittest.TestCase):
    def test_qualified_with_enough_samples(self):
        self.assertEqual(layers.tail_percentile(list(range(1, 101)), 0.9), (90, True))

    def test_small_sample_is_flagged(self):
        v, ok = layers.tail_percentile([1, 2, 3, 4, 5, 6, 7, 8, 9, 10], 0.9)
        self.assertEqual((v, ok), (9, False))


class Growth(unittest.TestCase):
    def test_write_growth(self):
        writes = [{"pass": p, "s": 1.0 + p} for p in range(10)]
        self.assertAlmostEqual(layers.write_growth(writes), 9.5 / 1.5)
        self.assertAlmostEqual(layers.write_growth(writes[:4]), 4.0)
        self.assertEqual(layers.write_growth(writes[:1]), 0.0)

    def test_tracing_overhead(self):
        ops = [{"key": "a", "traced": False, "s": 1.0}, {"key": "a", "traced": True, "s": 1.1},
               {"key": "b", "traced": False, "s": 2.0}, {"key": "b", "traced": True, "s": 2.4},
               {"key": "c", "traced": True, "s": 9.0}]
        self.assertAlmostEqual(layers.tracing_overhead(ops), 0.15)


if __name__ == "__main__":
    unittest.main()
