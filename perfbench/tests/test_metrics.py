import unittest

import metrics


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        for n in (11, 26, 99, 157):
            xs = list(range(n, 0, -1))
            value, level = metrics.tail(xs)
            self.assertEqual(sum(1 for x in xs if x > value), 10, n)
            self.assertAlmostEqual(level, (n - 10) / n)

    def test_gate_sample_counts(self):
        # A full gate-relational pass has 99 queries: p89.9 is the highest
        # percentile with ten beyond; gate-pipeline's 157 give p93.6.
        self.assertEqual(metrics.tail(range(99))[0], 88)
        self.assertEqual(metrics.tail(range(157))[0], 146)

    def test_too_few_samples_give_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 1.0))
        self.assertEqual(metrics.tail(range(10)), (9, 1.0))

    def test_end_to_end(self):
        # Two passes over queries a and b; b fails once.
        ops = [("a", 0, 0.5, 1.0, True), ("b", 0, 1.0, 1.0, True),
               ("a", 1, 0.0, 1.0, True), ("b", 1, 0.5, 3.0, False)]
        result = {
            "setups": [{"setup_s": s} for s in (9.0, 2.0, 3.0)],
            "ops": [{"name": n, "pass": p, "construct_s": c, "action_s": a, "ok": ok}
                    for n, p, c, a, ok in ops],
            "retained_heap_mb": 100.0}
        m = metrics.end_to_end(result)
        self.assertEqual(m["setup_s"], 3.0)
        self.assertEqual(m["pass_s"], (3.5 + 4.5) / 2)
        self.assertEqual(m["op_p50_s"], (1.25 + 2.75) / 2)
        self.assertEqual(m["ok_frac"], 0.75)


if __name__ == "__main__":
    unittest.main()
