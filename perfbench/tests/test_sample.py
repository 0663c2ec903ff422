"""The sql_lab sample: every run selects the same band sample."""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


class SampleTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(run.EXPECTED) as fh:
            cls.pool = run.lab_pool(json.load(fh))

    def ids(self, sample_seed=run.SAMPLE_SEED):
        return [e["sql"] for e in run.lab_sample(self.pool, sample_seed)]

    def test_same_sample_in_the_same_order_every_time(self):
        first = self.ids()
        for _ in range(3):
            self.assertEqual(self.ids(), first)

    def test_sample_is_stratified(self):
        buckets = [e["bucket"] for e in run.lab_sample(self.pool)]
        self.assertEqual(len(buckets), run.PER_STRATUM * len(run.STRATA))
        for i, stratum in enumerate(run.STRATA):
            part = buckets[i * run.PER_STRATUM:(i + 1) * run.PER_STRATUM]
            self.assertTrue(all(b in stratum for b in part))

    def test_sample_seed_draws_the_sample(self):
        self.assertTrue(any(sorted(self.ids(s)) != sorted(self.ids()) for s in range(1, 10)))


if __name__ == "__main__":
    unittest.main()
