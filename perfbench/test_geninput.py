"""Checks of the seeded input generator: python3 perfbench/test_geninput.py

Generates the 10x set from the shipped sf0.1 tables into
perfbench/.work/geninput-test and checks determinism, seed sensitivity, and
the two input properties the engine relies on (event_id order is ts order;
every user_id is a customer key).
"""
import os
import shutil
import unittest

import geninput

HERE = os.path.dirname(os.path.abspath(__file__))
SRC = os.path.join(HERE, "data", "sf0.1")
WORK = os.path.join(HERE, ".work", "geninput-test")


class Gen10xTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        shutil.rmtree(WORK, ignore_errors=True)
        cls.h7 = geninput.generate(SRC, os.path.join(WORK, "a"), 7, 10)
        cls.h7b = geninput.generate(SRC, os.path.join(WORK, "b"), 7, 10)
        cls.h8 = geninput.generate(SRC, os.path.join(WORK, "c"), 8, 10)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(WORK, ignore_errors=True)

    def test_same_seed_same_hash(self):
        self.assertEqual(self.h7, self.h7b)

    def test_different_seed_different_hash(self):
        self.assertNotEqual(self.h7, self.h8)

    def test_ten_times_the_rows(self):
        rows = self.h7.split(":")
        self.assertEqual((int(rows[0]), int(rows[2])), (1_000_000, 150_000))

    def test_event_id_order_is_ts_order_and_users_are_customers(self):
        for d in ("a", "c"):
            self.assertEqual(geninput.problems(os.path.join(WORK, d)), [])

    def test_one_copy_keeps_the_replay_shape(self):
        d = os.path.join(WORK, "one")
        h = geninput.generate(SRC, d, 7, 1).split(":")
        self.assertEqual((int(h[0]), int(h[2])), (100_000, 15_000))
        self.assertEqual(geninput.problems(d), [])


if __name__ == "__main__":
    unittest.main()
