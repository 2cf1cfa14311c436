#!/usr/bin/env python3
"""Pins the DuckDB-side digest encoding to the harness's (HarnessSpec).

Usage (from the repository root):
    python3 -m unittest discover -s graftbench/tools -p 'test_*.py'
"""
import datetime
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import oracle_digests as od  # noqa: E402


class DigestEncoding(unittest.TestCase):
    def test_numbers(self):
        self.assertEqual(od.value(3), od.value(3.0))
        self.assertEqual(od.value(-0.0), "n0")
        self.assertEqual(od.value(0.1 + 0.2), od.value(0.3))
        self.assertNotEqual(od.value(1 / 3), od.value(0.3333333))

    def test_shared_encodings(self):
        # the same literals are asserted in HarnessSpec
        self.assertEqual(od.value(2.5), "f4004000000000000")
        self.assertEqual(od.value(1 / 3), "f3fd5555554f9b516")
        self.assertEqual(od.value("héllo"), "shéllo")
        self.assertEqual(od.value(datetime.datetime(2024, 1, 1, 0, 0, 7, 179575)), "t1704067207179575")
        self.assertEqual(od.value(datetime.date(1970, 1, 11)), "d10")
        self.assertEqual(od.digest(["b", "a"], [(1, "x"), (2.5, None)]), "2:aa36c080:094f1bf20feb9e06")

    def test_order_insensitive(self):
        self.assertEqual(od.digest(["b", "a"], [(1, "x"), (2, "y")]),
                         od.digest(["a", "b"], [("y", 2), ("x", 1)]))


if __name__ == "__main__":
    unittest.main()
