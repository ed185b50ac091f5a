"""Tests for the seeded Superstore generator.

Run: python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import csv
import io
import os
import tempfile
import unittest

import gen_superstore as g


class GenSuperstoreTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.path = os.path.join(cls.tmp.name, "superstore.csv")
        cls.rows, cls.truth = g.generate(7)
        g.write(cls.rows, cls.path)
        with open(cls.path, "rb") as f:
            cls.raw = f.read()
        cls.parsed = list(csv.reader(io.StringIO(cls.raw.decode("windows-1252"))))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def col(self, name):
        i = g.HEADER.index(name)
        return [r[i] for r in self.parsed[1:]]

    def distinct(self, *names):
        cols = [self.col(n) for n in names]
        return len(set(zip(*cols)))

    def test_encoding_is_windows_1252(self):
        self.assertIn(b"\xae", self.raw)              # (R)
        self.assertIn(b"\x99", self.raw)              # (TM): not latin-1
        with self.assertRaises(UnicodeDecodeError):
            self.raw.decode("utf-8")

    def test_doubled_quotes_round_trip(self):
        self.assertIn(b'""', self.raw)
        names = self.col("Product Name")
        self.assertTrue(any('"' in n for n in names))
        self.assertEqual(names, [r[g.HEADER.index("Product Name")] for r in self.rows])

    def test_shape(self):
        self.assertEqual(self.parsed[0], g.HEADER)
        self.assertEqual(len(self.parsed) - 1, 9994)
        self.assertTrue(all(len(r) == 21 for r in self.parsed))
        self.assertEqual(self.col("Row ID"), [str(i) for i in range(1, 9995)])

    def test_cardinalities(self):
        self.assertEqual(self.distinct("Customer ID", "Customer Name", "Segment"), 793)
        self.assertEqual(self.distinct("Customer ID"), 793)
        self.assertEqual(self.distinct("Product ID", "Product Name", "Category",
                                       "Sub-Category"), 1894)
        self.assertEqual(self.distinct("Product ID"), 1862)
        self.assertEqual(self.distinct("Postal Code", "City", "State", "Country",
                                       "Region"), 632)
        self.assertEqual(self.distinct("State"), 49)
        self.assertEqual(self.distinct("State", "Region"), 49)
        self.assertEqual(self.distinct("Region"), 4)
        self.assertEqual(self.distinct("Ship Mode"), 4)
        self.assertEqual(self.distinct("Category"), 3)
        self.assertEqual(self.distinct("Sub-Category"), 17)
        self.assertEqual(self.distinct("Order ID"), 5009)
        years = {d.split("/")[2] for d in self.col("Order Date")}
        self.assertEqual(years, {"2014", "2015", "2016", "2017"})

    def test_duplicate_pairs(self):
        pairs = {}
        for k in zip(self.col("Order ID"), self.col("Product ID")):
            pairs[k] = pairs.get(k, 0) + 1
        self.assertEqual(sorted(n for n in pairs.values() if n > 1), [2] * 8)
        self.assertEqual(self.truth["duplicate_pairs"], 8)

    def test_order_attributes_are_consistent(self):
        per_order = {}
        for r in self.parsed[1:]:
            attrs = tuple(r[1:13])   # order id .. region
            self.assertEqual(per_order.setdefault(r[1], attrs), attrs)

    def test_leading_zero_postal_codes(self):
        codes = self.col("Postal Code")
        self.assertTrue(any(c.startswith("0") for c in codes))
        self.assertEqual(len({int(c) for c in set(codes)}), 632)

    def test_truth(self):
        t = self.truth
        self.assertEqual(t["rows"], 9994)
        self.assertEqual(t["tables"]["Item"], 9994 - 8)
        self.assertEqual(t["tables"]["Orders"], 5009)
        for table, n in [("Customer", 793), ("Product", 1894), ("Location", 632),
                         ("State", 49), ("Region", 4), ("Shipping", 4),
                         ("Category", 3)]:
            self.assertEqual(t["tables"][table], n, table)
        self.assertEqual(t["sum_quantity"], sum(int(q) for q in self.col("Quantity")))
        self.assertEqual(sorted(t["tables"]), sorted([
            "Calendar", "CalendarMonth", "Category", "Customer", "Item",
            "Location", "OrderM", "Orders", "Product", "ProductPerformance",
            "Region", "Shipping", "ShippingBehavior", "ShippingBehaviorS", "State"]))

    def test_seeded(self):
        again, _ = g.generate(7)
        self.assertEqual(again, self.rows)
        other, _ = g.generate(8)
        self.assertNotEqual(other, self.rows)


if __name__ == "__main__":
    unittest.main()
