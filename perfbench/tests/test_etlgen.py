"""Ground truth of the ETL generator, rederived from the CSVs it wrote."""
import csv
import glob
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import etlgen  # noqa: E402

KEYS = {"places": "place_id", "reviews": "id_review", "tweets": "id_tweet",
        "pemasukan": "id_transaksi_original",
        "pengeluaran": "id_transaksi_original"}
TINY = {"places": 10, "reviews": 30, "tweets": 30, "pemasukan": 20,
        "pengeluaran": 20}


def read_day(root, day, table):
    rows = []
    for path in sorted(glob.glob(os.path.join(root, f"day{day:02d}", table, "*.csv"))):
        with open(path, newline="") as f:
            rows.extend(csv.DictReader(f))
    return rows


class EtlGenTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.root = cls.tmp.name
        cls.truth = etlgen.generate(7, cls.root, days=3, rows=TINY)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as other:
            again = etlgen.generate(7, other, days=3, rows=TINY)
            self.assertEqual(again["days"], self.truth["days"])
            for path in glob.glob(os.path.join(self.root, "day*", "*", "*.csv")):
                rel = os.path.relpath(path, self.root)
                with open(path) as a, open(os.path.join(other, rel)) as b:
                    self.assertEqual(a.read(), b.read())

    def test_loaded_and_store_counts(self):
        store = {t: {} for t in KEYS}
        for day in range(1, 4):
            t = self.truth["days"][day - 1]
            for table, key in KEYS.items():
                rows = read_day(self.root, day, table)
                self.assertEqual(len(rows), TINY[table])
                keys = [r[key] for r in rows]
                # a repeated key always carries the same row
                for r in rows:
                    prev = store[table].get(r[key])
                    self.assertTrue(prev is None or prev == r)
                new = {k for k in keys if k not in store[table]}
                self.assertEqual(t["loaded"][table], len(new))
                self.assertLess(len(set(keys)), len(keys), "no in-batch duplicate")
                if day > 1:
                    self.assertTrue(set(keys) & set(store[table]), "no re-extract")
                for r in rows:
                    store[table].setdefault(r[key], r)
                self.assertEqual(t["store"][table], len(store[table]))

    def test_mart_counts(self):
        store = {t: {} for t in KEYS}
        for day in range(1, 4):
            for table, key in KEYS.items():
                for r in read_day(self.root, day, table):
                    store[table].setdefault(r[key], r)
        mart = self.truth["days"][-1]["mart"]
        ts = {r["timestamp_review"] for r in store["reviews"].values()}
        ts |= {r["created_at_tweet"] for r in store["tweets"].values()}
        ts |= {r["timestamp"] for r in store["pemasukan"].values()}
        ts |= {r["timestamp"] for r in store["pengeluaran"].values()}
        self.assertEqual(mart["dim_waktu"], len(ts))
        self.assertEqual(mart["dim_place"], len(store["places"]))
        self.assertEqual(mart["fact_maps"], len(store["reviews"]))
        joined = [r for r in store["tweets"].values()
                  if r["place_id_source"] in store["places"]]
        self.assertEqual(mart["fact_twitter"], len(joined))
        self.assertLess(len(joined), len(store["tweets"]), "no unmatched tweet")
        proyek = {r["id_proyek"] for r in store["pemasukan"].values()}
        proyek |= {r["id_proyek"] for r in store["pengeluaran"].values()}
        self.assertEqual(mart["dim_proyek"], len(proyek))
        self.assertEqual(mart["dim_user"], len(
            {r["id_author_twitter"] for r in store["tweets"].values()}))

    def test_no_empty_fields(self):
        # an empty CSV field reads as null and would be dropped by the mart
        for path in glob.glob(os.path.join(self.root, "day*", "*", "*.csv")):
            with open(path, newline="") as f:
                for r in csv.DictReader(f):
                    self.assertTrue(all(v for v in r.values()), path)

    def test_staged_totals(self):
        paths = glob.glob(os.path.join(self.root, "day*", "*", "*.csv"))
        self.assertEqual(self.truth["staged_bytes"],
                         sum(os.path.getsize(p) for p in paths))
        self.assertEqual(self.truth["rows_staged"], 3 * sum(TINY.values()))


if __name__ == "__main__":
    unittest.main()
