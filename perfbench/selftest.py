"""Self-tests of the benchmark's own parts: generator, oracles, event-log
parser. No Spark session is started.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import filecmp
import os
import sys
import tempfile
import unittest
from decimal import Decimal

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402
import measure  # noqa: E402
import oracles  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def _write_all(self, d: str, seed: int) -> list[str]:
        gen.write_customer(f"{d}/customer.parquet", seed)
        gen.write_events(f"{d}/events.parquet", seed, 2)
        gen.write_documents(f"{d}/documents.parquet", gen.documents(seed)[0])
        return ["customer.parquet", "events.parquet", "documents.parquet"]

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            names = self._write_all(a, 7)
            self._write_all(b, 7)
            self._write_all(c, 8)
            for n in names:
                self.assertTrue(filecmp.cmp(f"{a}/{n}", f"{b}/{n}", shallow=False), n)
            self.assertFalse(filecmp.cmp(f"{a}/events.parquet", f"{c}/events.parquet", shallow=False))
        self.assertEqual(gen.dml_batch(7, 3), gen.dml_batch(7, 3))

    def test_every_day_charges_the_anchor_shop(self):
        for views in gen.day_views(seed=11, n_days=3):
            self.assertEqual((views == gen.ANCHOR_SHOP).sum(), gen.ANCHOR_VIEWS)

    def test_planted_near_duplicates_clear_the_threshold(self):
        for n_base in (gen.N_BASE_DOCS, gen.SMALL_BASE_DOCS):
            docs, exact, near = gen.documents(3, n_base)
            self.assertEqual((len(docs), len(exact), len(near)), (n_base * 11 // 10, n_base // 20, n_base // 20))
            text = dict(docs)
            self.assertTrue(all(text[a] == text[b] for a, b in exact))
            for a, b in near:
                self.assertGreaterEqual(gen.jaccard(gen.shingles(text[a]), gen.shingles(text[b])), 0.8)


class BillingOracleTest(unittest.TestCase):
    """Four customers on 2024-01-01, amounts worked out by hand."""

    VIEWS = {0: 500, 1: 499, 2: 5500}  # shop 3 has no events

    def setUp(self):
        self.dir = tempfile.mkdtemp()
        pq.write_table(pa.table({
            "c_custkey": pa.array([0, 1, 2, 3], pa.int64()),
            "c_name": ["a", "b", "c", "d"],
        }), f"{self.dir}/customer.parquet")
        users, types, ts = [], [], []
        for shop, n in self.VIEWS.items():
            users += [shop] * n
            types += ["view"] * n
            ts += ["2024-01-01T12:00:00"] * n
        users += [1, 2, 9]              # a click, a view on the next day, an unknown shop
        types += ["click", "view", "view"]
        ts += ["2024-01-01T01:00:00", "2024-01-02T00:00:00", "2024-01-01T02:00:00"]
        pq.write_table(pa.table({
            "ts": pa.array(ts).cast(pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": types,
        }), f"{self.dir}/events.parquet")

    def test_bill_and_report(self):
        bill = oracles.expected_bill(duckdb.connect(), self.dir, 0)
        self.assertEqual(bill, {
            0: (500, Decimal("0.01")),   # 0.005 rounds half up
            1: (499, Decimal("0.00")),
            2: (5500, Decimal("0.05")),  # the double 0.05499999999999999, as Spark rounds it
            3: (0, Decimal("0.00")),     # no events: billed zero, still listed
        })
        self.assertEqual(oracles.charged(bill), {0, 2})
        rep = oracles.expected_report(bill)
        self.assertEqual(rep["total_amount"], 0.06)
        self.assertEqual(rep["total_page_views"], 6499)
        self.assertEqual(rep["n_shops"], 4)
        self.assertEqual([r["shop"] for r in rep["top_shops"]], [2, 0, 1])
        self.assertEqual(rep["top_shops"][0], {
            "shop": 2, "page_views": 5500, "page_views_str": "5,500", "amount_str": "0.05"})


class ModelTest(unittest.TestCase):
    def test_table_model(self):
        m = oracles.TableModel()
        m.append([(1, "2024-01-01", 10, 0.0, "pending"), (2, "2024-01-01", 20, 0.0, "pending")])
        m.merge([(1, "2024-01-01", 15, 0.0, "success"), (3, "2024-01-02", 5, 0.0, "pending")])
        self.assertEqual(m.agg_view(), {"2024-01-01": (2, 35), "2024-01-02": (1, 5)})
        m.delete_day("2024-01-01")
        self.assertEqual(m.scan(0, 10), [(3, "2024-01-02", 5, 0.0, "pending")])

    def test_components_and_shingles(self):
        self.assertEqual(oracles.components([(5, 7), (7, 9), (2, 3)]),
                         {2: 2, 3: 2, 5: 5, 7: 5, 9: 5})
        self.assertEqual(gen.shingles("a b"), {"a b"})
        self.assertEqual(gen.shingles("  "), set())
        self.assertEqual(gen.shingles("a b c d"), {"a b c", "b c d"})
        self.assertEqual(oracles.normalize("Hello,  World!"), "hello world")


class EventLogTest(unittest.TestCase):
    """data/eventlog.json: a Spark 4.1 log at local[2], AQE off, trimmed
    to the events and fields the parser reads. Group g1 ran
    `range(1000, 2 slices).sum()`: one job, a 2-task map stage and a
    1-task result stage. Group g2 ran a 7-key groupBy count twice, once
    through mapInPandas: two jobs of two 2-task stages each, one of
    them in a Python worker."""

    def test_parse(self):
        groups = measure.parse_event_log(os.path.join(HERE, "data", "eventlog.json"))
        self.assertEqual(sorted(groups), ["g1", "g2"])
        g1, g2 = groups["g1"], groups["g2"]
        self.assertEqual((g1["jobs"], g1["stages"], g1["tasks"]), (1, 2, 3))
        self.assertEqual(g1.get("py_stages", 0), 0)
        self.assertGreater(g1["exec_cpu_ms"], 0)
        self.assertEqual((g2["jobs"], g2["stages"], g2["tasks"]), (2, 4, 8))
        self.assertEqual(g2["py_stages"], 1)
        self.assertGreater(g2["shuffle_mb"], 0)
        r = measure.rollup(groups, "g2")
        self.assertLessEqual(r["job_span_ms"], sum(e - s for s, e in g2["intervals"]))

    def test_union(self):
        self.assertEqual(measure._union_ms([(0, 10), (5, 20), (30, 35)]), 25)


if __name__ == "__main__":
    unittest.main()
