"""Unit tests of the benchmark's own arithmetic and generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import gen
import run


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.tables = os.path.join(cls.tmp.name, "t")
        gen.tables(cls.tables, 0.001, 7)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def changes(self, n, seed):
        return gen.changes(os.path.join(self.tables, "events.parquet"),
                           os.path.join(self.tables, "documents.parquet"), n, seed)

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.changes(500, 3), self.changes(500, 3))
        other = os.path.join(self.tmp.name, "t2")
        gen.tables(other, 0.001, 7)
        for t in ("events", "documents", "lineitem", "embeddings"):
            with open(os.path.join(self.tables, t + ".parquet"), "rb") as a, \
                    open(os.path.join(other, t + ".parquet"), "rb") as b:
                self.assertEqual(a.read(), b.read(), t)

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(self.changes(500, 3)[0], self.changes(500, 4)[0])

    def test_selectivities(self):
        payloads, users, revs = self.changes(20000, 5)
        ev = [json.loads(p) for p in payloads]
        kept = [e for e in ev if e["type"] in ("edit", "create") and not e["bot"]
                and e["namespace"] == 2 and e["server_name"] == "en.wikipedia.org"]
        self.assertAlmostEqual(len(kept) / len(ev), 0.126, delta=0.01)
        self.assertAlmostEqual(1 - len(revs["revid"]) / len(ev), gen.P_MISSING_REV, delta=0.005)
        box = sum("{{Userbox}}" in t for t in revs["text"]) / len(revs["text"])
        self.assertAlmostEqual(box, gen.P_USERBOX, delta=0.015)
        titles = [e["title"] for e in ev]
        self.assertLess(len(set(titles)), len(titles))  # titles repeat
        dts = [e["meta"]["dt"] for e in ev]
        self.assertEqual(dts, sorted(dts))  # event time is monotone
        self.assertEqual([e["meta"]["offset"] for e in ev], list(range(len(ev))))


class LatencyArithmeticTest(unittest.TestCase):
    # two batches: offsets 0-9 end at 3 s, offsets 10-19 end at 5 s;
    # publishing at 10 events/s from t=1 s
    S0 = 1_000_000_000
    BATCHES = [[0, 0, 9, 10, 0, 3_000_000_000], [1, 10, 19, 10, 0, 5_000_000_000]]

    def test_latency_is_batch_end_minus_scheduled_publish(self):
        lat = run.tail_latencies_ms(self.BATCHES, self.S0, 10.0, 0, 20)
        self.assertEqual(len(lat), 20)
        self.assertAlmostEqual(lat[0], 2000.0)    # due 1.0 s, done 3 s
        self.assertAlmostEqual(lat[9], 1100.0)    # due 1.9 s, done 3 s
        self.assertAlmostEqual(lat[10], 3000.0)   # due 2.0 s, done 5 s
        self.assertAlmostEqual(lat[19], 2100.0)   # due 2.9 s, done 5 s

    def test_window_selects_offsets(self):
        lat = run.tail_latencies_ms(self.BATCHES, self.S0, 10.0, 5, 15)
        self.assertEqual(len(lat), 10)
        self.assertAlmostEqual(lat[0], 1500.0)    # offset 5
        self.assertAlmostEqual(lat[-1], 2600.0)   # offset 14

    def test_throughput(self):
        # 20 events from due 1.0 s to done 5.0 s
        self.assertAlmostEqual(run.tail_throughput(self.BATCHES, self.S0, 10.0, 0, 20), 5.0)

    def test_quantile_is_linear(self):
        self.assertEqual(run.quantile([4, 1, 3, 2], 0.5), 2.5)
        self.assertAlmostEqual(run.quantile(list(range(11)), 0.9), 9.0)


class FingerprintTest(unittest.TestCase):
    def test_order_and_type_independent(self):
        import duckdb
        con = duckdb.connect()
        a = run.fingerprint(con, "SELECT * FROM (VALUES (1, 'x'), (2, NULL)) t(k, v)")
        b = run.fingerprint(con, "SELECT v, k::DOUBLE AS k FROM (VALUES (2, NULL), (1, 'x')) t(k, v)")
        c = run.fingerprint(con, "SELECT * FROM (VALUES (1, 'x'), (3, NULL)) t(k, v)")
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


if __name__ == "__main__":
    unittest.main()
