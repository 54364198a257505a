"""Tests of the benchmark's own code.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads as wl  # noqa: E402


class TailRule(unittest.TestCase):
    def test_mean_of_the_slowest_tenth(self):
        self.assertEqual(stats.tail([float(i) for i in range(1, 101)]), (95.5, 10, 100))
        # 34 ops: the slowest four (a tenth, rounded up)
        xs = [0.1] * 30 + [2.0, 4.0, 6.0, 8.0]
        self.assertEqual(stats.tail(xs), (5.0, 4, 34))

    def test_at_least_ten_ops_from_a_hundred_samples(self):
        for n in range(100, 900, 7):
            value, k, samples = stats.tail(list(range(n)))
            self.assertEqual(samples, n)
            self.assertGreaterEqual(k, 10)
            self.assertGreaterEqual(k * 10, n)
            self.assertLess((k - 1) * 10, n)

    def test_few_samples(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 1, 3))
        self.assertEqual(stats.tail([1.0] * 12 + [5.0, 7.0]), (6.0, 2, 14))

    def test_moves_with_every_slow_op(self):
        base = [0.1] * 30 + [2.0, 2.0, 2.0, 2.0]
        slower = base[:-1] + [3.0]
        self.assertGreater(stats.tail(slower)[0], stats.tail(base)[0])

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7] * 10
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_empty(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class JobUnion(unittest.TestCase):
    def test_overlapping_nested_and_disjoint(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (6, 7), (20, 25)]), 20)

    def test_touching_and_empty(self):
        self.assertEqual(stats.union_length([(0, 5), (5, 8)]), 8)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(4, 4)]), 0)

    def test_clipped_to_the_op(self):
        self.assertEqual(stats.union_length([(-5, 5), (8, 30)], 0, 10), 7)

    def test_driver_gap(self):
        op = {"start_ms": 1000.0, "end_ms": 2000.0,
              "trace": {"jobs": [[1100, 1400], [1300, 1500], [1900, 2300]]}}
        self.assertAlmostEqual(stats.driver_gap_s(op), 0.5)
        self.assertAlmostEqual(stats.driver_gap_s(dict(op, trace={"jobs": []})), 1.0)


class FailureAccounting(unittest.TestCase):
    def test_rates_against_ops_attempted(self):
        ops = [{"id": i, "ok": i not in (1, 4)} for i in range(8)]
        checks = {0: (True, ""), 2: (False, "row count"), 3: (True, ""),
                  5: (True, ""), 6: (True, ""), 7: (True, ""),
                  4: (False, "not run")}          # failed op: never checked
        a = stats.accounting(ops, checks)
        self.assertEqual((a["attempted"], a["failed"], a["checked"], a["wrong"]),
                         (8, 2, 6, 1))
        self.assertAlmostEqual(a["error_rate"], 2 / 8)
        self.assertAlmostEqual(a["wrong_rate"], 1 / 6)

    def test_all_clean(self):
        a = stats.accounting([{"id": 0, "ok": True}], {0: (True, "")})
        self.assertEqual((a["error_rate"], a["wrong_rate"]), (0.0, 0.0))


class SeedDeterminism(unittest.TestCase):
    def test_corpus_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            for regime in wl.REGIMES:
                a, b, c = (os.path.join(d, f"{regime}{i}") for i in range(3))
                gen.write_corpus(a, 7, regime)
                gen.write_corpus(b, 7, regime)
                gen.write_corpus(c, 8, regime)
                for t in ("documents.parquet", "events.parquet"):
                    self.assertTrue(filecmp.cmp(os.path.join(a, t), os.path.join(b, t),
                                                shallow=False))
                    self.assertFalse(filecmp.cmp(os.path.join(a, t), os.path.join(c, t),
                                                 shallow=False))

    def _plan(self, workload, seed):
        data = {"base": "/b", "hot": "/h", "unique": "/u"}
        ops, _ = wl.plan_ops(workload, seed, 10, False, data)
        return [(o["kind"], o["label"], o["arg"], o.get("duck")) for o in ops]

    def test_plans_and_statement_streams(self):
        for w in wl.WORKLOADS:
            self.assertEqual(self._plan(w, 3), self._plan(w, 3))
            self.assertNotEqual(self._plan(w, 3), self._plan(w, 4))
            # a different seed changes the order (table_rw: the keys and
            # values), not the op set
            if w != "table_rw":
                self.assertEqual(sorted(self._plan(w, 3)), sorted(self._plan(w, 4)))

    def test_table_pass_mix(self):
        ops, _ = wl.plan_ops("table_rw", 5, 10, False, {"base": "/b"})
        span = wl.timed_passes("table_rw", 10)
        self.assertEqual(sorted({o["pass"] for o in ops}),
                         list(range(wl.warm_passes("table_rw"))) + list(span))
        warm = [o["label"] for o in ops if o["pass"] < span.start]
        self.assertEqual(warm[-2:], ["compact", "expire"])
        self.assertEqual(warm.count("compact"), 1)
        labels = [o["label"] for o in ops if o["pass"] == span.start]
        for kind in set(wl.PASS_ORDER):
            n = wl.PASS_ORDER.count(kind)
            if kind == "agg_select":
                n += wl.PASS_ORDER.count("full_select")
            if kind != "full_select":
                self.assertEqual(labels.count(kind), n)
        self.assertEqual(labels.count("compact"), labels.count("expire"))
        self.assertGreaterEqual(labels.count("compact"), 2)

    def test_merge_replays_as_delete_then_insert(self):
        s = wl.TableStream(1)
        s.next("insert")
        m = s.next("merge")
        self.assertTrue(m.spark.startswith("MERGE INTO graftcat.li"))
        self.assertEqual([d.split()[0] for d in m.duck], ["DELETE", "INSERT"])


class DedupOracle(unittest.TestCase):
    def test_components(self):
        docs = [(1, "a b c d e"), (2, "a b c d e"), (3, "x a b c d e"),
                (4, "p q r s"), (5, "zz yy"), (6, "p q r s t")]
        # 1-2 identical, 3 shares 3 of 4 shingles with them, 4-6 share 2 of 3
        self.assertEqual(check.dedup_clusters_oracle(docs), [(1, 3), (4, 2)])


class TableReplay(unittest.TestCase):
    """check_table_rw compares every column, l_shipdate included."""

    def setUp(self):
        import datetime
        import pyarrow as pa
        import pyarrow.parquet as pq
        self.tmp = tempfile.TemporaryDirectory()
        d = self.tmp.name
        self.ship = [datetime.datetime(1996, 3, 1 + i) for i in range(4)]
        cols = {"l_orderkey": [1, 2, 3, 4], "l_linenumber": [1, 1, 1, 1],
                "l_partkey": [10, 20, 30, 40], "l_quantity": [1.0, 2.0, 3.0, 4.0],
                "l_extendedprice": [10.5, 20.5, 30.5, 40.5],
                "l_discount": [0.0, 0.01, 0.02, 0.03],
                "l_returnflag": ["A", "N", "R", "A"]}
        self.lineitem = os.path.join(d, "lineitem.parquet")
        pq.write_table(pa.table(dict(cols, l_shipdate=pa.array(self.ship, pa.timestamp("us")))),
                       self.lineitem)
        self.out = os.path.join(d, "out")
        os.makedirs(os.path.join(self.out, "final_table"))
        self.table = pa.table({
            "lk": [o * 8 + 1 for o in cols["l_orderkey"]],
            **{k: v for k, v in cols.items() if k != "l_linenumber"}})
        # a point lookup of order 2, as the JVM client prints its rows
        self.select = {"id": 0, "pass": 0, "ok": True, "label": "point_select",
                       "duck": [f"SELECT {', '.join(wl.TABLE_COLS)} FROM li WHERE lk = 17"]}

    def tearDown(self):
        self.tmp.cleanup()

    def _check(self, ship, selected_ship):
        import pyarrow as pa
        import pyarrow.parquet as pq
        pq.write_table(self.table.append_column("l_shipdate", pa.array(ship, pa.timestamp("us"))),
                       os.path.join(self.out, "final_table", "part-0.parquet"))
        with open(os.path.join(self.out, "selects.jsonl"), "w") as fh:
            fh.write(json.dumps({"op": 0, "rows": [
                [17, 2, 20, 2.0, 20.5, 0.01, "N", selected_ship]]}) + "\n")
        results, replay = check.check_table_rw(os.path.dirname(BENCH), [self.select], self.out,
                                               wl.table_setup_duck(self.lineitem), range(1))
        return results[0][0], replay["final_table_ok"]

    def test_matching_table_passes(self):
        self.assertEqual(self._check(self.ship, "1996-03-02 00:00:00.000000"), (True, True))

    def test_changed_timestamp_fails(self):
        shifted = list(self.ship)
        shifted[2] = shifted[2].replace(year=1997)
        self.assertEqual(self._check(shifted, "1996-03-03 00:00:00.000000"), (False, False))


class BenchmarkJson(unittest.TestCase):
    def test_metric_names_match_the_code(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(wl.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, layers.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
