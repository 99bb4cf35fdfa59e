"""Tests of the benchmark's own arithmetic and checks (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


class TailRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(99))))
        self.assertEqual(stats.tail(list(range(100))), 89)
        xs = list(range(100))
        self.assertEqual(sum(1 for x in xs if x > stats.tail(xs)), 10)

    def test_p90_of_few_samples_is_not_reported(self):
        self.assertIsNone(stats.tail([5.0] * 12))
        self.assertIsNone(stats.tail([]))

    def test_order_does_not_matter(self):
        xs = [float(x) for x in range(200)]
        self.assertEqual(stats.tail(xs), stats.tail(list(reversed(xs))))


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)], lo=2, hi=12), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_covered_children_once(self):
        spans = [
            (1, 0, "server.handleLine", 0, 100_000),
            (2, 1, "gateway.execute", 10_000, 70_000),
            (3, 2, "catalog.load.load", 20_000, 30_000),
            (4, 2, "catalog.load.load", 25_000, 40_000),  # overlaps its sibling
        ]
        t = stats.SpanTree(spans)
        self.assertEqual(t.self_time(1), 40_000)
        self.assertEqual(t.self_time(2), 60_000 - 20_000)
        self.assertEqual(t.self_time(3), 10_000)

    def test_listener_spans_land_under_innermost_holder(self):
        spans = [
            (1, 0, "server.handleLine", 0, 100_000),
            (2, 1, "gateway.execute", 10_000, 70_000),
            (5, -1, "spark.sql", 80_000, 95_000),   # collect after the gateway returned
            (6, -1, "spark.job", 81_000, 90_000),
            (7, -1, "spark.sql", 9_500, 20_000),    # starts within the ms skew of the gateway
        ]
        t = stats.SpanTree(spans)
        self.assertEqual(t.spans[5][1], 1)
        self.assertEqual(t.spans[6][1], 5)
        self.assertEqual(t.spans[7][1], 2)
        self.assertEqual(t.self_time(1), 100_000 - 60_000 - 15_000)
        self.assertEqual(t.self_time(5), 15_000 - 9_000)

    def test_spans_outside_any_request_stay_top_level(self):
        t = stats.SpanTree([(1, 0, "ops.x", 0, 10_000), (2, -1, "spark.job", 50_000, 60_000)])
        self.assertEqual(t.spans[2][1], 0)
        self.assertEqual(t.outermost("ops."), [1])


def _orders(keys):
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array([k % 7 for k in keys], pa.int64()),
        "o_orderstatus": ["O"] * len(keys),
        "o_totalprice": [100.0 + k for k in keys],
        "o_orderdate": pa.array([0] * len(keys), pa.timestamp("us")),
        "o_orderpriority": ["1-URGENT"] * len(keys)})


class LakeShadow(unittest.TestCase):
    """A planted wrong answer or a lost write must be reported as a failure."""

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.orders = os.path.join(self.dir.name, "orders.parquet")
        self.stage = os.path.join(self.dir.name, "stage.parquet")
        pq.write_table(_orders(list(range(10))), self.orders)
        pq.write_table(_orders([100]), self.stage)
        ins = f"INSERT INTO lake.orders {workloads.INSERT_COLS} VALUES (50, 3, 'F', 9.5, '2-HIGH')"
        self.log = [
            dict(op="insert", write=True, ok=True, sql=ins, reply=[]),
            dict(op="count", ok=True, sql="SELECT COUNT(*) FROM lake.orders", reply=[{"count(1)": 11}]),
            dict(op="merge", write=True, ok=True, reply=[],
                 sql="MERGE INTO lake.orders USING lake.stage ON o_orderkey"),
            dict(op="select", ok=True, sql="SELECT COUNT(*) AS n, SUM(o_totalprice) AS total FROM orders",
                 reply=[{"n": 12, "total": 1045.0 + 9.5 + 200.0}]),
            dict(op="time_travel", ok=True, state=1, sql=workloads.TT_SQL.format(v=3),
                 reply=[{"n": 11, "total": 1045.0 + 9.5}]),
            dict(op="count", ok=True, restart=True, sql="SELECT COUNT(*) FROM lake.orders",
                 reply=[{"count(1)": 12}]),
        ]

    def tearDown(self):
        self.dir.cleanup()

    def test_correct_stream_has_no_failures(self):
        self.assertEqual(workloads.lake_check(self.log, self.orders, self.stage), [])

    def test_planted_wrong_answer_fails(self):
        self.log[3]["reply"] = [{"n": 12, "total": 1045.0 + 9.5 + 200.5}]
        self.assertEqual(workloads.lake_check(self.log, self.orders, self.stage), [self.log[3]])

    def test_wrong_time_travel_answer_fails(self):
        self.log[4]["reply"] = [{"n": 12, "total": 1254.5}]
        self.assertEqual(workloads.lake_check(self.log, self.orders, self.stage), [self.log[4]])

    def test_lost_write_after_restart_fails(self):
        self.log[5]["reply"] = [{"count(1)": 11}]  # the merged row did not survive the restart
        self.assertEqual(workloads.lake_check(self.log, self.orders, self.stage), [self.log[5]])

    def test_failed_call_counts(self):
        self.log[1]["ok"] = False
        self.assertEqual(workloads.lake_check(self.log, self.orders, self.stage), [self.log[1]])


class AgentCheck(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        pq.write_table(_orders(list(range(20))), os.path.join(self.dir.name, "orders.parquet"))
        self.con = check.connect([self.dir.name])
        cols = _orders([1]).schema.names
        self.facts = {"namespaces": {"tpch": ["orders"]}, "columns": {"orders": cols},
                      "counts": {"orders": 20}, "files": {"orders": {"a.parquet", "b.parquet"}},
                      "snapshots": {"orders": [0, 1]},
                      "stats": {"orders": [("o_totalprice", 20, 100.0, 119.0)]}}
        sql = "SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey ORDER BY o_custkey"
        want = check.rows(self.con, sql)
        create = "CREATE TABLE tpch.orders (\n" + ",\n".join(f"  {c} STRING" for c in cols) + "\n)"
        self.calls = [
            dict(kind="select", ok=True, sql=sql, reply=[{"o_custkey": k, "n": n} for k, n in want]),
            dict(kind="count", ok=True, sql="SELECT COUNT(*) FROM tpch.orders", reply=[{"count(1)": 20}]),
            dict(kind="catalog", ok=True, sql="LIST TABLES IN tpch",
                 reply=[{"namespace": "tpch", "table_name": "orders"}]),
            dict(kind="catalog", ok=True, sql="SHOW SNAPSHOTS IN tpch.orders",
                 reply=[{"snapshot": 0, "n_files": 1}, {"snapshot": 1, "n_files": 2}]),
            dict(kind="catalog", ok=True, sql="SHOW FILES IN tpch.orders",
                 reply=[{"file": "a.parquet", "row_count": 12}, {"file": "b.parquet", "row_count": 8}]),
            dict(kind="catalog", ok=True, sql="SHOW STATS IN tpch.orders",
                 reply=[{"column": "o_totalprice", "n_rows": 20, "n_nulls": 0, "min_v": "100.0",
                         "max_v": "119.0"}]),
            dict(kind="catalog", ok=True, sql="SHOW CREATE TABLE tpch.orders",
                 reply=[{"create_stmt": create}]),
        ]

    def tearDown(self):
        self.dir.cleanup()

    def check(self):
        return workloads.agent_check(self.calls, self.con, self.facts)

    def test_correct_answers_pass(self):
        self.assertEqual(self.check(), [])

    def test_planted_wrong_select_row_fails(self):
        self.calls[0]["reply"][2]["n"] += 1
        self.assertEqual(self.check(), [self.calls[0]])

    def test_missing_row_and_wrong_count_fail(self):
        self.calls[0]["reply"].pop()
        self.calls[1]["reply"] = [{"count(1)": 19}]
        self.assertEqual(self.check(), self.calls[:2])

    def test_wrong_catalog_replies_fail(self):
        self.calls[3]["reply"].pop()                    # snapshot list short of the head
        self.calls[4]["reply"][1]["file"] = "c.parquet"  # a file that is not there
        self.calls[5]["reply"][0]["max_v"] = "118.0"     # a wrong range
        self.calls[6]["reply"][0]["create_stmt"] = "CREATE TABLE tpch.orders (\n  o_orderkey BIGINT\n)"
        self.assertEqual(self.check(), self.calls[3:7])

    def test_missing_rows_in_file_list_and_stats_columns_fail(self):
        self.calls[4]["reply"].pop()
        self.calls[5]["reply"] = []
        self.assertEqual(self.check(), self.calls[4:6])


class LakeSnapshots(unittest.TestCase):
    """SHOW SNAPSHOTS in the write stream: the log on disk, ordered, moving
    only with acknowledged commits, trimmed by EXPIRE."""

    def listing(self, vs, disk=None):
        return dict(op="catalog", ok=True, sql="SHOW SNAPSHOTS IN lake.orders",
                    reply=[{"snapshot": v} for v in vs], disk=list(vs) if disk is None else disk)

    def bad(self, log):
        with tempfile.TemporaryDirectory() as d:
            orders, stage = os.path.join(d, "o.parquet"), os.path.join(d, "s.parquet")
            pq.write_table(_orders([1]), orders)
            pq.write_table(_orders([2]), stage)
            return workloads.lake_check(log, orders, stage)

    def test_listings_that_follow_the_commits_pass(self):
        expire = dict(op="expire", ok=True, sql="EXPIRE SNAPSHOTS IN lake.orders KEEP 2", reply=[{}])
        log = [self.listing([0, 1]), dict(op="delete_mor", write=True, ok=True, reply=[],
                                          sql="DELETE MOR FROM lake.orders WHERE o_orderkey = 9"),
               self.listing([0, 1, 2]), expire, self.listing([1, 2])]
        self.assertEqual(self.bad(log), [])

    def test_wrong_listings_fail(self):
        log = [self.listing([0, 1]), self.listing([0, 1, 2]),  # head moved with no commit
               self.listing([0, 2], disk=[0, 1, 2]),           # not what is on disk
               self.listing([1, 0])]                           # not ordered
        self.assertEqual(self.bad(log), log[1:])


class StolenSamples(unittest.TestCase):
    def test_an_op_with_no_clean_sample_keeps_its_least_stolen_one(self):
        calls = [dict(kind="select", op="a", ms=100.0, steal_s=0.02, stolen=True),
                 dict(kind="select", op="a", ms=100.0, steal_s=0.01, stolen=True),
                 dict(kind="select", op="b", ms=100.0, steal_s=0.03, stolen=True),
                 dict(kind="select", op="b", ms=100.0, steal_s=0.0)]
        workloads._keep_least_stolen(calls)
        self.assertEqual([c.get("stolen", False) for c in calls], [True, False, True, False])

    def test_throughput_keeps_stolen_calls_in_the_mix_but_not_repeats(self):
        window = [dict(kind="select", op="a", ms=100.0), dict(kind="write", op="b", ms=1000.0, stolen=True),
                  dict(kind="write", op="b", ms=500.0), dict(kind="select", op="a", ms=90.0, repeat=True)]
        counted = [c for c in window if not c.get("stolen")]
        self.assertAlmostEqual(run.calls_per_s(window, counted), 3 / (95.0 + 500.0 + 500.0) * 1000.0)

    def test_main_latency_weighs_every_op_once(self):
        calls = [dict(kind="write", op="a", ms=100.0), dict(kind="write", op="a", ms=300.0),
                 dict(kind="write", op="a", ms=200.0), dict(kind="write", op="b", ms=800.0),
                 dict(kind="select", op="c", ms=5.0)]
        self.assertAlmostEqual(run.kind_ms(calls, "write"), (200.0 * 800.0) ** 0.5)
        self.assertIsNone(run.kind_ms(calls, "count"))


class LayerMap(unittest.TestCase):
    def test_every_per_layer_metric_is_mapped_without_contradiction(self):
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "..", "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        with open(os.path.join(here, "LAYERS.json")) as fh:
            layers = json.load(fh)["layers"]
        self.assertEqual(sorted(layers), sorted(m["name"] for m in bench["per_layer"]))
        metrics = {m["name"] for m in bench["end_to_end"]}
        loads = {w["name"] for w in bench["workloads"]}
        for name, entry in layers.items():
            pairs = [tuple(p) for p in entry["moves"] + entry["flat"]]
            self.assertEqual(len(pairs), len(set(pairs)), name)
            for metric, workload in pairs:
                self.assertTrue(metric in metrics or "(report line)" in metric, (name, metric))
                self.assertIn(workload, loads, name)


class Generators(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        a, b, c = gen.tpch(3, 0.001), gen.tpch(3, 0.001), gen.tpch(4, 0.001)
        self.assertTrue(all(a[t].equals(b[t]) for t in gen.TPCH_TABLES))
        self.assertFalse(a["orders"].equals(c["orders"]))

    def test_agent_cycle_is_seeded_with_the_session_mix(self):
        ns = dict(gen.AGENT_NAMESPACES, side=["aux_00"])
        sizes = {"customer": 150, "side": 1}

        def take(seed):
            cycles = gen.agent_cycles(seed, ns, sizes)
            return [next(cycles) for _ in range(3)]
        self.assertEqual(take(1), take(1))
        self.assertNotEqual(take(1), take(2))
        for cycle in take(1):
            kinds = [c[0] for c in cycle]
            self.assertEqual((kinds.count("select"), kinds.count("catalog"), kinds.count("count")), (12, 7, 1))
            self.assertEqual(sorted(c[3] for c in cycle if c[0] == "select"),
                             [f"t{i:02d}" for i in range(12)])
            self.assertEqual(len({c[3] for c in cycle if c[0] == "catalog"}), 7)
            self.assertEqual(kinds[:8], ["catalog"] * 7 + ["select"])


if __name__ == "__main__":
    unittest.main()
