"""The benchmark's own tests.

Run from the repository root:
  python3 -m unittest discover -s perfbench -p 'test_*.py'

The last test builds the harness and starts its JVM (about a minute the
first time).
"""
import json
import math
import os
import shutil
import sys
import tempfile
import unittest

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def rec(sid, lat_ms, ok=True):
    return {"id": sid, "kind": "query", "traced": False, "ok": ok,
            "lat_ms": lat_ms, "build_ms": 0.0, "exec_ms": lat_ms}


class MetricsTest(unittest.TestCase):
    def result(self, records, wall_s):
        return {"setup": {"total_s": 2.0},
                "passes": [{"pass": 1, "traced": False, "wall_s": wall_s}],
                "records": records, "peak_rss_kb": 2048}

    def test_failed_statement_counts_as_infinitely_slow(self):
        recs = [rec(f"q{i}", 100.0) for i in range(9)]
        recs.append(rec("q_throws", 1.0, ok=False))
        m = run.end_to_end(self.result(recs, 1.0), recs)
        # the failure is the slowest statement, never a 1 ms one
        self.assertEqual(m["latency_p90_s"], math.inf)
        self.assertAlmostEqual(m["latency_p50_s"], 0.1)
        # it does not count as completed, but its time stays in the wall
        self.assertAlmostEqual(m["throughput_qps"], 9.0)
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(m["peak_rss_mb"], 2.0)

    def test_failures_dominate_the_high_percentiles(self):
        recs = [rec("ok", 10.0)] + [rec(f"f{i}", 0.5, ok=False)
                                    for i in range(3)]
        m = run.end_to_end(self.result(recs, 1.0), recs)
        self.assertEqual(m["latency_p50_s"], math.inf)
        self.assertEqual(m["throughput_qps"], 1.0)


    def test_quantile_blends_neighbours_across_a_gap(self):
        lo, hi = [0.1] * 10, [0.2] * 10
        self.assertAlmostEqual(run.quantile(lo + [0.15] + hi, 0.5), 0.15)
        # one value moving across the gap moves the median part way, not
        # from the middle value to the upper cluster
        shifted = run.quantile(lo[:-1] + [0.15, 0.2] + hi, 0.5)
        self.assertTrue(0.15 < shifted < 0.19, shifted)
        self.assertEqual(run.quantile([0.3], 0.9), 0.3)


class CompareTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def written(self, frame):
        path = os.path.join(self.dir, "out")
        os.makedirs(path, exist_ok=True)
        pq.write_table(pa.Table.from_pandas(frame, preserve_index=False),
                       os.path.join(path, "part-0.parquet"))
        return path

    def test_order_insensitive_and_float_tolerant(self):
        got = self.written(pd.DataFrame({"k": [2, 1], "v": [0.3, 0.1]}))
        self.assertIsNone(check.compare(got, pd.DataFrame(
            {"v": [0.1, 0.1 + 0.2 - 1e-17], "k": [1, 2]})))

    def test_value_difference_is_reported(self):
        got = self.written(pd.DataFrame({"k": [1, 2], "v": [0.1, 0.3]}))
        self.assertIn("row", check.compare(got, pd.DataFrame(
            {"k": [1, 2], "v": [0.1, 0.31]})))
        self.assertIn("rows", check.compare(got, pd.DataFrame(
            {"k": [1], "v": [0.1]})))


class WorkloadTest(unittest.TestCase):
    def test_passes_follow_seconds(self):
        self.assertEqual(workloads.timed_passes("query_mix", 7, 0), 1)
        self.assertEqual(workloads.timed_passes("query_mix", 13, 0), 2)
        self.assertEqual(workloads.timed_passes("query_mix", 1, 0), 1)
        self.assertEqual(workloads.timed_passes("query_mix", 1, 1), 2)

    def test_seed_orders_but_never_changes_the_set(self):
        a = workloads.plan("query_mix", 1)
        b = workloads.plan("query_mix", 2)
        self.assertEqual(a[0], b[0])
        self.assertNotEqual(a[1][:3], b[1][:3])
        self.assertEqual(a[1], workloads.plan("query_mix", 1)[1])
        for order in a[1]:
            self.assertEqual(sorted(order), list(range(len(a[0]))))

    def test_hive_script_is_seeded(self):
        s1 = workloads.hive_script(1)[0]
        self.assertEqual(s1, workloads.hive_script(1)[0])
        self.assertNotEqual(s1, workloads.hive_script(2)[0])
        kinds = {s["kind"] for s in s1}
        self.assertEqual(kinds, {"ddl", "insert", "update", "delete",
                                 "merge", "select", "meta_read"})


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_names_and_units_match_the_run(self):
        path = os.path.join(os.path.dirname(run.BENCH), "BENCHMARK.json")
        with open(path) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.E2E_UNITS)
        self.assertTrue({w["name"] for w in spec["workloads"]}
                        <= set(workloads.WORKLOADS))


class HarnessTest(unittest.TestCase):
    """A statement that throws is recorded as failed; the run goes on."""

    def test_throwing_statement_is_recorded(self):
        classpath = run.build()
        data_dir, _ = run.data()
        os.makedirs(os.path.join(run.STATE, "runs"), exist_ok=True)
        run_dir = tempfile.mkdtemp(dir=os.path.join(run.STATE, "runs"))
        stmts = workloads.query_statements(["q_dedup_exact",
                                            "q_no_such_query"])
        try:
            res = run.run_jvm(classpath, {
                "workload": "test", "cores": 2, "timed_passes": 1,
                "trace": False, "data": data_dir, "run_dir": run_dir,
                "hive": False,
                "statements": stmts, "orders": [[0, 1], [1, 0]],
                "final_tables": [], "cleanup": []}, run_dir)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        self.assertEqual(res["check"]["failed"], ["q_no_such_query"])
        timed = res["records"]
        self.assertEqual([r["ok"] for r in timed], [False, True])
        self.assertIn("NoSuchElementException", timed[0]["error"])
        m = run.end_to_end(res, timed)
        self.assertEqual(m["latency_p90_s"], math.inf)
        self.assertLess(m["throughput_qps"], 1.0 / (
            timed[1]["lat_ms"] / 1e3))


if __name__ == "__main__":
    unittest.main()
