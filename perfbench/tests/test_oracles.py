"""Panel oracle checks, and that the benchmark's declared metric names
match what the runner prints."""
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.join(HERE, "..")
sys.path.insert(0, BENCH)
import layers  # noqa: E402
import oracles  # noqa: E402
import run  # noqa: E402


class OracleCheck(unittest.TestCase):
    def test_match_and_mismatch(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        import gen
        with tempfile.TemporaryDirectory() as data, tempfile.TemporaryDirectory() as res:
            gen.write_static(data, 1)
            for q, v in (("good", [1, 2]), ("bad", [1, 3])):
                os.makedirs(os.path.join(res, q))
                pq.write_table(pa.table({"x": pa.array(v, pa.int64())}),
                               os.path.join(res, q, "part-0.parquet"))
            sql = "SELECT * FROM (VALUES (2), (1)) t(x)"
            with open(os.path.join(res, "oracle_sql.json"), "w") as f:
                json.dump({"good": sql, "bad": sql, "missing": sql}, f)
            got = dict(oracles.check(res, data, ["good", "bad", "missing"]))
            self.assertEqual(got, {"bad matches its DuckDB oracle": False,
                                   "good matches its DuckDB oracle": True,
                                   "missing matches its DuckDB oracle": False})


class DeclaredMetrics(unittest.TestCase):
    def test_benchmark_json_matches_the_runner(self):
        path = os.path.join(BENCH, "..", "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("BENCHMARK.json not beside the benchmark")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.E2E)
        self.assertEqual(tuple(w["name"] for w in b["workloads"]), run.WORKLOADS)
        # the panel's query names come from the harness at run time
        declared = {m["name"]: m["unit"] for m in b["per_layer"]}
        queries = {k: u for k, u in declared.items() if re.fullmatch(r"q\.\w+_s", k)}
        self.assertEqual(set(queries.values()), {"s"})
        panel = {"olap": [k[2:-2] for k in queries]}
        self.assertEqual(declared, layers.units("wh_stream", panel))


class TracingOverhead(unittest.TestCase):
    def test_baseline_is_the_median_of_matching_untraced_runs(self):
        with tempfile.TemporaryDirectory() as d:
            for name in ("jobs.jsonl", "progress.jsonl"):
                open(os.path.join(d, name), "w").close()
            with open(os.path.join(d, "pinned_peaks.json"), "w") as f:
                json.dump({}, f)
            jvm = {"panel": {"olap": ["a"], "corpus": []}, "session_create_s": 1.0,
                   "rss_peak_mb": 100.0, "serve_s": [0.1],
                   "query_runs": [{"q": "a", "start": 0.0, "wall": 2.2}]}
            e2e = {"bulk_s": 2.2}
            base = [{"bulk_s": 1.0}, {"bulk_s": 2.0}, {"bulk_s": 9.0}]
            v, u = layers.per_layer("batch_panel", d, {"ready": 0.0}, jvm, e2e, base)
            self.assertEqual((v["trace.baseline_runs"], v["trace.untraced_e2e_s"]), (3, 2.0))
            self.assertAlmostEqual(v["trace.overhead_pct"], 10.0)
            self.assertEqual(u["q.a_s"], "s")
            v, _ = layers.per_layer("batch_panel", d, {"ready": 0.0}, jvm, e2e, [])
            self.assertEqual((v["trace.baseline_runs"], v["trace.overhead_pct"]), (0, 0.0))

if __name__ == "__main__":
    unittest.main()
