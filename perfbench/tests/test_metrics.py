"""Freshness, catch-up and percentile arithmetic on synthetic Spark logs,
and the run's failure accounting."""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))
import metrics as M  # noqa: E402
import run  # noqa: E402


def write_log(d, name, entries, mtime=None):
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, name)
    with open(p, "w") as f:
        f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))
    if mtime is not None:
        os.utime(p, ns=(int(mtime * 1e9), int(mtime * 1e9)))


def write_offsets(ckpt, batch, log_offsets):
    d = os.path.join(ckpt, "offsets")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, str(batch)), "w") as f:
        f.write("v1\n{}\n" + "".join("-\n" if o is None else json.dumps({"logOffset": o}) + "\n"
                                       for o in log_offsets))


def touch(p, mtime):
    open(p, "w").close()
    os.utime(p, ns=(int(mtime * 1e9), int(mtime * 1e9)))


def landing(name, due, phase="open", topic="ods_events", rows=10):
    return {"name": name, "topic": topic, "due": due, "landed": due + 0.01,
            "phase": phase, "rows": rows}


class Percentiles(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(M.percentile(xs, 0.5), 3.0)
        self.assertAlmostEqual(M.percentile(xs, 0.9), 4.6)
        self.assertEqual(M.percentile(xs, 0.0), 1.0)
        self.assertEqual(M.percentile(xs, 1.0), 5.0)
        self.assertAlmostEqual(M.percentile(range(1, 101), 0.9), 90.1)

    def test_union_and_driver_gap(self):
        self.assertEqual(M.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        jobs = [{"start": 10.0, "end": 11.0}, {"start": 10.5, "end": 12.0},
                {"start": 13.0, "end": float("nan")}]
        self.assertAlmostEqual(M.driver_gap(5.0, 10.0, jobs), 3.0)


class Freshness(unittest.TestCase):
    def test_wh_file_to_batch_to_marker(self):
        with tempfile.TemporaryDirectory() as d:
            src = os.path.join(d, "sources", "0")
            # query batch 1 ran on the watermark alone: no new source offset
            write_offsets(d, 0, [0])
            write_offsets(d, 1, [0])
            write_offsets(d, 2, [1])
            write_log(src, "0", [{"path": "file:///t/a.parquet", "timestamp": 1, "batchId": 0}])
            write_log(src, "1", [{"path": "file:///t/b.parquet", "timestamp": 1, "batchId": 1},
                                 {"path": "file:///t/c.parquet", "timestamp": 1, "batchId": 1}])
            # a compact file repeats earlier entries; they keep their batch
            write_log(src, "1.compact", [{"path": "file:///t/a.parquet", "timestamp": 1, "batchId": 0},
                                         {"path": "file:///t/b.parquet", "timestamp": 1, "batchId": 1}])
            out = os.path.join(d, "wh")
            os.makedirs(out)
            touch(os.path.join(out, "_committed_0"), 102.0)
            touch(os.path.join(out, "_committed_1"), 103.5)
            touch(os.path.join(out, "_committed_2"), 105.0)
            lands = [landing("a.parquet", 100.0), landing("b.parquet", 101.0),
                     landing("c.parquet", 103.0, "backlog0"), landing("lost.parquet", 104.0)]
            vis = M.visibility(lands, M.wh_visible(M.source_batches(d), M.marker_times(out)))
            fresh, failed = M.freshness(lands, vis, end=110.0)
            self.assertEqual(failed, 1)
            for got, want in zip(fresh, [2.0, 4.0, 2.0, 6.0]):  # lost: censored at end
                self.assertAlmostEqual(got, want, places=6)
            self.assertIsNone(M.catchup(lands, vis, "backlog1"))
            rows, secs = M.catchup(lands, vis, "backlog0")
            self.assertEqual(rows, 10)
            self.assertAlmostEqual(secs, 105.0 - 103.01, places=6)
            self.assertAlmostEqual(M.percentile(fresh, 0.5), 3.0, places=6)

    def test_dwm_chain_mapping(self):
        with tempfile.TemporaryDirectory() as d:
            ow = os.path.join(d, "ow")
            ow_src = os.path.join(ow, "sources", "0")
            for b in range(3):
                write_offsets(ow, b, [b])
            write_log(ow_src, "0", [{"path": "f:/o-0.parquet", "batchId": 0},
                                    {"path": "f:/l-0.parquet", "batchId": 0}])
            write_log(ow_src, "1", [{"path": "f:/o-1.parquet", "batchId": 1}])
            write_log(ow_src, "2", [{"path": "f:/l-1.parquet", "batchId": 2}])
            sink = os.path.join(d, "order_wide_meta")
            write_log(sink, "0", [{"path": "f:/ow-a.parquet", "action": "add"}])
            write_log(sink, "1", [])  # o-1 joined nothing yet
            write_log(sink, "2.compact", [{"path": "f:/ow-a.parquet", "action": "add"},
                                          {"path": "f:/ow-b.parquet", "action": "add"}])
            pw = os.path.join(d, "pw")
            pw_src = os.path.join(pw, "sources", "0")
            write_offsets(pw, 0, [0])
            write_offsets(pw, 1, [1])
            write_log(pw_src, "0", [{"path": "f:/p-0.parquet", "batchId": 0},
                                    {"path": "f:/ow-a.parquet", "batchId": 0}])
            write_log(pw_src, "1", [{"path": "f:/ow-b.parquet", "batchId": 1},
                                    {"path": "f:/p-1.parquet", "batchId": 1}])
            pw_meta = os.path.join(d, "pw_meta")
            write_log(pw_meta, "0", [], mtime=50.0)
            write_log(pw_meta, "1", [], mtime=60.0)
            at = M.dwm_visible(M.source_batches(ow), M.sink_batches(sink),
                               M.source_batches(pw), M.commit_times(pw_meta))
            self.assertEqual(M.sink_batches(sink)[2], ["ow-b.parquet"])
            got = {n: at({"name": n, "topic": t}) for n, t in
                   [("o-0.parquet", "orders"), ("l-0.parquet", "lineitem"),
                    ("o-1.parquet", "orders"), ("l-1.parquet", "lineitem"),
                    ("p-0.parquet", "payments"), ("p-1.parquet", "payments"),
                    ("p-9.parquet", "payments")]}
            self.assertEqual(got, {"o-0.parquet": 50.0, "l-0.parquet": 50.0,
                                   "o-1.parquet": 60.0, "l-1.parquet": 60.0,
                                   "p-0.parquet": 50.0, "p-1.parquet": 60.0,
                                   "p-9.parquet": None})


class Accounting(unittest.TestCase):
    JVM = {"serve_s": [0.1, 0.2], "serve_failed": 0}

    def test_all_ok(self):
        self.assertEqual(run.account(5, 0, self.JVM, [("c", True)]), (True, 8, 0))

    def test_invisible_file_fails_the_run(self):
        self.assertEqual(run.account(5, 1, self.JVM, [("c", True)]), (False, 8, 1))

    def test_failed_check_and_serving_call(self):
        jvm = {"serve_s": [0.1], "serve_failed": 1}
        self.assertEqual(run.account(5, 0, jvm, [("a", True), ("b", False)]), (False, 9, 2))

    def test_throwing_query_counts_as_failed(self):
        jvm = {"query_runs": [{"q": "a", "start": 0, "wall": 0.5},
                              {"q": "b", "start": 1, "wall": None},
                              {"q": "c", "start": 2, "wall": 0.7}],
               "panel": {"olap": ["a", "b"], "corpus": ["c"]},
               "serve_s": [0.1], "serve_failed": 0}
        e2e, ops, failed = run.e2e_panel(jvm)
        self.assertEqual((ops, failed), (3, 1))
        self.assertAlmostEqual(e2e["item_p50_s"], 0.5)  # the OLAP family's pass
        self.assertAlmostEqual(e2e["item_p90_s"], 0.7)  # the corpus family's pass
        self.assertAlmostEqual(e2e["bulk_s"], 1.2)
        self.assertEqual(run.account(ops, failed, jvm, []), (False, 4, 1))

if __name__ == "__main__":
    unittest.main()
