"""Generator determinism: the same seed gives byte-identical files."""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402


def staged_bytes(plan_fn, seed):
    with tempfile.TemporaryDirectory() as d:
        index = gen.stage(plan_fn(seed, 1.0), d)
        out = {}
        for e in index:
            with open(os.path.join(d, e["topic"], e["name"]), "rb") as f:
                out[(e["topic"], e["name"])] = f.read()
        return index, out


class GeneratorDeterminism(unittest.TestCase):
    def test_stream_plans_are_byte_identical_per_seed(self):
        for fn in (gen.wh_plan, gen.dwm_plan):
            i1, b1 = staged_bytes(fn, 7)
            i2, b2 = staged_bytes(fn, 7)
            _, b3 = staged_bytes(fn, 8)
            self.assertEqual(i1, i2)
            self.assertEqual(b1, b2)
            self.assertNotEqual(b1, b3)

    def test_static_tables_are_byte_identical_per_seed(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write_static(a, 3)
            gen.write_static(b, 3)
            names = sorted(os.listdir(a))
            self.assertEqual(len(names), 11)
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_wh_expectations_account_for_every_row(self):
        plan = gen.wh_plan(5, 1.0)
        total = sum(d.table.num_rows for d in plan.drops)
        self.assertEqual(plan.expect["clean"] + plan.expect["dirty"], total)
        self.assertGreater(plan.expect["dirty"], 0)
        served = sum(v[4] for v in plan.expect["serve"].values())
        self.assertEqual(served, plan.expect["clean"])

    def test_dwm_files_stay_in_event_time_order(self):
        plan = gen.dwm_plan(5, 1.0)
        col = {"orders": "o_orderdate", "lineitem": "l_shipdate", "payments": "pay_ts"}
        for topic, c in col.items():
            spans = [(min(v), max(v)) for v in
                     ([x.value for x in d.table.column(c)] for d in plan.drops if d.topic == topic)]
            for (_, hi), (lo, _) in zip(spans, spans[1:]):
                self.assertLess(hi, lo, topic)


if __name__ == "__main__":
    unittest.main()
