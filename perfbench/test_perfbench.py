"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The ground-truth test builds the harness (as run.py does) and runs the
program's validation on a small generated sample.
"""
import json
import re
import shutil
import sys
import tempfile
import time
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class GeneratorTest(unittest.TestCase):
    def test_sales_csv_is_a_function_of_the_seed(self):
        a = gen.sales_csv(11, 3000, 0)
        self.assertEqual(a, gen.sales_csv(11, 3000, 0))
        self.assertNotEqual(a[0], gen.sales_csv(12, 3000, 0)[0])
        self.assertNotEqual(a[0], gen.sales_csv(11, 3000, 1)[0])

    def test_versions_share_keys_and_dirty_rows(self):
        ta, tb = gen.sales_csv(5, 3000, 0)[1], gen.sales_csv(5, 3000, 1)[1]
        for k in ("n_input", "n_clean", "n_rejected", "duplicate_ids"):
            self.assertEqual(ta[k], tb[k])
        self.assertNotEqual(ta["sum_total_cents"], tb["sum_total_cents"])

    def test_dirty_share_is_about_eight_percent(self):
        t = gen.sales_csv(3, 20000, 0)[1]
        self.assertAlmostEqual(t["n_rejected"] / t["n_input"], gen.DIRTY_SHARE, delta=0.01)


class MetricNamesTest(unittest.TestCase):
    def test_names_and_units_are_well_formed(self):
        for table in (run.END_TO_END, run.PER_LAYER):
            for name, unit in table.items():
                self.assertRegex(name, NAME)
                self.assertRegex(unit, UNIT)
        self.assertFalse(set(run.END_TO_END) & set(run.PER_LAYER))

    def test_benchmark_json_declares_what_run_py_prints(self):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        for m in spec["end_to_end"] + spec["per_layer"] + spec["workloads"]:
            self.assertRegex(m["name"], NAME)


class GroundTruthTest(unittest.TestCase):
    """The generator's counts and sums agree with graft.etl.Validate."""

    def test_truth_matches_the_programs_validation(self):
        run.build()
        work = Path(tempfile.mkdtemp(prefix="perfbench-test-", dir=run.ROOT))
        try:
            body, truth = gen.sales_csv(23, 4000, 0)
            (work / "sample.csv").write_bytes(body)
            out = work / "sample.json"
            run.run_jvm("perfbench.ValidateSample", [str(work / "sample.csv"), str(out)],
                        work, time.time() + 170)
            seen = json.loads(out.read_text())
            self.assertTrue(seen["structure_ok"])
            for k in ("n_clean", "n_rejected", "duplicate_ids", "sum_quantity",
                      "sum_price_cents", "sum_total_cents", "sum_customer_id",
                      "sum_date", "sum_text_len", "n_completed"):
                self.assertEqual(seen[k], truth[k], k)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
