"""The benchmark's own tests; they need no Spark and no build.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import shutil
import sys
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import loangen
import run

SCRATCH = os.path.join(run.WORK, "test")
ROWS = 4000


def _digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _fake_etl_output(tallies, out_dir):
    """An ETL output that agrees with the tallies: the insights document
    and a parquet file with the tallied rows, columns, nulls and mode
    counts."""
    os.makedirs(os.path.join(out_dir, "parquet"))
    with open(os.path.join(out_dir, "insights.json"), "w") as f:
        json.dump(tallies["insights"], f)
    n = tallies["rows"]
    cols = {}
    for c in tallies["columns"]:
        nulls = tallies["nulls_after_fill"][c]
        m = tallies["per_column"].get(c, {}).get("mode")
        if m is not None:
            vals = [m] * (tallies["per_column"][c]["mode_count_in"] + tallies["per_column"][c]["nulls_in"])
            vals += [None] * nulls
            vals += ["zz" if isinstance(m, str) else -1] * (n - len(vals))
        else:
            vals = [None] * nulls + [0] * (n - nulls)
        cols[c] = pa.array(vals)
    pq.write_table(pa.table(cols), os.path.join(out_dir, "parquet", "part-0.parquet"))


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        os.makedirs(SCRATCH)

    def test_same_seed_same_bytes(self):
        a, b, c = (os.path.join(SCRATCH, x + ".csv") for x in "abc")
        loangen.generate(7, ROWS, a)
        loangen.generate(7, ROWS, b)
        loangen.generate(8, ROWS, c)
        self.assertEqual(_digest(a), _digest(b))
        self.assertEqual(_digest(a + ".tallies.json"), _digest(b + ".tallies.json"))
        self.assertNotEqual(_digest(a), _digest(c))

    def test_planted_shapes(self):
        path = os.path.join(SCRATCH, "a.csv")
        t = loangen.generate(3, ROWS, path)
        with open(path) as f:
            lines = f.read().split("\n")
        width = len(lines[0].split(","))
        self.assertGreater(width, 24)
        self.assertTrue(any(len(l.split(",")) < width for l in lines[1:]), "no ragged row")
        body = "\n".join(lines[1:])
        self.assertIn("/", body)  # MM/dd/yyyy
        self.assertIn(loangen.TS_UNPARSEABLE, body)
        self.assertEqual(t["tie_modes"]["tie_int"]["value"], 7)
        self.assertEqual(t["tie_modes"]["tie_int"]["string_mode"], "12")
        self.assertIsNone(t["tie_modes"]["tie_null"]["value"])
        self.assertGreater(t["nulls_after_fill"]["null_mode"], 0)

    def test_lane_tables_present(self):
        sys.path.insert(0, os.path.join(run.ROOT, "tools"))
        from check_oracle import TABLES
        for t in TABLES:
            self.assertGreater(pq.ParquetFile(os.path.join(run.TABLES_DIR, t + ".parquet")).metadata.num_rows,
                               0, t)


class CheckTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        os.makedirs(SCRATCH)
        self.tallies = loangen.generate(11, ROWS, os.path.join(SCRATCH, "in.csv"))
        self.out = os.path.join(SCRATCH, "out")
        _fake_etl_output(self.tallies, self.out)

    def test_matching_output_passes(self):
        self.assertEqual(run.check_etl(self.tallies, self.out), [])

    def test_wrong_tally_is_a_failure(self):
        for key in ("total_loans", "avg_loan_amount"):
            wrong = json.loads(json.dumps(self.tallies))
            wrong["insights"][key] += 1
            self.assertEqual(len(run.check_etl(wrong, self.out)), 1, key)
        wrong = json.loads(json.dumps(self.tallies))
        wrong["nulls_after_fill"]["date"] += 1
        self.assertEqual(len(run.check_etl(wrong, self.out)), 1)
        wrong = json.loads(json.dumps(self.tallies))
        wrong["per_column"]["tie_int"]["mode_count_in"] -= 1
        self.assertEqual(len(run.check_etl(wrong, self.out)), 1)

    def test_wrong_fill_value_is_a_failure(self):
        # a mode fill that writes the runner-up, in a column with no tie
        wrong = json.loads(json.dumps(self.tallies))
        wrong["per_column"]["int_1"]["mode"] = -7
        self.assertEqual(len(run.check_etl(wrong, self.out)), 1)
        wrong = json.loads(json.dumps(self.tallies))
        wrong["per_column"]["str_2"]["mode"] = "zz"
        self.assertEqual(len(run.check_etl(wrong, self.out)), 1)

    def test_throwing_fill_reports_no_time(self):
        want = {"tie_int": 5}
        layers, problems = run.alternative_fills({
            "aggregator": {"seconds": 2.0, "tie_counts": None, "error": "RuntimeException: boom"},
            "single_pass": {"seconds": 1.0, "tie_counts": want, "error": None}}, want)
        self.assertEqual(len(problems), 1)
        self.assertEqual(layers, {"ops.modefill_single_pass_s": 1.0, "ops.modefill_single_pass_ties_match": 1.0})


class ReportTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def _line(self, trace):
        measured = {k: 1.5 for k in run.END_TO_END}
        return json.loads(run.report(True, 3, 0, measured, trace))

    def test_every_metric_printed_with_its_unit(self):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            line = self._line(trace)
            self.assertEqual(sorted(line), ["attempted", "correct", "failed", "metrics"])
            want = {m["name"]: m["unit"] for m in self.spec[key]}
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            self.assertEqual(got, want)

    def test_workloads_match_the_spec(self):
        self.assertEqual(sorted(w["name"] for w in self.spec["workloads"]), sorted(run.WORKLOADS))

    def test_unmeasured_end_to_end_metric_is_an_error(self):
        with self.assertRaises(run.BenchError):
            run.report(True, 1, 0, {"setup_s": 1.0}, 0)


if __name__ == "__main__":
    unittest.main()
