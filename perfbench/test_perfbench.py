"""Self-tests of the benchmark.

    python3 perfbench/test_perfbench.py            # fast tests
    PERFBENCH_JVM_TESTS=1 python3 perfbench/test_perfbench.py   # + JVM runs

The JVM tests build the engine if needed. One runs cdc_backfill twice,
once with a forged row committed into the replayed table; that run must
fail its state check. The other runs a traced cdc_incremental with a row
dropped from the first query result; that query must fail its digest
check.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402
import run  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        pct, value, beyond = metrics.tail_percentile(list(range(1, 101)))
        self.assertEqual((pct, value, beyond), (90.0, 90, 10))

    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(metrics.tail_percentile(list(range(10))))
        pct, value, beyond = metrics.tail_percentile(list(range(11)))
        self.assertEqual((value, beyond), (0, 10))
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_order_of_samples_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(metrics.tail_percentile(xs), metrics.tail_percentile(sorted(xs)))

    def test_failed_ops_sit_above_every_real_latency(self):
        lat = [10.0] * 20 + [metrics.FAILED] * 11
        pct, value, beyond = metrics.tail_percentile(lat)
        self.assertEqual(value, metrics.FAILED)


class MetricNameTest(unittest.TestCase):
    def test_names_and_units_are_valid_and_unique(self):
        every = metrics.END_TO_END + metrics.PER_LAYER
        for name, unit, better in every:
            self.assertTrue(metrics.valid_name(name), name)
            self.assertTrue(metrics.valid_unit(unit), f"{name}: {unit}")
            self.assertIn(better, ("lower", "higher"))
        names = [n for n, _, _ in every]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(metrics.PER_LAYER), 128)

    def test_invalid_names_are_rejected(self):
        for bad in ("", "_x", "a b", "x" * 65, "lat(ms)", "é"):
            self.assertFalse(metrics.valid_name(bad), bad)

    def test_benchmark_json_matches_the_metric_lists(self):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         metrics.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))

    def test_every_query_has_a_recorded_digest(self):
        recorded = [ln.split("\t")[0] for ln in (HERE / "ops_digests.tsv").read_text().splitlines()]
        self.assertEqual(sorted(recorded), sorted(metrics.QUERIES))


class ArgumentTest(unittest.TestCase):
    def args(self, **kw):
        base = {"workload": "cdc_backfill", "seed": "1", "seconds": "10", "trace": "0"}
        base.update(kw)
        return sum(([f"--{k}", v] for k, v in base.items()), [])

    def test_good_arguments(self):
        a = run.parse_args(self.args(cores="2"))
        self.assertEqual((a.seed, a.seconds, a.cores, a.trace), (1, 10, 2, False))

    def test_malformed_numbers_get_a_clear_message(self):
        for kw in ({"seed": "x"}, {"seed": "-1"}, {"seconds": "1.5"}, {"seconds": "0"},
                   {"cores": "four"}, {"cores": str(len(os.sched_getaffinity(0)) + 1)}):
            with self.assertRaises(run.BenchError, msg=str(kw)):
                run.parse_args(self.args(**kw))


class FailureAccountingTest(unittest.TestCase):
    def res(self, ops):
        return {"ops": ops, "setup_s": [1.0, 2.0, 3.0], "figures": {}, "layers": {},
                "errors": [], "digest": "", "peak_rss_mb": 100.0}

    def op(self, s, ok=True, items=10, traced=False):
        return {"kind": "epoch", "s": s, "cpu_s": s, "items": items, "ok": ok, "traced": traced}

    def test_a_failed_op_counts_and_misses_the_latency_limit(self):
        ops = [self.op(1.0), self.op(1.0), self.op(100.0, ok=False), self.op(100.0, ok=False),
               self.op(100.0, ok=False)]
        e2e, fig, failed, attempted = metrics.summarize("cdc_incremental", self.res(ops))
        self.assertEqual((failed, attempted), (3, 5))
        self.assertEqual(e2e["op_p50_ms"], metrics.FAILED_MS)
        self.assertAlmostEqual(fig["error_rate"], 0.6)
        # its time stays in the denominator, its items are not credited
        self.assertAlmostEqual(e2e["items_per_s"], 20 / 302.0)

    def test_traced_ops_stay_out_of_end_to_end_numbers(self):
        ops = [self.op(1.0), self.op(3.0), self.op(50.0, traced=True)]
        e2e, _, _, _ = metrics.summarize("cdc_incremental", self.res(ops))
        self.assertAlmostEqual(e2e["op_p50_ms"], 2000.0)
        self.assertAlmostEqual(e2e["setup_s"], 2.0)


class OracleTest(unittest.TestCase):
    """A corrupted query result must trip the oracle comparison that
    record_ops.py makes before it records a digest."""

    def setUp(self):
        import pandas as pd
        import oracle
        self.oracle = oracle
        self.tmp = Path(tempfile.mkdtemp())
        data = self.tmp / "data"
        data.mkdir()
        import datagen
        for name, table in datagen.tables(seed=3, sf=0.0001).items():
            import pyarrow.parquet as pq
            pq.write_table(table, str(data / f"{name}.parquet"))
        self.con = oracle.connect(str(data))
        self.sql = "SELECT n_regionkey, COUNT(*) AS n FROM nation GROUP BY n_regionkey"
        self.good = pd.DataFrame({"n_regionkey": [0, 1, 2, 3, 4], "n": [5] * 5})
        self.good["n_regionkey"] = self.good["n_regionkey"].astype("int32")

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.tmp)

    def write(self, df):
        out = self.tmp / "result"
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir()
        df.to_parquet(out / "part-0.parquet")
        return str(out)

    def test_the_true_result_matches(self):
        ok, detail = self.oracle.compare(self.con, self.sql, self.write(self.good))
        self.assertTrue(ok, detail)

    def test_a_changed_value_or_a_lost_row_is_caught(self):
        bad = self.good.copy()
        bad.loc[2, "n"] = 6
        self.assertFalse(self.oracle.compare(self.con, self.sql, self.write(bad))[0])
        self.assertFalse(self.oracle.compare(self.con, self.sql, self.write(self.good.iloc[1:]))[0])

    def test_a_missing_result_is_a_failure(self):
        ok, _ = self.oracle.compare(self.con, self.sql, str(self.tmp / "nothing"))
        self.assertFalse(ok)


@unittest.skipUnless(os.environ.get("PERFBENCH_JVM_TESTS") == "1", "set PERFBENCH_JVM_TESTS=1")
class CorruptionTest(unittest.TestCase):
    """A forged table row or a changed query result must fail its check."""

    def run_bench(self, workload, trace, *extra):
        p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                            "--seed", "5", "--seconds", "1", "--trace", trace, *extra],
                           cwd=HERE.parent, capture_output=True, text=True, timeout=1200)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        return p.stdout, json.loads(p.stdout.strip().splitlines()[-1])

    def test_clean_run_passes_and_corrupted_table_fails(self):
        _, clean = self.run_bench("cdc_backfill", "0")
        self.assertTrue(clean["correct"])
        self.assertEqual(clean["failed"], 0)
        _, bad = self.run_bench("cdc_backfill", "0", "--corrupt")
        self.assertFalse(bad["correct"])
        self.assertGreater(bad["failed"], 0)

    def test_corrupted_query_result_fails(self):
        out, bad = self.run_bench("cdc_incremental", "1", "--corrupt")
        self.assertFalse(bad["correct"])
        self.assertEqual(bad["failed"], 1)
        self.assertIn("result digest differs", out)


if __name__ == "__main__":
    unittest.main()
