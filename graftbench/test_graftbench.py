"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s graftbench -p 'test_*.py'

The generator tests build the benchmark (see build.py) and run its JVM in
`--digest` mode, which generates a workload's inputs without Spark.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402

ROOT = HERE.parent


class TailTest(unittest.TestCase):
    def test_ten_beyond_with_fifty_or_more_samples(self):
        xs = list(range(100))
        value, pct, n = stats.tail(xs)
        self.assertEqual(value, 89)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual((pct, n), (90.0, 100))
        self.assertEqual(stats.tail(list(range(50)))[0], 39)

    def test_a_fifth_beyond_with_fewer_samples(self):
        self.assertEqual(stats.tail(list(range(20))), (15.0, 80.0, 20))
        self.assertEqual(stats.tail(list(range(10))), (7.0, 80.0, 10))
        # from 4 samples on: never the maximum, always above the median
        for n in range(4, 50):
            xs = list(range(n))
            value = stats.tail(xs)[0]
            self.assertLess(value, n - 1)
            self.assertGreater(value, stats.median(xs))

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3, 9, 8, 7, 6, 0]),
                         stats.tail(list(range(10))))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2.0)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        self.assertEqual(stats.median([]), 0.0)


class ResultTest(unittest.TestCase):
    def record(self, **over):
        r = {"samples": {"write": [100.0, 200.0, 300.0], "read": [10.0, 20.0]},
             "session_s": 1.0, "generate_s": [0.5, 0.2, 0.3],
             "prepare_s": 2.7,
             "rows_committed": 600, "live_heap_mb": 50.0,
             "storage_bytes": 200, "input_bytes": 100,
             "checks": [{"name": "c", "ok": True, "detail": ""}],
             "attempted": 5, "failed": 0, "errors": [], "layer": {},
             "diag": {"ingestion_dates": ["2026-01-01"]}}
        r.update(over)
        return r

    def spec(self):
        return json.loads((ROOT / "BENCHMARK.json").read_text())

    def test_end_to_end_metrics(self):
        res = stats.result(self.record(), self.spec(), traced=False)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        self.assertEqual(set(m), {x["name"] for x in self.spec()["end_to_end"]})
        # session + median generation + load and warm-up
        self.assertAlmostEqual(m["setup_s"], 4.0)
        self.assertEqual(m["write_p50_ms"], 200.0)
        self.assertEqual(m["rows_per_s"], 1000.0)
        self.assertEqual(m["storage_amp"], 2.0)
        self.assertTrue(res["correct"])

    def test_failed_check_or_op_is_not_correct(self):
        bad = self.record(checks=[{"name": "c", "ok": False, "detail": "x"}])
        self.assertFalse(stats.result(bad, self.spec(), False)["correct"])
        self.assertFalse(stats.result(self.record(failed=1), self.spec(),
                                      False)["correct"])

    def test_traced_run_reports_every_per_layer_metric(self):
        rec = self.record(layer={"sink.log_ms": [1.0, 3.0, 2.0]})
        m = stats.result(rec, self.spec(), traced=True)["metrics"]
        self.assertEqual(set(m), {x["name"] for x in self.spec()["per_layer"]})
        self.assertEqual(m["sink.log_ms"]["value"], 2.0)

    def test_crossing_midnight_marks_the_run_invalid(self):
        rec = self.record(diag={"ingestion_dates": ["2026-01-01", "2026-01-02"]})
        stats.result(rec, self.spec(), False)
        self.assertFalse(rec["diag"]["valid"])


class StealShareTest(unittest.TestCase):
    def test_share_of_the_cpu_time_between_readings(self):
        import run
        before = [100, 0, 10, 880, 0, 0, 0, 10, 0, 0]
        after = [160, 0, 20, 890, 0, 0, 0, 30, 0, 0]
        self.assertAlmostEqual(run.steal_share(before, after), 0.2)
        self.assertIsNone(run.steal_share(None, after))


def digest(workload, seed):
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--digest"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900, check=True)
    return out.stdout.strip().splitlines()[-1]


class GeneratorTest(unittest.TestCase):
    """The same seed gives byte-identical inputs in separate processes;
    another seed gives other inputs. The inputs are the program's only
    data: every run starts from empty table directories."""

    def check(self, workload):
        a, b, c = digest(workload, 7), digest(workload, 7), digest(workload, 8)
        self.assertRegex(a, r"^[0-9a-f]{64}$")
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_cdc_ingest(self):
        self.check("cdc_ingest")

    def test_corpus_index(self):
        self.check("corpus_index")


if __name__ == "__main__":
    unittest.main()
