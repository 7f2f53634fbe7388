"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The input-determinism test reads $PERFBENCH_TESTDATA (default
~/testdata/sf0.1) and is skipped when it is absent.
"""
import filecmp
import os
import tempfile
import unittest

import pandas as pd

import checks
import gen
import metrics
import run

TESTDATA = run.TESTDATA


def tree(d):
    return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)


@unittest.skipUnless(os.path.isdir(TESTDATA), "no testdata")
class InputDeterminism(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            gen.generate(TESTDATA, a, 7, n_batches=3)
            gen.generate(TESTDATA, b, 7, n_batches=3)
            gen.generate(TESTDATA, c, 8, n_batches=3)
            files = tree(a)
            self.assertEqual(len(files), 12)
            self.assertEqual(files, tree(b))
            _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            _, mismatch, _ = filecmp.cmpfiles(a, c, files, shallow=False)
            self.assertTrue(mismatch)


class Percentiles(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(metrics.percentile(xs, 0), 1.0)
        self.assertEqual(metrics.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(metrics.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 3.7)

    def test_tail_keeps_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 101)]
        p, v, beyond = metrics.tail(xs)
        self.assertEqual((p, beyond), (90.0, 10))
        self.assertAlmostEqual(v, 90.1)
        p, _, beyond = metrics.tail([float(i) for i in range(1000)])
        self.assertEqual((p, beyond), (99.0, 10))
        p, _, beyond = metrics.tail([float(i) for i in range(20)])
        self.assertEqual((p, beyond), (50.0, 10))

    def test_tail_of_few_samples_is_the_max_with_nothing_beyond(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (100.0, 3.0, 0))
        self.assertEqual(metrics.tail([float(i) for i in range(19)])[2], 0)


class FailedOperations(unittest.TestCase):
    def test_a_failed_operation_is_counted_and_never_a_latency_sample(self):
        res = {"session_s": 1.0, "setup_s": 4.0, "busy_s": 10.0,
               "peak_rss_mb": 100.0, "extras": {}}
        ops = [dict(kind="probe_exact", dur_ns=str(d), ok="1", items="32")
               for d in (2_000_000_000, 3_000_000_000)]
        ops.append(dict(kind="probe_pq", dur_ns="1000", ok="0", items="0"))
        ops.append(dict(kind="append", dur_ns="500000000", ok="1", items="64"))
        e2e, info = run.end_to_end("serve_ivf_mixed", res, ops)
        self.assertAlmostEqual(e2e["op_p50_s"][0], 2.5)
        self.assertEqual(info["samples"], 2)
        # appended vectors are not query vectors answered
        self.assertAlmostEqual(e2e["items_per_s"][0], 6.4)
        self.assertAlmostEqual(e2e["write_p50_s"][0], 0.5)
        self.assertAlmostEqual(e2e["setup_s"][0], 5.0)
        named = run.workload_named("serve_ivf_mixed", e2e, info, res, ops)
        self.assertAlmostEqual(named["failed_ratio"][0], 1 / 4)
        self.assertEqual(named["peak_rss_mb"][0], 100.0)

    def test_a_run_whose_writes_all_failed_has_no_result(self):
        res = {"session_s": 1.0, "setup_s": 4.0, "busy_s": 10.0}
        ops = [dict(kind="probe_exact", dur_ns="2000", ok="1", items="32"),
               dict(kind="append", dur_ns="1000", ok="0", items="0")]
        self.assertEqual(run.end_to_end("serve_ivf_mixed", res, ops), (None, {}))


class OracleSubset(unittest.TestCase):
    """A probe is compared with the oracle rows of the query vectors it
    was asked for, so a query it drops is a missing row."""
    WANT = pd.DataFrame({"q_id": [1, 1, 2, 3], "vec_id": [10, 11, 20, 30],
                         "score": [0.5, 0.4, 0.3, 0.2], "rn": [1, 2, 1, 1]})

    def compare(self, got, asked):
        with tempfile.TemporaryDirectory() as t:
            os.makedirs(os.path.join(t, "got"))
            got.to_parquet(os.path.join(t, "got", "part-0.parquet"))
            return checks.compare(os.path.join(t, "got"), self.WANT, "q_id", asked)

    def test_the_asked_queries_match(self):
        ok, _ = self.compare(self.WANT[self.WANT.q_id.isin([1, 2])], [1, 2])
        self.assertTrue(ok)

    def test_a_dropped_query_fails(self):
        ok, detail = self.compare(self.WANT[self.WANT.q_id == 1], [1, 2])
        self.assertFalse(ok)
        self.assertIn("rows 2 vs oracle 3", detail)

    def test_an_empty_result_fails(self):
        ok, detail = self.compare(self.WANT.iloc[0:0], [1, 2])
        self.assertEqual((ok, detail), (False, "no output"))


class Attribution(unittest.TestCase):
    def test_intervals(self):
        self.assertEqual(metrics.union([(5, 7), (1, 3), (2, 4)]), [(1, 4), (5, 7)])
        self.assertEqual(metrics.subtract([(0, 10)], [(2, 3), (5, 12)]), [(0, 2), (3, 5)])

    def test_self_driver_and_job_attribution(self):
        # a 0-100 ms silver.apply span with a 40-80 ms maint.commit child;
        # one job 50-70 ms inside the child, one 10-20 ms in the parent
        spans = [
            dict(id=0, name="silver.apply", parent=-1, start_us=0, end_us=100_000, gc_ms=9.0),
            dict(id=1, name="maint.commit", parent=0, start_us=40_000, end_us=80_000, gc_ms=4.0),
        ]
        jobs = [dict(span=1, start_ms=50, end_ms=70), dict(span=0, start_ms=10, end_ms=20)]
        stages = [dict(span=1, tasks=4, cpu_ns=2_000_000_000, run_ms=2500,
                       shuffle_write_bytes=3_000_000, output_bytes=1000)]
        per, sums = metrics.attribute(spans, jobs, stages)
        s, c = per["silver.apply"], per["maint.commit"]
        self.assertAlmostEqual(s["self_s"], 0.060)
        self.assertAlmostEqual(s["driver_s"], 0.050)
        self.assertAlmostEqual(c["self_s"], 0.040)
        self.assertAlmostEqual(c["driver_s"], 0.020)
        self.assertEqual((s["jobs"], c["jobs"], c["tasks"]), (1, 1, 4))
        self.assertAlmostEqual(c["task_cpu_s"], 2.0)
        self.assertAlmostEqual(c["shuffle_write_mb"], 3.0)
        self.assertAlmostEqual(s["gc_s"], 0.005)
        self.assertEqual(sums["maint.commit"]["output_bytes"], 1000)

    def test_work_under_setup_belongs_to_setup(self):
        spans = [
            dict(id=0, name="core.setup", parent=-1, start_us=0, end_us=10_000, gc_ms=0.0),
            dict(id=1, name="maint.commit", parent=0, start_us=1_000, end_us=2_000, gc_ms=0.0),
        ]
        per, _ = metrics.attribute(spans, [dict(span=1, start_ms=1, end_ms=2)], [])
        self.assertEqual(per["maint.commit"]["calls"], 0)
        self.assertEqual(per["core.setup"]["jobs"], 1)
        self.assertAlmostEqual(per["core.setup"]["self_s"], 0.010)

    def test_every_layer_metric_is_reported(self):
        m = metrics.layer_metrics([], [], [], 4, {})
        self.assertEqual(len(m), 126)


if __name__ == "__main__":
    unittest.main()
