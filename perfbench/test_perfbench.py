"""Unit tests of the benchmark's Python side (run by `run.py --self-test`,
or alone: python3 -m unittest discover -s perfbench -p 'test_*.py')."""
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 99), 5)

    def test_tail_keeps_ten_samples_beyond(self):
        self.assertEqual(stats.tail_pct(100, 90), 90)
        self.assertEqual(stats.tail_pct(99, 90), 89)
        self.assertEqual(stats.tail_pct(1000, 99), 99)
        self.assertEqual(stats.tail_pct(125, 99), 92)
        for n in range(1, 400):
            pct = stats.tail_pct(n, 99)
            self.assertTrue(pct == 50 or n * (100 - pct) / 100 >= 10, (n, pct))

    def test_tail_never_below_median(self):
        self.assertEqual(stats.tail_pct(19, 90), 50)

    def test_tail_reports_sample_count(self):
        vals = list(range(1, 201))
        value, pct, n = stats.tail(vals, 95)
        self.assertEqual((pct, n), (95, 200))
        self.assertAlmostEqual(value, stats.percentile(vals, 95))


def _op(i, kind, wall, status="ok", phase="timed", name=None):
    return {"id": i, "kind": kind, "name": name or f"q{i:02d}", "group": "RelationalQueries",
            "phase": phase, "status": status, "error": "", "wall_ms": wall}


MEM = {"live_heap_mb": 300.0, "jvm_rss_mb": 2600.0, "heap_committed_mb": 2048.0}


class SummarizeTest(unittest.TestCase):
    def test_failed_op_counts_as_error_not_as_timing(self):
        ops = [_op(i, "query", 100.0 + i) for i in range(1, 21)]
        ops.append(_op(21, "query", 1.0, status="failed"))
        result = dict(MEM, ops=ops, timed_s=2.0, passes=1, setup_s=5.0)
        e2e, named = run.summarize("relational-warm", result)
        rows = {n: v for n, v, _, _ in named}
        self.assertAlmostEqual(rows["error_rate"], 1 / 21)
        # the 1 ms failure is not a latency sample
        self.assertAlmostEqual(rows["rel_p50_ms"], stats.median([100.0 + i for i in range(1, 21)]))
        self.assertEqual(e2e["setup_s"], 5.0)
        self.assertEqual(len(run.failures(result)), 1)

    def test_every_registered_metric_reported(self):
        ops = [_op(i, "query", 50.0 + i) for i in range(1, 30)]
        e2e, _ = run.summarize("surface-cold", dict(MEM, ops=ops, setup_s=1.0))
        self.assertEqual(sorted(e2e), sorted(k for k, _ in run.E2E))

    def test_wrong_check_marks_its_timed_op_and_counts_once(self):
        ops = [_op(i, "query", 100.0 + i) for i in range(1, 21)]
        ops += [_op(20 + i, "check", 1.0, phase="check", name=f"q{i:02d}") for i in range(1, 21)]
        ops[20 + 4]["status"], ops[20 + 4]["error"] = "wrong", "3 rows vs oracle 4"
        result = dict(MEM, ops=ops, setup_s=1.0)
        run.fold_checks(result)
        self.assertEqual(ops[4]["status"], "wrong")
        e2e, named = run.summarize("surface-cold", result)
        rows = {n: (v, note) for n, v, _, note in named}
        self.assertAlmostEqual(rows["error_rate"][0], 1 / 20)
        self.assertEqual(len(run.counted(result)), 20)
        self.assertEqual([o["name"] for o in run.failures(result)], ["q05"])
        # the wrong query's wall time is neither in the sum nor a sample
        self.assertAlmostEqual(e2e["work_s"], sum(100.0 + i for i in range(1, 21) if i != 5) / 1000)

    def test_unmatched_failed_check_still_counts(self):
        ops = [_op(1, "query", 10.0), _op(2, "check", 1.0, status="failed", phase="check", name="qx")]
        result = dict(MEM, ops=ops, setup_s=1.0)
        run.fold_checks(result)
        self.assertEqual([o["name"] for o in run.failures(result)], ["qx"])

    def test_memory_is_live_heap_plus_non_heap(self):
        self.assertEqual(run.program_memory_mb(MEM), (852.0, 300.0, 552.0))

    def test_tail_is_printed_under_the_contract_name(self):
        ops = [dict(_op(i, "request", float(i), name="qna"), group="serve") for i in range(1, 241)]
        ops += [dict(_op(300, "phase", 5000.0, name=n), group="battle") for n in ("phase0", "phase2_build")]
        result = dict(MEM, ops=ops, setup_s=1.0, battle={"loops": 3, "generated": 10})
        _, named = run.summarize("battle-ladder", result)
        rows = {n: note for n, _, _, note in named}
        self.assertIn("qna_p99_ms", rows)
        self.assertIn("as p95", rows["qna_p99_ms"])

    def test_layer_metrics_cover_every_family(self):
        ops = [dict(_op(1, "query", 10.0), jobs=3, task_cpu_ms=5.0)]
        e2e = {k: 1.0 for k, _ in run.E2E}
        m = run.layer_metrics({"ops": ops}, e2e, e2e)
        for fam in run.FAMILIES:
            self.assertIn(f"operators.{fam}.wall_s", m)
        self.assertEqual(m["operators.RelationalQueries.jobs"], 3)
        self.assertEqual(m["trace.overhead_pct.work_s"], 0.0)


class RefusalTest(unittest.TestCase):
    def test_each_dev_knob_refuses(self):
        for k in run.DEV_KNOBS:
            with self.assertRaises(run.Refused) as ctx:
                run.check_knobs({k: "1"})
            self.assertEqual(ctx.exception.code, 2)
        run.check_knobs({"PATH": "/bin"})

    def test_missing_program_sources_refuse(self):
        saved = run.SRC
        run.SRC = os.path.join(HERE, "no-such-dir")
        try:
            with self.assertRaises(run.Refused) as ctx:
                run.source_digest()
            self.assertEqual(ctx.exception.code, 3)
        finally:
            run.SRC = saved


class DataGenTest(unittest.TestCase):
    def _write(self, seed):
        d = tempfile.mkdtemp(dir=self.tmp)
        datagen.generate(d, sf=0.001, seed=seed)
        out = {}
        for t in datagen.TABLES:
            with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
                out[t] = f.read()
        return out

    def setUp(self):
        self.tmp = os.path.join(HERE, ".work", "test-tmp")
        os.makedirs(self.tmp, exist_ok=True)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        a, b, c = self._write(7), self._write(7), self._write(8)
        self.assertEqual(a, b)
        self.assertNotEqual(a["lineitem"], c["lineitem"])
        self.assertNotEqual(a["documents"], c["documents"])


if __name__ == "__main__":
    unittest.main()
