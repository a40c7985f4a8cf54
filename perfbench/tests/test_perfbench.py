"""Tests of the benchmark's own code (no engine, no JVM).

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import corpus  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

SMALL = {"total_mb": 0.05, "files": 5, "duplicates": 2, "vocab": 500}


def generate(d, seed):
    return corpus.generate(d, seed, **SMALL)


def read_all(d):
    out = {}
    for n in sorted(os.listdir(d)):
        with open(os.path.join(d, n), "rb") as f:
            out[n] = f.read()
    return out


def sink(d, lines):
    os.makedirs(d)
    with open(os.path.join(d, "part-00000.txt"), "w", encoding="utf-8") as f:
        f.writelines(line + "\n" for line in lines)
    return corpus.read_sink(d)


class CorpusTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ra, rb = generate(a, 7), generate(b, 7)
            names = sorted(os.listdir(a))
            self.assertEqual(names, sorted(os.listdir(b)))
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            self.assertEqual(ra, rb)

    def test_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            generate(a, 7)
            generate(b, 8)
            self.assertNotEqual(read_all(a), read_all(b))

    def test_shape(self):
        with tempfile.TemporaryDirectory() as d:
            wc, ii, tokens, _ = generate(d, 3)
            texts = list(read_all(d).values())
            distinct = set(texts)
            self.assertEqual(sum(t.startswith("\ufeff".encode()) for t in distinct), 1)
            self.assertLess(len(distinct), len(texts))  # duplicated files
            self.assertEqual(sum(wc.values()), tokens)
            self.assertTrue(any(len(fs) > 1 for fs in ii.values()))
            self.assertTrue(any(not w.isascii() for w in wc))
            self.assertTrue(all(w.isalpha() for w in wc))


class CheckerTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.wc, self.ii, _, _ = generate(os.path.join(self.tmp.name, "in"), 5)

    def tearDown(self):
        self.tmp.cleanup()

    def wc_lines(self, wc):
        return [f"{w}: {n}" for w, n in sorted(wc.items())]

    def ii_lines(self, ii):
        return [f"{w}: {len(fs)} {','.join(fs)}" for w, fs in sorted(ii.items())]

    def test_accepts_exact_answer(self):
        out = os.path.join(self.tmp.name, "out")
        self.assertIsNone(corpus.check_wc(*sink(out + "wc", self.wc_lines(self.wc)), self.wc))
        self.assertIsNone(corpus.check_ii(*sink(out + "ii", self.ii_lines(self.ii)), self.ii))

    def test_rejects_wc_count_off_by_one(self):
        wrong = dict(self.wc)
        w = sorted(wrong)[len(wrong) // 2]
        wrong[w] += 1
        why = corpus.check_wc(*sink(os.path.join(self.tmp.name, "wc"), self.wc_lines(wrong)), self.wc)
        self.assertIn(repr(w), why)

    def test_rejects_file_missing_from_posting_list(self):
        wrong = dict(self.ii)
        w = next(w for w, fs in sorted(wrong.items()) if len(fs) > 1)
        wrong[w] = wrong[w][1:]
        why = corpus.check_ii(*sink(os.path.join(self.tmp.name, "ii"), self.ii_lines(wrong)), self.ii)
        self.assertIn(repr(w), why)

    def test_oracle_compare_rejects_changed_value(self):
        cols, rows = ["k", "v"], [(1, 2.5), (2, None)]
        self.assertIsNone(oracle.compare_rows("q", cols, rows, ["v", "k"], [(2.5, 1), (None, 2)]))
        self.assertIsNotNone(oracle.compare_rows("q", cols, rows, cols, [(1, 2.5), (2, 0.0)]))
        self.assertIsNotNone(oracle.compare_rows("q", cols, rows, cols, rows[:1]))


class DeclaredMetricsTest(unittest.TestCase):
    """Every metric the benchmark emits is declared in BENCHMARK.json, and back."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            cls.spec = json.load(f)
        phase = {k: 1 for k in ("jobs", "stages", "tasks", "tasks_started", "tasks_wasted", "task_run_ms",
                                "task_cpu_ms", "task_gc_ms", "task_peak_mem_bytes", "shuffle_write_bytes",
                                "shuffle_write_records", "shuffle_read_bytes", "shuffle_fetch_wait_ms",
                                "spill_bytes", "scan_input_bytes", "scan_input_records", "write_output_bytes",
                                "map_stage_ms", "reduce_stage_ms", "analysis_ms", "optimization_ms",
                                "planning_ms", "plan_nodes", "plan_exchanges", "plan_scans")}
        op = {"builder_ms": 2.0, "action_ms": 3.0, "builder": phase, "action": phase, "dispatch_gap_ms": 1}
        cls.res = {
            "session_build_ms": 1.0, "warmup_ms": 2.0, "vm_hwm_kb": 1024, "localdir_bytes": 10,
            "failures": {}, "loads": [{"table": "t", "ms": 1.0}],
            "passes": [{"pass": 0, "traced": True, "ms": 9.0}, {"pass": 1, "traced": False, "ms": 8.0}],
            "ops": [dict(op, traced=t, name=n, id=f"op-{i}", ok=True, **{"pass": int(not t)})
                    for i, (t, n) in enumerate([(True, "wc"), (True, "ii"), (False, "wc"), (False, "ii")])],
        }
        cls.facts = {"mb": 1.0, "tokens": 10, "wc": "wc", "ii": "ii"}

    def declared(self, key):
        return {m["name"]: m["unit"] for m in self.spec[key]}

    def test_end_to_end(self):
        metrics, samples = run.e2e_metrics(1.0, self.res, self.facts)
        self.assertEqual({k: v["unit"] for k, v in metrics.items()}, self.declared("end_to_end"))
        self.assertEqual(set(samples), set(metrics))

    def test_per_layer(self):
        metrics = run.layer_metrics(self.res, self.res["ops"], self.facts)
        self.assertEqual({k: v["unit"] for k, v in metrics.items()}, self.declared("per_layer"))

    def test_workloads(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
