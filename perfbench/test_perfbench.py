"""Self-tests for the benchmark's own code: python3 -m unittest discover perfbench"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import gen
import metrics
import run

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".bench_build")


class SeededInputs(unittest.TestCase):
    GENERATORS = {
        "catalog": lambda d, s: gen.catalog(d, s, schemas=2, tables=6,
                                            columns=25, views=3),
        "corpus": lambda d, s: gen.corpus(d, s, base_docs=20, batches=3,
                                          batch_docs=20),
        "suite_tables": lambda d, s: gen.suite_tables(d, s),
    }

    def write(self, name, seed):
        os.makedirs(SCRATCH, exist_ok=True)
        d = tempfile.mkdtemp(dir=SCRATCH)
        self.addCleanup(shutil.rmtree, d, True)
        facts = self.GENERATORS[name](d, seed)
        return d, facts

    def test_same_seed_gives_byte_identical_inputs(self):
        for name in self.GENERATORS:
            a, fa = self.write(name, 7)
            b, fb = self.write(name, 7)
            files = sorted(os.listdir(a))
            self.assertEqual(files, sorted(os.listdir(b)))
            _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), name)
            self.assertEqual(fa, fb, name)

    def test_different_seed_gives_different_inputs(self):
        for name in self.GENERATORS:
            a, _ = self.write(name, 7)
            b, _ = self.write(name, 8)
            files = sorted(os.listdir(a))
            _, mismatch, _ = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertTrue(mismatch, name)

    def test_suite_seed_only_permutes_rows(self):
        import pyarrow.parquet as pq
        a, _ = self.write("suite_tables", 7)
        b, _ = self.write("suite_tables", 8)
        for f in os.listdir(a):
            ra = pq.read_table(os.path.join(a, f)).to_pylist()
            rb = pq.read_table(os.path.join(b, f)).to_pylist()
            key = repr
            self.assertEqual(sorted(ra, key=key), sorted(rb, key=key), f)

    def test_catalog_counts_follow_construction(self):
        _, f = self.write("catalog", 3)
        s = f["status"]
        self.assertEqual(s["schema_count"], 2)
        # 6 tables + 3 views per schema, plus schema_migrations in s00
        self.assertEqual(s["table_count"], 2 * 9 + 1)
        self.assertEqual(s["primary_key_count"], 2 * 6)
        self.assertLess(f["whatif_column_count"], s["column_count"])


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        s = list(range(100))
        self.assertEqual(metrics.tail(s), (89, 90.0, 100))
        self.assertEqual(metrics.tail(list(range(20))), (9, 50.0, 20))
        self.assertEqual(metrics.tail(list(range(11)))[:2], (0, 100 / 11))

    def test_unordered_input(self):
        s = list(range(1000))[::-1]
        self.assertEqual(metrics.tail(s), (989, 99.0, 1000))

    def test_too_few_samples_reports_the_maximum(self):
        self.assertEqual(metrics.tail([3, 1, 2]), (3, 100.0, 3))


class SpanArithmetic(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_ms([], 0, 10), 0)
        self.assertEqual(metrics.union_ms([(1, 3), (2, 5), (7, 8)], 0, 10), 5)
        self.assertEqual(metrics.union_ms([(1, 9), (2, 3)], 0, 10), 8)  # nested
        self.assertEqual(metrics.union_ms([(-5, 2), (8, 20)], 0, 10), 4)  # clipped
        self.assertEqual(metrics.union_ms([(12, 15)], 0, 10), 0)  # outside

    def test_driver_time_is_wall_outside_jobs(self):
        span = {"start_ms": 1000.0, "end_ms": 2000.0,
                "jobs": [(1100, 1300), (1200, 1400), (1900, 2100)]}
        self.assertAlmostEqual(metrics.driver_s(span), (1000 - 300 - 100) / 1e3)

    def test_counters_are_per_call_means(self):
        spans = [{"start_ms": 0.0, "end_ms": 1000.0, "jobs": [(0, 500)],
                  "stages": 2, "tasks": 8, "cpu_s": 1.0, "shuffle_bytes": 10,
                  "gc_s": 0.0},
                 {"start_ms": 0.0, "end_ms": 3000.0, "jobs": [],
                  "stages": 0, "tasks": 0, "cpu_s": 0.0, "shuffle_bytes": 0,
                  "gc_s": 0.2}]
        c = metrics.span_counters(spans)
        self.assertEqual(c["s"], 2.0)
        self.assertEqual(c["jobs"], 0.5)
        self.assertEqual(c["driver_s"], (0.5 + 3.0) / 2)
        self.assertAlmostEqual(c["gc_s"], 0.1)
        self.assertEqual(metrics.span_counters([])["jobs"], 0.0)

    def test_trace_overhead_compares_like_operations(self):
        ops = [{"kind": "a", "seconds": 1.1, "traced": True},
               {"kind": "a", "seconds": 1.0, "traced": False},
               {"kind": "b", "seconds": 2.0, "traced": True}]
        over, kinds = metrics.trace_overhead(ops)
        self.assertAlmostEqual(over, 0.1)
        self.assertEqual(kinds, 1)


class Contract(unittest.TestCase):
    def test_benchmark_json_names_what_run_py_prints(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         run.END_TO_END)
        layer = {f"{l}.{c}": u for l in run.LAYERS
                 for c, u in run.COUNTER_UNITS.items()}
        layer.update(run.EXTRA_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, layer)
        self.assertTrue({w["name"] for w in b["workloads"]} <= set(run.UNIT_OP))

    def test_fails_without_the_program_sources(self):
        os.makedirs(SCRATCH, exist_ok=True)
        d = tempfile.mkdtemp(dir=SCRATCH)
        self.addCleanup(shutil.rmtree, d, True)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                            "catalog_ops", "--seed", "1", "--seconds", "1"],
                           cwd=d, capture_output=True, text=True, timeout=60)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout, "")


if __name__ == "__main__":
    unittest.main()
