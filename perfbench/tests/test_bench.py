"""Tests of the benchmark's own logic. Run from the root of a checkout:
python3 -m unittest discover -s perfbench/tests
"""
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import run  # noqa: E402


def files(d):
    out = {}
    for p in sorted(glob.glob(d + "/*.csv")):
        with open(p, "rb") as f:
            out[os.path.basename(p)] = f.read()
    return out


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_gives_identical_bytes(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        ea, eb = gen.generate(a, 300, 7), gen.generate(b, 300, 7)
        gen.generate(c, 300, 8)
        self.assertEqual(len(files(a)), 9)
        self.assertEqual(files(a), files(b))
        self.assertEqual(ea, eb)
        self.assertNotEqual(files(a), files(c))

    def test_bronze_counts_are_the_rows_written(self):
        d = os.path.join(self.tmp, "d")
        expected = gen.generate(d, 300, 3)
        for name, data in files(d).items():
            rows = data.decode("utf-8").count("\n") - 1
            self.assertEqual(expected["bronze." + name[:-4]], rows, name)

    def test_dirty_data_reaches_silver(self):
        # duplicate review ids and out-of-domain scores shrink silver reviews
        e = gen.generate(os.path.join(self.tmp, "d"), 2000, 1)
        self.assertLess(e["silver.order_reviews"], e["bronze.olist_order_reviews"])
        self.assertLessEqual(e["silver.geolocation"], e["bronze.olist_geolocation"])
        self.assertEqual(e["gold.fact_reviews"], e["silver.order_reviews"])
        self.assertEqual("São Paulo".lower().translate(gen.FOLD), "sao paulo")


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_the_runner(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual(sorted(w["name"] for w in b["workloads"]), sorted(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], run.per_layer())

    def test_key_list_is_a_seeded_permutation(self):
        a, b = run.key_list(1), run.key_list(1)
        self.assertEqual(a, b)
        self.assertEqual(sorted(a), sorted(run.key_list(2)))
        self.assertEqual(len(set(a)), len(a))

    def test_refuses_to_run_without_the_program(self):
        tmp = tempfile.mkdtemp()
        try:
            shutil.copytree(BENCH, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "project", "__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "pipeline-2k",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=tmp, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
