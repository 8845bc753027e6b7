"""Tests of the benchmark itself. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The first two groups need only Python. The last two build the engine and
run the benchmark JVM (a few minutes); they are skipped when no Spark jar
directory is found.
"""
import glob
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import build  # noqa: E402
import run  # noqa: E402


def fake_raw(stmt="ingest_batch", n=12):
    xs = [1.0 + i / 100 for i in range(n)]
    kinds = ["a", "b", "a"] * (n // 3)
    return {
        "nproc": 4, "seed": 7, "stmt": stmt, "session_s": 6.0, "setup_s": 20.0,
        "measured_s": 25.0, "cycles": 1.5, "cycle": ["a", "read", "a", "b"],
        "attempted": 20, "failed": 0, "failures": [], "failed_in": {},
        "class_rows": {stmt: 3000}, "class_s": {stmt: 15.0},
        "rows_submitted": 3000, "bytes_written": 3.0e6, "bytes_live": 2.5e6,
        "rows_live": 2500, "heap_mb": 80.0, "gc_s": 0.5,
        "samples": {stmt: {"all": xs, "all_kinds": kinds,
                           "traced": [x + 0.1 for x in xs]}},
        "layers": {"ingest.jobs_per_file": [2.0, 2.0, 2.0]},
    }


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        cases = {10: 50.0, 19: 50.0, 20: 50.0, 39: 50.0, 40: 75.0, 99: 75.0,
                 100: 90.0, 199: 90.0, 200: 95.0, 1000: 99.0, 10000: 99.9}
        for n, p in cases.items():
            self.assertEqual(run.tail_percentile(n), p, n)
            if p > 50.0:
                self.assertGreaterEqual(round(n * (100 - p) / 100, 6), 10)

    def test_percentile_interpolates_order_statistics(self):
        xs = list(range(1, 101))
        self.assertEqual(run.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(run.percentile(xs, 90), 90.1)
        self.assertEqual(run.percentile([3.0], 75), 3.0)
        self.assertEqual(run.percentile([5, 1, 3], 50), 3)


class MixLatency(unittest.TestCase):
    def test_kinds_weighted_by_their_share_of_the_cycle(self):
        raw = fake_raw(n=6)
        raw["samples"]["ingest_batch"] = {
            "all": [1.0, 9.0, 3.0, 1.0, 5.0, 1.0],
            "all_kinds": ["a", "b", "a", "a", "b", "a"], "traced": []}
        self.assertEqual(run.kind_medians(raw), {"a": 1.0, "b": 7.0})
        # "a" is two of the cycle's three statements of the class
        self.assertAlmostEqual(run.mix_latency(raw), (2 * 1.0 + 7.0) / 3)


class MetricNames(unittest.TestCase):
    spec = run.benchmark_spec()

    def test_end_to_end_names_match_benchmark_json(self):
        for stmt in ("ingest_batch", "dml"):
            m, details = run.end_to_end(fake_raw(stmt))
            self.assertEqual(list(m), [x["name"] for x in self.spec["end_to_end"]])
            for x in self.spec["end_to_end"]:
                self.assertEqual(m[x["name"]][1], x["unit"])
            self.assertEqual(details["tail_percentile"], 50.0)
            self.assertEqual(details["statements"], 12)

    def test_per_layer_names_match_benchmark_json(self):
        m = run.per_layer(fake_raw(), self.spec)
        self.assertEqual(list(m), [x["name"] for x in self.spec["per_layer"]])
        self.assertEqual(m["ingest.jobs_per_file"][0], 2.0)
        self.assertEqual(m["rowlevel.merge_sql_s"][0], 0.0)  # never called
        self.assertAlmostEqual(m["overhead.ingest_batch_p50_s"][0], 0.1)

    def test_driver_records_exactly_the_per_layer_names(self):
        src = ""
        for f in glob.glob(os.path.join(BENCH, "scala", "**", "*.scala"), recursive=True):
            with open(f) as fh:
                src += fh.read()
        recorded = set(re.findall(r'tracer\.add\("([^"$]+)"', src))
        kinds = set(re.findall(r'read\("([a-z_]+)"\)', src)) | {"dv_masked"}
        recorded |= {f"scan.{k}_s" for k in kinds}
        recorded |= {f"rowlevel.{k}_s" for k in re.findall(r'dml\("([a-z_]+)"', src)}
        wanted = {x["name"] for x in self.spec["per_layer"]
                  if not x["name"].startswith("overhead.")}
        self.assertEqual(recorded, wanted)

    def test_workloads_match_benchmark_json(self):
        with open(os.path.join(BENCH, "scala", "graftbench", "Workloads.scala")) as fh:
            src = fh.read()
        names = re.findall(r'Workload\("([a-z_]+)"', src)
        self.assertEqual(names, [w["name"] for w in self.spec["workloads"]])


def have_spark():
    try:
        build.spark_jars()
        return True
    except build.BuildError:
        return False


def run_bench(workload, seed, seconds, trace, extra=()):
    with tempfile.TemporaryDirectory() as d:
        raw_path = os.path.join(d, "raw.json")
        p = subprocess.run(
            [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
             "--raw-out", raw_path, *extra],
            cwd=REPO, capture_output=True, text=True, timeout=600)
        raw = None
        if os.path.isfile(raw_path):
            with open(raw_path) as fh:
                raw = json.load(fh)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    return p.returncode, json.loads(last), raw, p.stderr


@unittest.skipUnless(have_spark(), "no Spark jar directory")
class SameSeed(unittest.TestCase):
    def test_same_seed_same_inputs_and_exact_counts(self):
        runs = [run_bench("ingest_drift", 5, 1, 1) for _ in range(2)]
        for rc, res, raw, err in runs:
            self.assertEqual(rc, 0, err[-2000:])
            self.assertTrue(res["correct"])
        (_, a, ra, _), (_, b, rb, _) = runs
        n = min(len(ra["input_sha256"]), len(rb["input_sha256"]))
        self.assertGreater(n, 10)
        self.assertEqual(ra["input_sha256"][:n], rb["input_sha256"][:n])
        for name in ("schema.plan_nodes", "write.files_added", "ingest.jobs_per_file"):
            la, lb = ra["layers"][name], rb["layers"][name]
            k = min(len(la), len(lb))
            self.assertGreater(k, 0, name)
            self.assertEqual(la[:k], lb[:k], name)
            self.assertEqual(a["metrics"][name]["value"], b["metrics"][name]["value"], name)
        _, _, rc_, _ = run_bench("ingest_drift", 6, 1, 1)
        self.assertNotEqual(rc_["input_sha256"][:n], ra["input_sha256"][:n])


@unittest.skipUnless(have_spark(), "no Spark jar directory")
class CorruptedAnswer(unittest.TestCase):
    def test_corrupted_expected_answer_is_caught(self):
        for workload in ("ingest_drift", "upsert_churn"):
            rc, res, raw, err = run_bench(workload, 3, 1, 0, ["--corrupt-expected"])
            self.assertEqual(rc, 1, err[-2000:])
            self.assertFalse(res["correct"])
            self.assertGreater(res["failed"], 0)
            self.assertIn("wrong answer", err)
            # set-up, warm-up and measured checks share one record
            self.assertGreater(raw["failed_in"].get("warmup", 0), 0, raw["failed_in"])
            self.assertGreater(raw["failed_in"].get("measured", 0), 0, raw["failed_in"])


if __name__ == "__main__":
    unittest.main()
