"""Self-test of the benchmark. From the root of a checkout:

    python3 -m unittest discover -s perfbench/tests -v

The end-to-end cases run every workload once untraced and once traced
on the benchmark's own inputs with a one-second window, so every
workload runs the fewest warm passes (one untraced, two traced).
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import metrics  # noqa: E402
import run  # noqa: E402


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def scala_sources():
    for d, _, fs in os.walk(os.path.join(BENCH, "src")):
        for f in fs:
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p) as fh:
                    yield p, fh.read()


def code_lines(src):
    """Lines without line comments, scaladoc or imports (LintSpec's view)."""
    for i, line in enumerate(src.splitlines(), 1):
        line = re.sub(r"//.*$", "", line)
        t = line.strip()
        if not (t.startswith("*") or t.startswith("import ")):
            yield i, line


class ContractTest(unittest.TestCase):
    def test_benchmark_json_names_the_printed_metrics(self):
        b = load_benchmark()
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], metrics.PER_LAYER)
        self.assertIn(("setup_s", "s"), metrics.END_TO_END)
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        for w in b["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)

    def test_sources_keep_the_engine_lint_rules(self):
        rdd = re.compile(r"\.rdd\b")
        conf_key = re.compile(r'"(graft\.[a-z][a-zA-Z]*\.[a-z][a-zA-Z]*)"')
        assert_call = re.compile(r"(?<![.\w])assert\(")
        hits = []
        for p, src in scala_sources():
            hits += [f"{p}: graft.* conf key {m}" for m in conf_key.findall(src)]
            for ln, line in code_lines(src):
                if rdd.search(line):
                    hits.append(f"{p}:{ln}: .rdd on a Dataset")
                if assert_call.search(line):
                    hits.append(f"{p}:{ln}: assert gate")
        self.assertEqual(hits, [])

    def test_refuses_without_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__", "project"))
        try:
            r = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "gene_etl",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=bare, capture_output=True, text=True, timeout=180)
        finally:
            shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(r.returncode, 0)
        self.assertNotIn('"correct"', r.stdout)


class EndToEndTest(unittest.TestCase):
    def run_bench(self, workload, trace):
        cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
               "--seed", "1", "--seconds", "1", "--trace", str(trace)]
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stdout[-2000:] + r.stderr[-3000:])
        lines = r.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertIn("output check: PASS", r.stdout)
        self.assertIn("cores=", lines[0])
        return result, r.stdout

    def check_names(self, result, wanted):
        self.assertEqual(list(result["metrics"]), [n for n, _ in wanted])
        for name, unit in wanted:
            self.assertEqual(result["metrics"][name]["unit"], unit)
            self.assertIsInstance(result["metrics"][name]["value"], (int, float))

    def test_workloads(self):
        b = load_benchmark()
        for workload in run.WORKLOADS:
            with self.subTest(workload=workload, trace=0):
                result, out = self.run_bench(workload, 0)
                self.check_names(result, [(m["name"], m["unit"]) for m in b["end_to_end"]])
                for name, _ in metrics.END_TO_END:
                    self.assertGreater(result["metrics"][name]["value"], 0, name)
                report_only = metrics.REPORT_ONLY + (
                    metrics.INDEX_REPORT_ONLY if workload == "index_serve" else [])
                for name, unit in report_only:
                    self.assertRegex(out, rf"\n  {name} = [0-9.e+-]+ {re.escape(unit)}\n")
                self.assertIn("fail_frac = 0", out)
            with self.subTest(workload=workload, trace=1):
                result, out = self.run_bench(workload, 1)
                self.check_names(result, [(m["name"], m["unit"]) for m in b["per_layer"]])
                trace = os.path.join(ROOT, ".bench_build", "perfbench", "traces",
                                     f"{workload}-seed1.json")
                with open(trace) as f:
                    t = json.load(f)
                # layer self times plus the unattributed rest make up each
                # op, and no span outlasts its parent
                for op in t["ops"]:
                    if op["traced"]:
                        total = sum(op["self_s"].values()) - op["self_s"]["wall"]
                        self.assertAlmostEqual(total, op["t"], delta=0.002)
                        for layer, s in op["self_s"].items():
                            self.assertGreaterEqual(s, -0.002, (op["name"], layer))


if __name__ == "__main__":
    unittest.main()
