"""Tests of the benchmark itself.

    python3 -m unittest perfbench/test_perfbench.py

They build the program like a benchmark run does (the first call compiles)
and start small JVMs.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


class SpanAttribution(unittest.TestCase):
    """Toy jobs with known shapes, attributed by the span listener."""

    @classmethod
    def setUpClass(cls):
        bench.build()
        d = tempfile.mkdtemp(dir=bench.BUILD)
        try:
            cls.v = bench.jvm(d, "selftest", 2, bench.CDS, {})["values"]
        finally:
            shutil.rmtree(d, ignore_errors=True)

    def test_two_spans_attributed(self):
        self.assertEqual((self.v["a.jobs"], self.v["a.tasks"]), (1, 2))
        self.assertEqual((self.v["b.jobs"], self.v["b.tasks"]), (2, 6))

    def test_aqe_pool_jobs_keep_their_span(self):
        self.assertGreaterEqual(self.v["c.jobs"], 1)
        self.assertEqual(self.v["unattributed_jobs"], 0)

    def test_span_totals_are_all_jobs(self):
        spans = sum(self.v[f"{s}.jobs"] for s in "abc")
        self.assertEqual(spans, self.v["total_jobs"])

    def test_busy_time_is_the_union_of_job_intervals(self):
        self.assertEqual(self.v["union_ms"], 30)


class MetricNames(unittest.TestCase):

    def setUp(self):
        with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_names_are_well_formed_and_unique(self):
        names = ([w["name"] for w in self.spec["workloads"]]
                 + [m["name"] for m in self.spec["end_to_end"]]
                 + [m["name"] for m in self.spec["per_layer"]])
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))

    def test_spec_matches_the_runner(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]],
                         list(bench.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["end_to_end"]],
                         bench.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["per_layer"]],
                         bench.PER_LAYER)


class InjectedFaults(unittest.TestCase):
    """A wrong rank, component label or partition must be counted as
    failed."""

    def check_fails(self, workload, inject, sizes):
        _, result = bench.run(workload, 7, 0, False, inject, sizes)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertGreater(result["failed"] / result["attempted"], 0)

    def test_wrong_rank(self):
        self.check_fails("pr-dense", "rank", {"convs": 500, "reps": 1})

    def test_wrong_component(self):
        self.check_fails("gate-queries", "component", {"reps": 1})

    def test_every_vertex_in_one_part(self):
        self.check_fails("gate-queries", "part", {"reps": 1})

    def test_uncorrupted_run_is_correct(self):
        _, result = bench.run("pr-dense", 7, 0, False, "",
                              {"convs": 500, "reps": 1})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)


class BareDirectory(unittest.TestCase):
    """Without the program's sources the benchmark fails without a result."""

    def test_fails_cleanly(self):
        d = tempfile.mkdtemp(dir=bench.BUILD)
        try:
            shutil.copy(os.path.join(bench.ROOT, "BENCHMARK.json"), d)
            shutil.copytree(bench.BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "pr-dense",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                text=True, timeout=60)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
