"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

Most of them run the real harness on the committed workloads (several
minutes in all) and need the same toolchain as the benchmark; the
reconciliation tests feed the trace reducer synthetic spans.
"""
import json
import os
import shutil
import subprocess
import sys
import time
import types
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import reduce_trace  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(*args, cwd=ROOT):
    """Run the benchmark; return (exit code, parsed last line or None, stdout)."""
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + list(args),
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except ValueError:
        last = None
    return p.returncode, last, p.stdout


def scratch(name):
    d = os.path.join(run.build_root(), "tests", name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


class OpOrder(unittest.TestCase):
    def test_seed_changes_order_not_op_set(self):
        ops = run.load_ops("batch_mix")
        a, b = run.pass_orders(ops, 1), run.pass_orders(ops, 2)
        self.assertEqual(a, run.pass_orders(ops, 1))
        for order in a + b:
            self.assertEqual(sorted(order), sorted(ops))
        self.assertNotEqual(a, b)


class Metrics(unittest.TestCase):
    def check_line(self, line, spec):
        self.assertTrue(line["correct"])
        self.assertGreaterEqual(line["attempted"], 1)
        self.assertEqual(line["failed"], 0)
        self.assertEqual({k: v["unit"] for k, v in line["metrics"].items()},
                         {m["name"]: m["unit"] for m in spec})
        for v in line["metrics"].values():
            self.assertIsInstance(v["value"], (int, float))

    def test_every_workload_prints_every_metric(self):
        for w in (w["name"] for w in SPEC["workloads"]):
            for trace, spec in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
                with self.subTest(workload=w, trace=trace):
                    rc, line, out = bench("--workload", w, "--seed", "7", "--seconds", "1",
                                          "--trace", str(trace))
                    self.assertEqual(rc, 0, out)
                    self.check_line(line, spec)
                    if trace:
                        self.assertIn("reconciliation", out)


class Correctness(unittest.TestCase):
    def test_corrupted_digest_is_a_failed_op(self):
        work = scratch("corrupt")
        first = run.load_ops("batch_mix")[0]
        with open(os.path.join(work, "orders.txt"), "w") as f:
            f.write(first + "\n" + first + "\n")
        args = types.SimpleNamespace(workload="batch_mix", seed=3, seconds=0, trace=0)
        result = run.run_harness(run.classpath(run.build_root()), args, work,
                                 deadline=time.monotonic() + 600)
        expected = check.load_expected(os.path.join(BENCH, "expected"), "batch_mix")
        self.assertEqual(run.check_run(result, expected), {})
        expected[first] = dict(expected[first], sha256="0" * 64)
        self.assertIn(first, run.check_run(result, expected))

    def test_refuses_without_program_sources(self):
        d = scratch("bare")
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        rc, line, _ = bench("--workload", "batch_mix", "--seed", "1", "--seconds", "1",
                            "--trace", "0", cwd=d)
        self.assertNotEqual(rc, 0)
        self.assertIsNone(line)


class Reconciliation(unittest.TestCase):
    """The reducer's attribution check on a synthetic traced run: one
    traced pass of two ops, each with one job in its execute step."""

    def traced_run(self, jobs):
        ops = [{"id": "op1", "name": "a", "pass": 1, "traced": True, "start_ms": 1000,
                "build_end_ms": 1100, "end_ms": 2000, "wall_s": 1.0, "build_s": 0.1,
                "run_ids": []},
               {"id": "op2", "name": "b", "pass": 1, "traced": True, "start_ms": 2010,
                "build_end_ms": 2100, "end_ms": 3000, "wall_s": 0.99, "build_s": 0.09,
                "run_ids": []}]
        result = {"ops": ops, "env": {"cores": 4}, "heap_live_peak_bytes": 0,
                  "pinned_peak_bytes": 0,
                  "passes": [{"pass": 1, "traced": True, "wall_s": 2.0,
                              "start_ms": 1000, "end_ms": 3000}]}
        path = os.path.join(scratch("reconcile"), "spans.jsonl")
        with open(path, "w") as f:
            for i, (group, s, e) in enumerate(jobs):
                f.write(json.dumps({"kind": "job", "job": i, "group": group, "start_ms": s,
                                    "end_ms": e, "stages": [], "ok": True}) + "\n")
        return reduce_trace.reduce(result, path)

    def test_consistent_trace_reconciles(self):
        layers, report = self.traced_run([("op1/exec", 1200, 1900), ("op2/exec", 2200, 2900)])
        self.assertTrue(report["reconciled"], report["reconcile_errors"])
        self.assertAlmostEqual(layers["driver.gap_s"], (1000 - 700 + 990 - 700) / 1e3)

    def test_job_outside_its_op_fails(self):
        _, report = self.traced_run([("op1/exec", 1200, 1900), ("op2/exec", 1500, 2900)])
        self.assertFalse(report["reconciled"])
        self.assertEqual(report["reconcile_errors"], ["b job 1 outside its op"])

    def test_job_without_op_fails(self):
        _, report = self.traced_run([("op1/exec", 1200, 1900), ("", 2200, 2900)])
        self.assertFalse(report["reconciled"])
        self.assertEqual(report["reconcile_errors"], ["job 1 in group '' has no op"])


if __name__ == "__main__":
    unittest.main()
