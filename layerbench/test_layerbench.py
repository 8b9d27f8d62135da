"""The benchmark's own tests (no Spark needed):

    python3 -m unittest discover -s layerbench -p 'test_*.py'
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def query_run(hashes, errors=None, warm_hash="10:77"):
    """A curation-style run record: one warm-up per query, then one timed
    op per entry of ``hashes``."""
    errors = errors or {}
    names = sorted({n for n, _ in hashes})
    return {
        "setup_s": 9.0, "cpus": 4, "peak_rss_mb": 2000.5, "warmup_s": 20.5,
        "warmup": [{"name": n, "hash": warm_hash} for n in names],
        "passes": [{"pass": 0, "traced": False, "s": 12.5, "cpu_s": 20.0,
                    "jit_s": 9.5}],
        "ops": [{"id": f"p0/{n}#{i}", "name": n, "kind": "query", "pass": 0,
                 "traced": False, "s": 0.5 + i, "cpu_s": 1.0 + i,
                 "jit_s": 0.5, "codegen_classes": 40, "build_s": 0.01,
                 "hash": h, "error": errors.get(i)}
                for i, (n, h) in enumerate(hashes)],
        "counters": {},
    }


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.nearest_rank(xs, 0.5), 50)
        self.assertEqual(metrics.nearest_rank(xs, 0.9), 90)
        self.assertEqual(metrics.nearest_rank([3.0], 0.9), 3.0)
        self.assertEqual(metrics.nearest_rank([4, 1, 3, 2], 0.5), 2)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(metrics.beyond(100, 0.9), 10)
        self.assertEqual(metrics.beyond(99, 0.9), 9)
        line = metrics.percentile_line("x_p90", list(range(100)), 0.9, "s")
        self.assertEqual(line, "x_p90 89 s (n=100)")
        line = metrics.percentile_line("x_p90", list(range(99)), 0.9, "s")
        self.assertTrue(line.startswith("x_p90 n/a s (n=99;"), line)

    def test_median_always_printed_with_count(self):
        self.assertEqual(metrics.percentile_line("m", [2.0, 1.0, 3.0], 0.5, "s"),
                         "m 2 s (n=3)")


class PassCount(unittest.TestCase):
    def test_fixed_from_seconds_not_from_speed(self):
        import run
        self.assertEqual(run.passes(10, {"nominal_pass_s": 5}), 2)
        self.assertEqual(run.passes(10, {"nominal_pass_s": 10}), 1)
        self.assertEqual(run.passes(1, {"nominal_pass_s": 10}), 1)


class Accounting(unittest.TestCase):
    def test_all_verified(self):
        run = query_run([("a", "10:77"), ("b", "10:77")])
        ops, attempted, failed = metrics.account(run, {"a": True, "b": True})
        self.assertEqual((attempted, failed), (2, 0))

    def test_error_and_unverified_fail(self):
        run = query_run([("a", "10:77"), ("a", None), ("b", "10:77")],
                        errors={1: "java.lang.RuntimeException: boom"})
        ops, attempted, failed = metrics.account(run, {"a": True, "b": False})
        self.assertEqual((attempted, failed), (3, 2))
        self.assertEqual([o["ok"] for o in ops], [True, False, False])

    def test_cached_hash_skips_the_oracle(self):
        run = query_run([("a", "10:77")])
        verdicts, todo = metrics.reuse_verdicts(run["warmup"], {"a": "10:77"})
        self.assertEqual((verdicts, todo), ({"a": True}, []))
        _, _, failed = metrics.account(run, verdicts)
        self.assertEqual(failed, 0)

    def test_newly_verified_hash_replaces_a_stale_cached_one(self):
        # the result's hash changed (e.g. a wider int column) but the new
        # result still passes the oracle: timed ops reproducing it are ok
        run = query_run([("a", "new"), ("a", "new")], warm_hash="new")
        verdicts, todo = metrics.reuse_verdicts(run["warmup"], {"a": "old"})
        self.assertEqual((verdicts, todo), ({}, ["a"]))
        verdicts.update({"a": True})   # the oracle check of the new dump
        _, attempted, failed = metrics.account(run, verdicts)
        self.assertEqual((attempted, failed), (2, 0))

    def test_registry_ops_follow_final_oracle(self):
        run = {"ops": [
            {"id": "r0/stats", "name": "stats", "kind": "commit", "s": 1.0},
            {"id": "r0/tokens", "name": "tokens", "kind": "commit", "s": 1.0},
            {"id": "r0/tokens.readout", "name": "tokens", "kind": "readout",
             "s": 0.2, "hash": "1:2"}],
            "registry_oracles": {"stats": "st16_incremental_stats",
                                 "tokens": "st19_token_registry"}}
        ops, attempted, failed = metrics.account(
            run, {"st16_incremental_stats": True, "st19_token_registry": False})
        self.assertEqual((attempted, failed), (3, 2))

    def test_check_output_parsing(self):
        text = "PASS dq15_winnowing (12 rows)\nFAIL sq9_pq_ann: rows 3 != 4\n== 1 pass, 1 fail"
        self.assertEqual(metrics.parse_check(text),
                         {"dq15_winnowing": True, "sq9_pq_ann": False})


class OutputShape(unittest.TestCase):
    def _report(self, run, trace=0, verdicts=None):
        verdicts = verdicts if verdicts is not None else \
            {w["name"]: True for w in run["warmup"]}
        return metrics.report(run, verdicts, BENCH, "curation_kernels",
                              "query", trace)

    def test_untraced_line(self):
        lines, code = self._report(query_run([("a", "10:77"), ("b", "10:77")]))
        self.assertEqual(code, 0)
        out = json.loads(lines[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(out["correct"], True)
        self.assertEqual((out["attempted"], out["failed"]), (2, 0))
        self.assertEqual(set(out["metrics"]),
                         {m["name"] for m in BENCH["end_to_end"]})
        for m in BENCH["end_to_end"]:
            got = out["metrics"][m["name"]]
            self.assertEqual(set(got), {"value", "unit"})
            self.assertEqual(got["unit"], m["unit"])
            self.assertGreater(got["value"], 0)
        self.assertEqual(out["metrics"]["setup_s"]["value"], 9.0)
        self.assertEqual(out["metrics"]["pass_cpu_s"]["value"], 20.0)
        # every end-to-end metric is also printed with its sample count
        for m in BENCH["end_to_end"]:
            self.assertTrue(any(ln.startswith(f"metric {m['name']} ") and
                                "(n=" in ln for ln in lines), m["name"])

    def test_traced_line_has_every_per_layer_metric(self):
        run = query_run([("a", "10:77"), ("a", "10:77")])
        run["ops"][1]["traced"] = True
        run["passes"].append({"pass": 1, "traced": True, "s": 13.0,
                              "cpu_s": 21.0, "jit_s": 9.0})
        run["counters"] = {run["ops"][1]["id"]: {"scheduler.jobs": 3.0,
                                                 "executor.task_run_s": 26.0}}
        run["kernels"] = {"functions.SimHash.rows_per_s": 1000.0}
        run["dsl"] = {"parse_ms": [0.5, 0.7, 0.6], "runner_s": [0.1]}
        t0 = 1000.0
        spans = [
            {"id": 1, "name": "op", "op": "p0/a#1", "parent": 0,
             "start": t0, "end": t0 + 1500},
            {"id": 2, "name": "operators.build", "op": "p0/a#1", "parent": 1,
             "start": t0, "end": t0 + 100},
            {"id": 3, "name": "action", "op": "p0/a#1", "parent": 1,
             "start": t0 + 100, "end": t0 + 1500},
            {"id": 4, "name": "job", "op": "p0/a#1", "parent": 0,
             "start": t0 + 200, "end": t0 + 1200},
        ]
        lines, code = metrics.report(run, {"a": True}, BENCH,
                                     "curation_kernels", "query", 1, spans)
        out = json.loads(lines[-1])
        self.assertEqual(set(out["metrics"]),
                         {m["name"] for m in BENCH["per_layer"]})
        m = {k: v["value"] for k, v in out["metrics"].items()}
        self.assertEqual(m["scheduler.jobs"], 3.0)
        self.assertAlmostEqual(m["self.scheduler_s"], 1.0)
        self.assertAlmostEqual(m["self.driver_s"], 0.4)
        self.assertAlmostEqual(m["operators.driver_gap_s"], 0.5)
        self.assertAlmostEqual(m["executor.busy_frac"], 26.0 / (4 * 13.0))
        self.assertAlmostEqual(m["trace.overhead_frac"], 21.0 / 20.0 - 1)
        self.assertAlmostEqual(m["jvm.jit_cpu_s"], 0.5)
        self.assertEqual(m["codegen.classes"], 40)
        self.assertTrue(any(ln.startswith("tracing overhead") for ln in lines))

    def test_planted_wrong_hash_fails_the_run(self):
        run = query_run([("a", "10:77"), ("a", "10:78")])
        lines, code = self._report(run)
        out = json.loads(lines[-1])
        self.assertNotEqual(code, 0)
        self.assertIs(out["correct"], False)
        self.assertEqual(out["failed"], 1)
        self.assertIn("wrong=a", lines[0])

    def test_oracle_mismatch_fails_the_run(self):
        run = query_run([("a", "10:77")])
        lines, code = self._report(run, verdicts={"a": False})
        self.assertNotEqual(code, 0)


class Checkout(unittest.TestCase):
    def test_refuses_a_directory_without_the_program(self):
        d = tempfile.mkdtemp()
        try:
            shutil.copytree(HERE, os.path.join(d, "layerbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), d)
            p = subprocess.run(
                [sys.executable, "layerbench/run.py", "--workload",
                 "curation_kernels", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=d, capture_output=True, text=True,
                timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
