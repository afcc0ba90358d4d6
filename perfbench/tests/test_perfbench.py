"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The DAG and failure-path tests build graft (first time only) and start a
JVM, so they take about a minute together.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen_project  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    return all(same_tree(os.path.join(a, d), os.path.join(b, d))
               for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, self.tmp)

    def gen(self, seed, kind, name):
        out = os.path.join(self.tmp, name)
        return out, gen_project.generate(seed, out, kind)

    def test_same_seed_gives_identical_project(self):
        for kind in ("fresh", "incremental"):
            a, ma = self.gen(7, kind, f"{kind}-a")
            b, mb = self.gen(7, kind, f"{kind}-b")
            self.assertTrue(filecmp.cmp(os.path.join(a, "manifest.json"),
                                        os.path.join(b, "manifest.json"), shallow=False))
            self.assertTrue(same_tree(os.path.join(a, "project"),
                                      os.path.join(b, "project")))
            self.assertEqual(ma, mb)

    def test_seed_changes_literals_not_shape(self):
        a, ma = self.gen(1, "fresh", "s1")
        b, mb = self.gen(2, "fresh", "s2")
        self.assertFalse(same_tree(os.path.join(a, "project"), os.path.join(b, "project")))
        self.assertEqual(ma["task_types"], mb["task_types"])
        self.assertEqual(sorted(os.listdir(os.path.join(a, "project", "sql"))),
                         sorted(os.listdir(os.path.join(b, "project", "sql"))))

    def test_project_holds_no_run_specific_paths(self):
        a, _ = self.gen(3, "fresh", "p")
        for d, _, files in os.walk(os.path.join(a, "project")):
            for f in files:
                with open(os.path.join(d, f)) as fh:
                    self.assertNotIn(self.tmp, fh.read())


class LayerMetricsTest(unittest.TestCase):
    """A hand-built run: a and b are roots, c needs both, d needs c; two
    slots. Expected values are worked out in the comments."""
    dag = {"a": [], "b": [], "c": ["a", "b"], "d": ["c"]}
    events = [
        ["run_started", 4, 0],
        ["task_started", "a", 0],
        ["task_started", "b", 10],
        ["task_finished", "b", "succeeded", 50, 40, None],
        ["task_finished", "a", "succeeded", 100, 100, None],
        ["task_started", "c", 120],
        ["step_started", "c", "compile", 120],
        ["step_finished", "c", "compile", True, 125, 5],
        ["step_started", "c", "load_table", 125],
        ["step_finished", "c", "load_table", True, 200, 75],
        ["task_finished", "c", "succeeded", 220, 100, None],
        ["task_started", "d", 230],
        ["task_finished", "d", "succeeded", 300, 70, None],
        ["run_finished", True, 310, 310],
    ]

    def setUp(self):
        self.iv = M.task_intervals(self.events)

    def test_ready_wait(self):
        # a 0, b 10 (root, run started at 0), c 120-100, d 230-220
        self.assertEqual(M.ready_wait_ms(self.iv, self.dag, 0), 40)

    def test_critical_path(self):
        # a (100) + c (100) + d (70) beats b (40) + c + d
        self.assertEqual(M.critical_path_ms(self.iv, self.dag), 270)

    def test_slot_busy(self):
        # (100 + 40 + 100 + 70) / (2 slots x 310 ms)
        self.assertAlmostEqual(M.slot_busy_frac([(self.iv, 0, 310)], 2), 0.5)
        # plus a 90 ms window holding one 90 ms task: (310 + 90) / (2 x (310 + 90))
        second = {"e": (1000, 1090, "succeeded")}
        self.assertAlmostEqual(
            M.slot_busy_frac([(self.iv, 0, 310), (second, 1000, 1090)], 2), 0.5)

    def test_tail(self):
        # both slots are busy only from 10 to 50; the run ends at 310
        self.assertEqual(M.tail_ms(self.iv, 2, 310), 260)

    def test_steps_and_tests(self):
        self.assertEqual(M.step_totals(self.events), {"compile": 5, "load_table": 75})
        # d is a custom test (70); c's column tests run after its last step (20)
        self.assertEqual(M.test_ms(self.events, {"d"}), 90)

    def test_spans_and_self_time(self):
        rec = {"t0": 0, "t1": 320, "runs": [{"t_call": 0, "t_end": 315, "events": self.events}],
               "spark": {"jobs": [[1, "graft:c", None, 130, 190, 1]],
                         "stages": [[3, 1, 140, 180, 4, 100, 90, 0, 0, 0, 0, 30]],
                         "sql": [], "catalog": [], "queries": []}}
        spans = M.build_spans(rec, "project")
        job = next(s for s in spans if s["layer"] == "spark.job")
        self.assertEqual(spans[job["parent"]]["name"], "c")
        st = M.self_times(spans)
        self.assertEqual(st["bench"], 5)        # 320 - 315
        self.assertEqual(st["app"], 45)         # 315 - (0-100, 120-220, 230-300 covered)
        self.assertEqual(st["tasks"], 230)      # a 100, b 40, d 70, c 100 - 80 (120-200 covered)
        self.assertEqual(st["spark.stage"], 40)
        self.assertEqual(st["spark.job"], 20)   # 60 - 40


class ProgramTest(unittest.TestCase):
    """Tests that build graft and run the harness."""

    def test_dag_accepts_generated_project(self):
        classes, _ = run.build(ROOT)
        work = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        self.addCleanup(shutil.rmtree, work)
        manifest = gen_project.generate(5, work, "fresh")
        _, raw = run.run_jvm(classes, work, {
            "mode": "dag", "out": os.path.join(work, "raw.json"), "work": work,
            "fixtures": os.path.join(BENCH, "fixtures", "sf0.1"),
            "project": os.path.join(work, "project")}, deadline=time.time() + 170)
        dag = raw["dag"]
        self.assertEqual(len(dag), manifest["n_tasks"])
        iv = {t: (0, 1, "succeeded") for t in dag}  # unit weights: path length
        self.assertEqual(M.critical_path_ms(iv, dag), manifest["dag_depth"])

    def test_failing_task_fails_the_run(self):
        r = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "project_fresh",
             "--seed", "1", "--seconds", "1", "--trace", "0",
             "--project-kind", "tiny", "--failing-task"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        self.assertNotEqual(r.returncode, 0)
        result = json.loads(r.stdout.strip().splitlines()[-1])
        detail = json.loads(r.stdout.strip().splitlines()[-2])
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertGreater(detail["failed_ops_frac"], 0)


if __name__ == "__main__":
    unittest.main()
