"""Self-tests for the benchmark's own code (no JVM needed).

    python3 -m unittest discover -s perfbench/tests     # from the repository root
"""
import hashlib
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_corpus(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ma = gen.write_log_corpus(a, 3000, 7)
            mb = gen.write_log_corpus(b, 3000, 7)
            self.assertEqual(ma["digest"], mb["digest"])
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertEqual(ma["digest"], gen.write_log_corpus(b + "/again", 3000, 7)["digest"])
        with tempfile.TemporaryDirectory() as c:
            self.assertNotEqual(ma["digest"], gen.write_log_corpus(c, 3000, 8)["digest"])

    def test_corpus_shape(self):
        with tempfile.TemporaryDirectory() as a:
            m = gen.write_log_corpus(a, 4000, 3)
            logs, decoys, lines, cont = [], [], 0, 0
            for d, _, files in os.walk(a):
                for f in files:
                    p = os.path.join(d, f)
                    if f.startswith("container_") and f.endswith(".log"):
                        logs.append(p)
                        with open(p) as fh:
                            rows = fh.read().splitlines()
                        lines += len(rows)
                        cont += sum(1 for r in rows if not re.match(r"\d{4}-\d{2}-\d{2} ", r))
                    else:
                        decoys.append(f)
            self.assertEqual(lines, m["lines"])
            self.assertEqual(len(logs), m["files"])
            self.assertIn("syslog.txt", decoys)
            self.assertTrue(0.005 < cont / lines < 0.08, cont / lines)
            # nested: application dir / container dir / container log
            self.assertTrue(all(os.path.relpath(p, a).count(os.sep) == 2 for p in logs))

    def test_same_seed_same_tables(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write_tables(a, 0.001, 5)
            gen.write_tables(b, 0.001, 5)
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertEqual(len(os.listdir(a)), 10)


class TailRuleTest(unittest.TestCase):
    def test_rank_leaves_ten_beyond(self):
        for n, want in [(20, (50, 10)), (21, (52, 11)), (40, (75, 30)), (100, (90, 90)),
                        (1000, (99, 990)), (5000, (99, 4950))]:
            self.assertEqual(metrics.tail_rank(n), want, n)
            p, rank = want
            self.assertGreaterEqual(n - rank, 10)
            # one percentile higher would leave fewer than ten beyond
            if p < 99:
                self.assertLess(n - -(-(p + 1) * n // 100), 10)

    def test_few_samples_take_the_largest(self):
        for n in (1, 4, 12, 19):
            self.assertEqual(metrics.tail_rank(n), (100, n))
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), 3.0)


class BenchmarkFileTest(unittest.TestCase):
    def setUp(self):
        self.b = metrics.benchmark()

    def test_shape(self):
        self.assertEqual(set(self.b), {"command", "paths", "run_seconds", "workloads",
                                       "end_to_end", "per_layer"})
        self.assertEqual({w["name"] for w in self.b["workloads"]}, set(run.WORKLOADS))
        for w in self.b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
            self.assertNotIn("\n", w["why"])
        for m in self.b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        setup = next(m for m in self.b["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in self.b["end_to_end"]))
        for m in self.b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})

    def test_names_and_units(self):
        names = [m["name"] for m in self.b["workloads"] + self.b["end_to_end"] + self.b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
            self.assertTrue(NAME.fullmatch(n), n)
        for m in self.b["end_to_end"] + self.b["per_layer"]:
            self.assertTrue(UNIT.fullmatch(m["unit"]), m)
            self.assertIn(m["better"], ("higher", "lower"))

    def test_every_layer_metric_says_what_it_moves(self):
        e2e = {m["name"] for m in self.b["end_to_end"]}
        workloads = {w["name"] for w in self.b["workloads"]}
        layer = {m["name"] for m in self.b["per_layer"]}
        self.assertEqual(layer, set(metrics.MOVES))
        for name, (moves, on) in metrics.MOVES.items():
            self.assertIn(moves, e2e, name)
            self.assertIn(on, workloads, name)

    def test_reported_metrics_match_the_file(self):
        samples = [{"name": "a", "pass": 0, "ms": 10.0, "ok": True, "completed": True,
                    "traced": False},
                   {"name": "a", "pass": 1, "ms": 12.0, "ok": False, "completed": True,
                    "traced": True, "span_ms": 12}]
        meta = {"setup_s": [3.0, 1.0, 2.0], "session_build_s": [0.1], "window_s": 1.0,
                "cores": 4, "peak_rss_mb": 100.0}
        self.assertEqual(set(metrics.end_to_end(meta, samples)),
                         {m["name"] for m in self.b["end_to_end"]})
        self.assertEqual(set(metrics.per_layer(meta, samples, {})),
                         {m["name"] for m in self.b["per_layer"]})
        e2e = metrics.end_to_end(meta, samples)
        self.assertEqual(e2e["setup_s"], 2.0)
        self.assertEqual(e2e["op_p50_ms"], 11.0)
        self.assertEqual(e2e["ops_per_s"], 2.0)

    def test_pass_and_median_use_each_operations_median(self):
        # b's slow second pass moves neither its median nor the pass time
        samples = [{"name": n, "pass": p, "ms": ms, "completed": True}
                   for n, p, ms in [("a", 0, 10.0), ("a", 1, 10.0), ("a", 2, 10.0),
                                    ("b", 0, 30.0), ("b", 1, 90.0), ("b", 2, 30.0),
                                    ("c", 0, 20.0), ("c", 1, 20.0), ("c", 2, 20.0)]]
        e2e = metrics.end_to_end({"setup_s": [1.0], "window_s": 1.0}, samples)
        self.assertAlmostEqual(e2e["pass_s"], 0.06)
        self.assertEqual(e2e["op_p50_ms"], 20.0)


if __name__ == "__main__":
    unittest.main()
