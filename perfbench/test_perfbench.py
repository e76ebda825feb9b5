"""Tests of the benchmark's own output: metric names and units, and the
shape of the span tree.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Besides synthetic cases, the tests check every result and span file that
earlier runs left in perfbench/results/.
"""
import json
import re
import unittest

import run

NAME = re.compile(r"[A-Za-z0-9_.-]+")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def span(id, parent, start, end, kind="x"):
    return {"id": id, "parent": parent, "kind": kind, "name": str(id),
            "start_ms": start, "end_ms": end}


class MetricNames(unittest.TestCase):
    def check(self, name, unit):
        self.assertTrue(NAME.fullmatch(name), name)
        self.assertTrue(UNIT.fullmatch(unit or ""), f"{name}: unit {unit!r}")

    def test_every_metric_has_a_name_and_a_unit(self):
        _, end_to_end, per_layer = run.load_spec()
        self.assertTrue(end_to_end and per_layer)
        for group in (end_to_end, per_layer, run.INFO):
            for name, unit in group.items():
                self.check(name, unit)

    def test_names_are_unique(self):
        bench = json.loads((run.ROOT / "BENCHMARK.json").read_text())
        for group in ("workloads", "end_to_end", "per_layer"):
            names = [m["name"] for m in bench[group]]
            self.assertEqual(len(names), len(set(names)), group)

    def test_recorded_results(self):
        _, end_to_end, per_layer = run.load_spec()
        for f in sorted(run.RESULTS.glob("*-trace[01].json")):
            with self.subTest(f.name):
                metrics = json.loads(f.read_text())["metrics"]
                expected = per_layer if f.stem.endswith("trace1") else end_to_end
                self.assertLessEqual(set(expected), set(metrics))
                for name, m in metrics.items():
                    self.check(name, m["unit"])
                    self.assertIsInstance(m["value"], (int, float))


class SpanTree(unittest.TestCase):
    def test_a_child_outside_its_parent_moves_to_the_nearest_container(self):
        tree = run.span_tree([
            span(1, 0, 0, 100, "run"), span(2, 1, 0, 50, "pass"),
            span(3, 2, 10, 40, "query"), span(4, 3, 10, 20, "phase"),
            span(5, 4, 15, 25, "job"),  # straddles its phase's end
            span(6, 5, 16, 18, "stage")])
        by_id = {s["id"]: s for s in tree}
        self.assertEqual(by_id[5]["parent"], 3)
        self.assertTrue(by_id[5]["reparented"])
        self.assertFalse(by_id[6]["reparented"])
        self.assertEqual(run.check_span_tree(tree), [])

    def test_self_time_subtracts_the_union_of_overlapping_children(self):
        tree = run.span_tree([
            span(1, 0, 0, 100, "run"), span(2, 1, 10, 60), span(3, 1, 40, 80),
            span(4, 1, 50, 55)])
        by_id = {s["id"]: s for s in tree}
        self.assertEqual(by_id[1]["self_ms"], 100 - 70)
        self.assertTrue(all(s["self_ms"] >= 0 for s in tree))

    def test_a_span_outside_the_run_is_an_error(self):
        with self.assertRaises(run.BenchError):
            run.span_tree([span(1, 0, 0, 10, "run"), span(2, 1, 5, 20)])

    def test_the_check_reports_a_bad_tree(self):
        bad = [dict(span(1, 0, 0, 10, "run"), self_ms=10),
               dict(span(2, 1, 5, 20), self_ms=-1)]
        self.assertEqual(len(run.check_span_tree(bad)), 2)

    def test_recorded_span_trees(self):
        for f in sorted(run.RESULTS.glob("*.spans.json")):
            with self.subTest(f.name):
                tree = json.loads(f.read_text())
                self.assertTrue(tree)
                self.assertEqual(run.check_span_tree(tree), [])


if __name__ == "__main__":
    unittest.main()
