#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 -m unittest discover -s casprbench -p 'test_*.py'

No test needs the program built or a JVM.
"""
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "start_ms": start, "end_ms": end,
            "name": name}


class SelfTime(unittest.TestCase):
    def test_overlapping_children(self):
        spans = [
            span(1, 0, 0, 100),
            span(2, 1, 10, 40),    # overlaps its sibling by 10 ms
            span(3, 1, 30, 60),
            span(4, 1, 90, 120),   # runs past its parent's end
            span(5, 2, 15, 25),    # grandchild: counts against 2, not 1
        ]
        selfs = run.self_times(spans)
        self.assertAlmostEqual(selfs[1], 100 - (60 - 10) - (100 - 90))
        self.assertAlmostEqual(selfs[2], 30 - 10)
        self.assertAlmostEqual(selfs[3], 30)
        self.assertAlmostEqual(selfs[4], 30)
        self.assertAlmostEqual(selfs[5], 10)

    def test_union_of_nested_and_disjoint(self):
        self.assertEqual(run.union_ms([(0, 10), (2, 5), (20, 30)], 0, 25), 15)
        self.assertEqual(run.union_ms([], 0, 10), 0)

    def test_innermost_span(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 2, 20, 30)]
        self.assertEqual(run.innermost(spans, 25), 3)
        self.assertEqual(run.innermost(spans, 35), 2)
        self.assertEqual(run.innermost(spans, 150), 0)


class MetricNames(unittest.TestCase):
    def test_names_and_units(self):
        for table in (run.END_TO_END, run.PER_LAYER):
            for name, unit in table.items():
                self.assertRegex(name, NAME)
                self.assertRegex(unit, UNIT)

    def test_benchmark_json_matches_emitted_metrics(self):
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.PER_LAYER)
        self.assertLessEqual({w["name"] for w in spec["workloads"]},
                             set(run.WORKLOADS))


def tree_bytes(root):
    """Relative path -> bytes of every file under root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_files(self):
        os.makedirs(build.BUILD, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=build.BUILD) as root:
            for w in run.WORKLOADS:
                a, b, c = (os.path.join(root, w, t) for t in "abc")
                gen.generate(w, 11, a)
                gen.generate(w, 11, b)
                gen.generate(w, 12, c)
                self.assertEqual(tree_bytes(a), tree_bytes(b),
                                 f"{w}: seed 11 twice gave different files")
                self.assertNotEqual(tree_bytes(a), tree_bytes(c),
                                    f"{w}: seeds 11 and 12 gave the same files")


if __name__ == "__main__":
    unittest.main()
