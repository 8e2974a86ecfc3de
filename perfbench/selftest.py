"""Self-tests of the benchmark's own parts; no Spark session needed.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import re
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import engine  # noqa: E402
import gen_xml  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


class Generators(unittest.TestCase):
    def test_flat_answers_match_brute_force(self):
        with tempfile.TemporaryDirectory() as d:
            for seed in (0, 1, 7):
                path = f"{d}/flat-{seed}.xml"
                want = gen_xml.write_flat(path, 256 << 10, seed)
                self.assertEqual(want, gen_xml.brute_force_flat(path))
                self.assertGreater(want["records"], 400)

    def test_nested_answers_match_brute_force(self):
        with tempfile.TemporaryDirectory() as d:
            for seed in (0, 3):
                out = f"{d}/books-{seed}"
                want = gen_xml.write_nested(out, 4, 128 << 10, seed)
                self.assertEqual(want, gen_xml.brute_force_nested(out))

    def test_seed_changes_inputs_and_repeats(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen_xml.write_flat(f"{d}/a.xml", 64 << 10, 5)
            b = gen_xml.write_flat(f"{d}/b.xml", 64 << 10, 5)
            c = gen_xml.write_flat(f"{d}/c.xml", 64 << 10, 6)
            self.assertEqual(Path(f"{d}/a.xml").read_bytes(), Path(f"{d}/b.xml").read_bytes())
            self.assertEqual(a, b)
            self.assertNotEqual(a, c)


class Oracles(unittest.TestCase):
    def test_value_hash_ignores_row_and_column_order(self):
        rows = [(1, "a", 2.5), (2, "b", None)]
        h = workloads.value_hash(["x", "y", "z"], rows)
        self.assertEqual(h, workloads.value_hash(["z", "x", "y"],
                                                 [(None, 2, "b"), (2.5, 1, "a")]))
        self.assertNotEqual(h, workloads.value_hash(["x", "y", "z"], rows[:1]))


class Engine(unittest.TestCase):
    def test_busy_time_merges_overlaps_and_clips(self):
        self.assertAlmostEqual(engine._busy_s([(1, 3), (2, 4), (6, 20)], 0, 10), 7.0)
        self.assertEqual(engine._busy_s([], 0, 5), 0.0)


class BenchmarkJson(unittest.TestCase):
    def setUp(self):
        self.text = (ROOT / "BENCHMARK.json").read_text()
        self.doc = json.loads(self.text)

    def test_shape_and_limits(self):
        d = self.doc
        self.assertEqual(set(d), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertLessEqual(len(self.text.encode()), 64 << 10)
        self.assertTrue(1 <= d["run_seconds"] <= 60)
        self.assertTrue(2 <= len(d["workloads"]) <= 8)
        self.assertTrue(1 <= len(d["end_to_end"]) <= 16)
        self.assertTrue(1 <= len(d["per_layer"]) <= 128)
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in d[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(NAME.fullmatch(n), n)
        for w in d["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
            self.assertNotIn("\n", w["why"])
        for m in d["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in d["end_to_end"] + d["per_layer"]:
            self.assertTrue(UNIT.fullmatch(m["unit"]), m["unit"])
            self.assertIn(m["better"], ("higher", "lower"))
        setup = next(m for m in d["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in d["end_to_end"]))
        for p in d["paths"]:
            self.assertTrue(re.fullmatch(r"[A-Za-z0-9_./-]{1,200}", p))
            self.assertFalse(p.startswith("/") or ".." in p.split("/"))
        self.assertLessEqual(len(d["command"]), 32)


if __name__ == "__main__":
    unittest.main()
