"""Tests for the benchmark's Python side: table generation, the oracle
failure count and the trace diff.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import tempfile
import unittest

import pandas as pd

import run
import tables
import trace_diff


class TablesTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            tables.generate(5, a)
            tables.generate(5, b)
            tables.generate(6, c)
            for t in tables.TABLES:
                fa, fb, fc = (pd.read_parquet(os.path.join(d, f"{t}.parquet")) for d in (a, b, c))
                self.assertTrue(fa.equals(fb), t)
                if t not in ("region", "nation"):
                    self.assertFalse(fa.equals(fc), t)


class OracleFailuresTest(unittest.TestCase):
    """A query whose result disagrees with its oracle is a failed operation."""

    def failures(self, n):
        with tempfile.TemporaryDirectory() as data, tempfile.TemporaryDirectory() as out:
            tables.generate(1, data)
            with open(os.path.join(out, "oracle_sql.json"), "w") as f:
                json.dump({"regions": "SELECT count(*) AS n FROM region"}, f)
            os.makedirs(os.path.join(out, "regions"))
            pd.DataFrame({"n": [n]}).to_parquet(os.path.join(out, "regions", "part-0.parquet"))
            with contextlib.redirect_stdout(io.StringIO()):
                return run.oracle_failures(data, out, 1)

    def test_matching_result_passes(self):
        self.assertEqual(self.failures(5), 0)

    def test_altered_result_fails(self):
        self.assertEqual(self.failures(4), 1)


class TraceDiffTest(unittest.TestCase):
    def test_prints_layer_and_family_deltas(self):
        def doc(wall):
            return {"workload": "read_registry", "seed": 1,
                    "metrics": {"read_pass_s": {"value": wall, "unit": "s"}},
                    "layers": {"codegen.compiles": {"value": 10.0, "unit": "count"}},
                    "info": {"per_query": {"mqtt_state": {"wall_s": wall}}},
                    "spans": [{"layer": "registry", "name": "query", "family": "mqtt",
                               "start_ms": 0.0, "end_ms": wall * 1000}]}
        with tempfile.TemporaryDirectory() as d:
            paths = []
            for i, wall in enumerate((2.0, 1.5)):
                paths.append(os.path.join(d, f"t{i}.json"))
                with open(paths[-1], "w") as f:
                    json.dump(doc(wall), f)
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                trace_diff.main(*paths)
        text = out.getvalue()
        self.assertIn("[codegen]", text)
        self.assertIn("[mqtt]", text)
        self.assertIn("-0.5000", text)


if __name__ == "__main__":
    unittest.main()
