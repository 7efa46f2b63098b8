"""Tests for diff_verify.py: python3 -m unittest discover -s tools -p 'test_*.py'"""
import contextlib
import io
import os
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import diff_verify


class DiffVerifyTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def dump(self, name, gates):
        root = os.path.join(self.tmp.name, name)
        for gate, table in gates.items():
            os.makedirs(os.path.join(root, gate))
            pq.write_table(table, os.path.join(root, gate, "part-0.parquet"))
            open(os.path.join(root, gate, "_SUCCESS"), "w").close()
        return root

    def run_main(self, *argv):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            code = diff_verify.main(list(argv))
        return code, out.getvalue()

    def test_row_order_is_ignored(self):
        a = self.dump("a", {"q": pa.table({"x": [1, 2, 3]})})
        b = self.dump("b", {"q": pa.table({"x": [3, 1, 2]})})
        code, out = self.run_main(a, b)
        self.assertEqual(code, 0)
        self.assertIn("1 identical / 0 differ", out)

    def test_value_schema_and_missing_gate_differences(self):
        a = self.dump("a", {"v": pa.table({"x": [1, 2]}),
                            "s": pa.table({"x": [1]}),
                            "m": pa.table({"x": [1]})})
        b = self.dump("b", {"v": pa.table({"x": [1, 3]}),
                            "s": pa.table({"x": pa.array([1], pa.int32())})})
        code, out = self.run_main(a, b)
        self.assertEqual(code, 1)
        self.assertIn("DIFF v: rows differ", out)
        self.assertIn("DIFF s: schema differs", out)
        self.assertIn("DIFF m: missing in", out)

    def test_noise_run_excludes_nondeterministic_gates(self):
        a = self.dump("a", {"r": pa.table({"x": [0.1]}), "q": pa.table({"x": [1]})})
        a2 = self.dump("a2", {"r": pa.table({"x": [0.7]}), "q": pa.table({"x": [1]})})
        b = self.dump("b", {"r": pa.table({"x": [0.4]}), "q": pa.table({"x": [1]})})
        code, out = self.run_main(a, b, "--noise", a2)
        self.assertEqual(code, 0)
        self.assertIn("excluded", out)
        self.assertIn(": r", out)


if __name__ == "__main__":
    unittest.main()
