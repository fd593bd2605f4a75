"""tools/dump_diff.py on tiny Verify-shaped dumps built with pyarrow.

    python3 -m unittest discover -s tools/tests -v
"""
import contextlib
import io
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import dump_diff  # noqa: E402

SCHEMA = pa.schema([pa.field("id", pa.int64(), nullable=False),
                    pa.field("score", pa.float64())])


def table(rows, schema=SCHEMA):
    return pa.Table.from_pylist([{"id": i, "score": s} for i, s in rows],
                                schema=schema)


class DumpDiffTest(unittest.TestCase):

    def setUp(self):
        self._tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self._tmp.cleanup)

    def dump(self, name, queries):
        """A dump dir with one subdir per query, one part file per table."""
        root = os.path.join(self._tmp.name, name)
        for q, parts in queries.items():
            os.makedirs(os.path.join(root, q))
            for i, t in enumerate(parts):
                pq.write_table(t, os.path.join(root, q, f"part-{i:05d}.parquet"))
            # a Spark marker file, which is not a part
            open(os.path.join(root, q, "_SUCCESS"), "w").close()
        return root

    def run_main(self, *args):
        """(exit code, stdout + stderr) of dump_diff's main."""
        out = io.StringIO()
        with contextlib.redirect_stdout(out), contextlib.redirect_stderr(out):
            rc = dump_diff.main(["dump_diff.py", *args])
        return rc, out.getvalue()

    def test_identical_dumps_match(self):
        q = {"q_a": [table([(1, 0.5), (2, 1.5)])], "q_b": [table([(3, None)])]}
        rc, out = self.run_main(self.dump("a", q), self.dump("b", q))
        self.assertEqual(rc, 0, out)
        self.assertIn("2 common queries, 0 difference(s)", out)

    def test_same_rows_in_other_part_files_match(self):
        a = self.dump("a", {"q": [table([(1, 0.5), (2, 1.5), (3, 2.5)])]})
        b = self.dump("b", {"q": [table([(1, 0.5)]), table([(2, 1.5), (3, 2.5)])]})
        rc, out = self.run_main(a, b)
        self.assertEqual(rc, 0, out)

    def test_swapped_row_order_differs(self):
        a = self.dump("a", {"q": [table([(1, 0.5), (2, 1.5)])]})
        b = self.dump("b", {"q": [table([(2, 1.5), (1, 0.5)])]})
        rc, out = self.run_main(a, b)
        self.assertEqual(rc, 1)
        self.assertIn("q: row 0 differs", out)

    def test_nullability_only_schema_change_differs(self):
        loose = pa.schema([pa.field("id", pa.int64()), pa.field("score", pa.float64())])
        a = self.dump("a", {"q": [table([(1, 0.5)])]})
        b = self.dump("b", {"q": [table([(1, 0.5)], loose)]})
        rc, out = self.run_main(a, b)
        self.assertEqual(rc, 1)
        self.assertIn("q: schema differs", out)

    def test_nan_equals_nan(self):
        q = {"q": [table([(1, float("nan")), (2, 1.0)])]}
        rc, out = self.run_main(self.dump("a", q), self.dump("b", q))
        self.assertEqual(rc, 0, out)

    def test_query_on_one_side_only_differs(self):
        a = self.dump("a", {"q": [table([(1, 0.5)])], "q_extra": [table([(2, 0.5)])]})
        b = self.dump("b", {"q": [table([(1, 0.5)])]})
        rc, out = self.run_main(a, b)
        self.assertEqual(rc, 1)
        self.assertIn("only in A: q_extra", out)

    def test_bad_arguments_are_a_usage_error(self):
        a = self.dump("a", {"q": [table([(1, 0.5)])]})
        self.assertEqual(self.run_main(a)[0], 2)
        self.assertEqual(self.run_main(a, os.path.join(self._tmp.name, "missing"))[0], 2)


if __name__ == "__main__":
    unittest.main()
