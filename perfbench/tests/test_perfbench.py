"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

The generator and checker tests take seconds.  The planted-fault tests
run the migrate workload end to end (building the program on first
use) and take about a minute each.
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402


def digest_dir(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        h.update(f.encode())
        with open(os.path.join(d, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    CASES = {
        "migrate": lambda d, s: gen.gen_migrate(d, s, rows=500, dims=16),
        "curate": lambda d, s: gen.gen_curate(d, s, docs=2000, vocab=500),
    }

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for name, fn in self.CASES.items():
            with self.subTest(workload=name), tempfile.TemporaryDirectory() as t:
                a, b, c = (os.path.join(t, x) for x in "abc")
                fn(a, 7)
                fn(b, 7)
                fn(c, 8)
                self.assertEqual(digest_dir(a), digest_dir(b))
                self.assertNotEqual(digest_dir(a), digest_dir(c))

    def test_curate_corpus_shape(self):
        with tempfile.TemporaryDirectory() as t:
            gen.gen_curate(t, 3, docs=4000, vocab=1000)
            con = oracle.connect(t)
            n, distinct, srcs = con.sql(
                "SELECT count(*), count(DISTINCT lower(trim(text))), "
                "count(DISTINCT source) FROM documents").fetchone()
            self.assertEqual(n, 4000)
            self.assertLess(distinct, 0.85 * n)      # exact duplicates
            self.assertEqual(srcs, gen.CURATE_SOURCES)


class OracleCheckTest(unittest.TestCase):
    def test_wrong_value_and_wrong_rowcount_are_caught(self):
        with tempfile.TemporaryDirectory() as t:
            data, dump = gen.BOARD_DATA, os.path.join(t, "dump")
            sql = "SELECT r_regionkey, r_name FROM region"
            os.makedirs(dump)
            with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
                json.dump({"q_ok": sql, "q_value": sql, "q_rows": sql}, f)
            con = oracle.connect(data)
            for q, body in [("q_ok", sql),
                            ("q_value", "SELECT r_regionkey, CASE WHEN "
                             "r_regionkey = 2 THEN 'X' ELSE r_name END AS r_name "
                             "FROM region"),
                            ("q_rows", sql + " WHERE r_regionkey > 0")]:
                os.makedirs(os.path.join(dump, q))
                con.sql(f"COPY ({body}) TO '{dump}/{q}/part.parquet' "
                        "(FORMAT parquet)")
            got = oracle.compare(dump, data, os.path.join(t, "cache"))
            self.assertIsNone(got["q_ok"])
            self.assertIn("row 2", got["q_value"])
            self.assertIn("rowcount", got["q_rows"])


@unittest.skipUnless(os.path.isdir(os.path.join(ROOT, "src", "main", "scala")),
                     "needs the program sources")
class PlantedFaultTest(unittest.TestCase):
    """A wrong row at the migrate target, or a fault probe that reads 0,
    must show in `failed`."""

    def run_planted(self, plant, trace=0):
        out = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
             "migrate", "--seed", "5", "--seconds", "1", "--trace",
             str(trace), "--plant", plant], cwd=ROOT, capture_output=True,
            text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_altered_vector_at_target(self):
        r = self.run_planted("row")
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 1)

    def test_flipped_digest(self):
        r = self.run_planted("digest")
        self.assertFalse(r["correct"])
        self.assertGreater(r["failed"], 0)

    def test_fault_probe_reading_zero(self):
        r = self.run_planted("probe", trace=1)
        self.assertEqual(r["metrics"]["connectors.fault_shrinks"]["value"], 0)
        self.assertEqual(r["metrics"]["wire.h2_dials"]["value"], 1)
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 1)


if __name__ == "__main__":
    unittest.main()
