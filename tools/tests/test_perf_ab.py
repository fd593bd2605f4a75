"""Summary maths of tools/perf_ab.py on canned perfbench result lines.

    python3 -m unittest discover -s tools/tests -v
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import perf_ab  # noqa: E402

SPEC = {
    "end_to_end": [{"name": "items_per_s", "unit": "1/s", "better": "higher"},
                   {"name": "cpu_s", "unit": "s", "better": "lower"}],
    "per_layer": [{"name": "io.write_vdf_s", "unit": "s", "better": "lower"}],
}


def line(items, cpu, correct=True, failed=0):
    """A perfbench contract line as run.py prints it."""
    return json.dumps({"correct": correct, "attempted": 100, "failed": failed,
                       "metrics": {"items_per_s": {"value": items, "unit": "1/s"},
                                   "cpu_s": {"value": cpu, "unit": "s"}}})


def stdout(items, cpu, **kw):
    return ("[perfbench] migrate seed=1: rows=8000 failed_ratio=0\n"
            + line(items, cpu, **kw) + "\n")


def runs_of(pairs):
    """[(parent (items, cpu), change (items, cpu)), ...] -> runs, in the
    alternating order the tool runs them."""
    runs = []
    for i, (p, c) in enumerate(pairs):
        for side in perf_ab.order(i):
            items, cpu = p if side == "parent" else c
            runs.append({"pair": i, "seed": 100 + i, "side": side,
                         "result": perf_ab.parse_result(stdout(items, cpu))})
    return runs


# curate items_per_s and cpu_s of docs/artifacts/curate_text_kernels_ab.txt
PARENT = [(4726, 4.045), (5456, 3.540), (5607, 3.350), (4906, 4.215),
          (4185, 4.245), (4714, 4.095), (4789, 4.325), (4658, 4.350),
          (4575, 4.245), (4855, 3.785), (4813, 3.890), (4658, 4.025)]
CHANGE = [(6349, 3.185), (6316, 3.165), (7051, 2.885), (5874, 3.440),
          (6057, 3.080), (6455, 3.070), (6078, 3.405), (6848, 3.050),
          (6197, 3.150), (6290, 3.130), (7408, 2.615), (6327, 2.915)]


class PerfAbTest(unittest.TestCase):

    def test_seeds_and_alternation(self):
        self.assertEqual(perf_ab.parse_seeds("1101-1104"), [1101, 1102, 1103, 1104])
        self.assertEqual(perf_ab.parse_seeds("5,7-8"), [5, 7, 8])
        self.assertEqual([perf_ab.order(i)[0] for i in range(4)],
                         ["parent", "change", "parent", "change"])
        self.assertEqual(perf_ab.seed_text([5, 6, 7]), "5-7")
        self.assertEqual(perf_ab.seed_text([5, 7]), "5,7")

    def test_parse_result_takes_the_last_json_line(self):
        res = perf_ab.parse_result(stdout(7000, 3.5) + "\n")
        self.assertEqual(res["metrics"], {"items_per_s": 7000, "cpu_s": 3.5})
        self.assertTrue(res["correct"])
        self.assertIsNone(perf_ab.parse_result("Traceback ...\nError\n"))
        self.assertIsNone(perf_ab.parse_result("{not json\n"))

    def test_summary_reproduces_a_committed_artifact(self):
        runs = runs_of(list(zip(PARENT, CHANGE)))
        s = perf_ab.summarize(runs, "items_per_s", "higher")
        self.assertEqual((s["pairs"], s["wins"]), (12, 12))
        q1, med, q3 = s["parent"]
        self.assertAlmostEqual(med, 4757.5)
        self.assertAlmostEqual(q1, 4658)
        self.assertAlmostEqual(q3, 4867.75)
        self.assertAlmostEqual(s["iqr"], 209.75)
        self.assertAlmostEqual(s["change"][1], 6321.5)
        self.assertAlmostEqual(s["gain"], 6321.5 - 4757.5)
        self.assertEqual(f"{s['delta'] * 100:+.1f}", "+32.9")
        c = perf_ab.summarize(runs, "cpu_s", "lower")
        self.assertEqual(c["wins"], 12)
        self.assertEqual([perf_ab.fmt(v) for v in c["parent"]],
                         ["3.864", "4.07", "4.245"])
        self.assertAlmostEqual(c["gain"], 4.07 - 3.105)
        line = perf_ab.summary_line("items_per_s", s)
        self.assertIn("parent med 4758 [q1 4658 q3 4868]", line)
        self.assertIn("change wins 12/12  parentIQR 209.8", line)

    def test_verdict_needs_nine_of_ten_wins_and_a_gain_over_the_iqr(self):
        def verdict(pairs):
            runs = runs_of(pairs)
            return perf_ab.verdict(
                perf_ab.summarize(runs, "items_per_s", "higher"), runs)[0]
        base = [((100 + i, 1.0), (200 + i, 1.0)) for i in range(10)]
        self.assertTrue(verdict(base))
        one_loss = [((300, 1.0), (200, 1.0))] + base[1:]
        self.assertTrue(verdict(one_loss))  # 9/10
        two_losses = [((300, 1.0), (200, 1.0))] * 2 + base[2:]
        self.assertFalse(verdict(two_losses))  # 8/10
        # 10/10 wins by 1, against a parent IQR of 4.5: no claim
        small = [((100 + i, 1.0), (101 + i, 1.0)) for i in range(10)]
        self.assertFalse(verdict(small))
        # a tie is not a win
        ties = [((100, 1.0), (100, 1.0))] * 10
        self.assertFalse(verdict(ties))

    def test_flagged_runs_are_kept_and_fail_the_claim(self):
        runs = runs_of([((100 + i, 1.0), (200 + i, 1.0)) for i in range(10)])
        bad = next(r for r in runs if r["pair"] == 3 and r["side"] == "change")
        bad["result"] = perf_ab.parse_result(stdout(260, 1.0, failed=2))
        crashed = next(r for r in runs if r["pair"] == 5 and r["side"] == "parent")
        crashed.update(result=None, error="exit 1: boom")
        s = perf_ab.summarize(runs, "items_per_s", "higher")
        # the crashed run has no value, so its pair is no win; the failed
        # run still counts its measured value
        self.assertEqual((s["pairs"], s["wins"]), (10, 9))
        self.assertEqual(len([r for r in runs if r["result"]]), 19)
        met, text = perf_ab.verdict(s, runs)
        self.assertFalse(met)
        self.assertIn("flagged runs 2", text)
        lines = perf_ab.section("migrate", list(range(100, 110)), runs, SPEC,
                                claim="items_per_s")
        self.assertIn("flagged: 2 of 20 runs; pair 3 change: failed=2/100; "
                      "pair 5 parent: no result: exit 1: boom", lines)
        table = lines[lines.index(next(x for x in lines if x.startswith("pair seed"))) + 1:]
        self.assertEqual(len(table), 20)
        self.assertEqual(sum("FLAGGED" in x for x in table), 2)
        self.assertTrue(any(x.startswith("claim items_per_s:") and
                            x.endswith("NOT MET") for x in lines))

    def test_fmt(self):
        self.assertEqual([perf_ab.fmt(v) for v in (10250.4, 9127.2, 0.87654, 2.0)],
                         ["10250", "9127", "0.8765", "2"])

    def test_incorrect_run_is_flagged(self):
        run = {"result": perf_ab.parse_result(stdout(1, 1, correct=False))}
        self.assertEqual(perf_ab.flag(run), "incorrect")
        self.assertEqual(perf_ab.flag({"result": perf_ab.parse_result(
            stdout(1, 1))}), "")

    def test_trace_section_lists_each_layer_per_pair(self):
        runs = []
        for i in range(2):
            for side, v in (("parent", 0.33), ("change", 0.25)):
                runs.append({"pair": i, "seed": 7 + i, "side": side, "result": {
                    "correct": True, "failed": 0,
                    "metrics": {"io.write_vdf_s": v + i}}})
        lines = perf_ab.trace_section("migrate", [7, 8], runs, SPEC)
        row = next(x for x in lines if x.startswith("io.write_vdf_s"))
        self.assertIn("0.33 -> 0.25", row)
        self.assertIn("1.33 -> 1.25", row)
        self.assertTrue(row.endswith(" s"))


if __name__ == "__main__":
    unittest.main()
