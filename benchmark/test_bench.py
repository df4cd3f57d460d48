"""Tests of the benchmark's own code (generator and checker).

    python3 -m unittest discover -s benchmark -p 'test_*.py'
"""

import filecmp
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402


def _tmpdir():
    os.makedirs(build.BUILD, exist_ok=True)
    return tempfile.mkdtemp(prefix="test-", dir=build.BUILD)


def _write_ops(results, rows):
    os.makedirs(os.path.join(results, "out"), exist_ok=True)
    with open(os.path.join(results, "ops.tsv"), "w") as f:
        f.write("".join("\t".join(r) + "\n" for r in rows))


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = _tmpdir()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_gives_same_inputs(self):
        for w in gen.WORKLOADS:
            a, b, c = (os.path.join(self.tmp, w + x) for x in ("a", "b", "c"))
            gen.generate(w, 5, a)
            gen.generate(w, 5, b)
            gen.generate(w, 6, c)
            files = sorted(os.listdir(a))
            match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)
            parquet = [f for f in files if f.endswith(".parquet")]
            _, differ, _ = filecmp.cmpfiles(a, c, parquet, shallow=False)
            self.assertEqual(differ, parquet, w)


class CheckerTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = _tmpdir()
        cls.data = {}
        for w in gen.WORKLOADS:
            d = os.path.join(cls.tmp, w)
            gen.generate(w, 3, d)
            check.write_expectations(w, d)
            cls.data[w] = d

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def spec_rows(self, flip=None):
        rows = []
        for ln in check.read_lines(os.path.join(self.data["spec"], "expect", "checks.tsv")):
            name, _, _, expect = ln.split("\t")[:4]
            outcome = (expect == "1") != (name == flip)
            rows.append(("0", name, "ok", "true" if outcome else "false"))
        return rows

    def test_every_bracket_has_one_passing_and_one_failing_side(self):
        rows = self.spec_rows()
        self.assertTrue(rows)
        sides = {}
        for _, name, _, outcome in rows:
            sides.setdefault(name.rsplit(".", 1)[0], set()).add(outcome)
        self.assertTrue(all(s == {"true", "false"} for s in sides.values()))

    def test_spec_checker_flags_a_flipped_outcome(self):
        results = os.path.join(self.tmp, "spec-results")
        _write_ops(results, self.spec_rows())
        attempted, failed, wrong, _ = check.verify("spec", self.data["spec"], results)
        self.assertEqual((failed, wrong), (0, 0))
        self.assertGreater(attempted, 0)
        flipped = self.spec_rows()[0][1]
        _write_ops(results, self.spec_rows(flip=flipped))
        self.assertEqual(check.verify("spec", self.data["spec"], results)[1:3], (1, 1))

    def test_a_throwing_operation_fails_without_being_wrong(self):
        results = os.path.join(self.tmp, "spec-error")
        rows = self.spec_rows()
        rows[0] = rows[0][:2] + ("error", "IllegalStateException")
        _write_ops(results, rows)
        self.assertEqual(check.verify("spec", self.data["spec"], results)[1:3], (1, 0))

    def test_curate_checker_flags_a_changed_stage_output(self):
        d = self.data["curate"]
        results = os.path.join(self.tmp, "curate-results")
        _write_ops(results, [("0", s, "ok", s) for s in check.STAGES])
        for s in check.STAGES:
            shutil.copy(os.path.join(d, "expect", s + ".txt"), os.path.join(results, "out"))
        self.assertEqual(check.verify("curate", d, results)[1:3], (0, 0))
        comp = os.path.join(results, "out", "components.txt")
        lines = check.read_lines(comp)
        ident = lines[-1].split(" ")[0]
        lines[-1] = "%s %s" % (ident, ident)  # a member relabelled as its own component
        with open(comp, "w") as f:
            f.write("\n".join(lines) + "\n")
        self.assertEqual(check.verify("curate", d, results)[1:3], (1, 1))

    def test_minhash_jaccard_may_differ_in_the_last_digit_only(self):
        e = ["1 2 0.912345"]
        self.assertTrue(check.stage_matches("minhash", e, ["1 2 0.912346"]))
        self.assertFalse(check.stage_matches("minhash", e, ["1 2 0.912400"]))
        self.assertFalse(check.stage_matches("minhash", e, ["1 3 0.912345"]))


class SemanticsTest(unittest.TestCase):
    def test_normalize_matches_the_byte_scan_definition(self):
        self.assertEqual(check.normalize("  Hello, World!! 42x "), "hello world 42x")
        self.assertEqual(check.tokens(""), [""])

    def test_span_removal_keeps_first_occurrence_only(self):
        shared = " ".join("w%d" % i for i in range(8))
        docs = [(1, "a b " + shared), (2, shared + " c d")]
        out = check.span_removal(docs)
        self.assertEqual(out[1], "a b " + shared)
        self.assertEqual(out[2], "c d")

    def test_interval_sweep_counts_a_gap_but_not_an_overlap(self):
        import numpy as np
        keys = np.array([0, 0, 1, 1, 2, 2])
        starts = np.array([0, 12, 0, 8, 0, 10])
        ends = np.array([10, 20, 10, 20, 10, 20])
        self.assertEqual(check._interval_gaps(keys, starts, ends), (1, 3))


if __name__ == "__main__":
    unittest.main()
