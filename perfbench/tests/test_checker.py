"""Self-tests of the benchmark's answer checkers.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
(or `python3 perfbench/run.py --selftest`). The table test builds the
harness and starts one JVM, so it takes about a minute.
"""
import json
import os
import subprocess
import sys
import tempfile
import time
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


def query_ops(expected):
    return [{"kind": "query", "name": q, "ok": True, "err": None, "digest": d}
            for q, d in sorted(expected.items())]


class DigestCheck(unittest.TestCase):
    def setUp(self):
        self.expected = run.load_expected()

    def test_committed_digests_pass(self):
        ops = query_ops(self.expected)
        self.assertEqual(run.check_digests(ops, self.expected), [])
        self.assertTrue(all(op["ok"] for op in ops))

    def test_perturbed_hash_is_a_failure(self):
        ops = query_ops(self.expected)
        rows, sha = ops[3]["digest"].split(":")
        ops[3]["digest"] = f"{rows}:{sha[:-1]}{'0' if sha[-1] != '0' else '1'}"
        bad = run.check_digests(ops, self.expected)
        self.assertEqual(len(bad), 1)
        self.assertFalse(ops[3]["ok"])

    def test_perturbed_row_count_is_a_failure(self):
        ops = query_ops(self.expected)
        rows, sha = ops[0]["digest"].split(":")
        ops[0]["digest"] = f"{int(rows) + 1}:{sha}"
        self.assertEqual(len(run.check_digests(ops, self.expected)), 1)

    def test_query_without_expected_digest_is_a_failure(self):
        ops = query_ops(self.expected) + [
            {"kind": "query", "name": "q_not_in_sample", "ok": True, "err": None,
             "digest": "1:00"}]
        self.assertEqual(len(run.check_digests(ops, self.expected)), 1)


class TailPercentile(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_tail(self):
        v = [float(i) for i in range(100)]
        t, pct = run.tail(v)
        self.assertEqual(sum(1 for x in v if x > t), 10)
        self.assertAlmostEqual(pct, 90.0)


class TableReplayCheck(unittest.TestCase):
    def test_replay_that_skips_a_commit_is_flagged(self):
        """The JVM self-test checks a real table against a faithful replay
        of its commit log (must match) and against a replay that skips one
        commit (must be reported); it exits 0 only if both hold."""
        cp = run.build()
        with tempfile.TemporaryDirectory(dir=run.build_dir()) as work:
            os.makedirs(os.path.join(work, "tmp"))
            out = os.path.join(work, "selftest.json")
            cmd = run.java_command(cp, "selftest", 7, 0, [], 1, work, out)
            r = subprocess.run(cmd, cwd=work, capture_output=True, text=True, timeout=300)
            self.assertTrue(os.path.isfile(out), r.stdout[-2000:])
            with open(out) as f:
                failures = json.load(f)["failures"]
            self.assertEqual(failures, [])
            self.assertEqual(r.returncode, 0)
            self.assertIn("versions flagged", r.stdout)


if __name__ == "__main__":
    unittest.main()
