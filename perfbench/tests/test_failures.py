"""Self-test: a throwing op and a wrong-output op are both counted.

    python3 -m unittest discover -s perfbench/tests

Runs one real benchmark run (chain-adversarial, the smaller corpus) with
two injected faults: the first timed rep of similar_pairs throws, and
the first timed rep of near_dup_groups hashes a truncated output. Both
must be counted as failed, left out of every time metric (the later reps
that --seconds 30 allows still measure both queries), and make the
command exit non-zero while still printing its result line.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


class InjectedFailures(unittest.TestCase):
    def test_throw_and_wrong_output_are_counted(self):
        p = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", "chain-adversarial", "--seed", "5", "--seconds", "30", "--trace", "0",
             "--inject", "throw:similar_pairs,wrong:near_dup_groups"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
        self.assertNotEqual(p.returncode, 0, p.stderr[-2000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 2, p.stderr[-2000:])
        self.assertIn("similar_pairs rep 1: threw", p.stderr)
        self.assertIn("near_dup_groups rep 1: wrong", p.stderr)
        # the failed reps are left out: each time is a real, positive measurement
        for name, m in result["metrics"].items():
            self.assertGreater(m["value"], 0, name)


if __name__ == "__main__":
    unittest.main()
