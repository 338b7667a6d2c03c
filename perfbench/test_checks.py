#!/usr/bin/env python3
"""Self-test of the benchmark's output checks.

    python3 perfbench/test_checks.py        (from the checkout root)

Runs each workload briefly with its expected outputs tampered with (a
corrupted column checksum for xlsx_foreign, corrupted face fingerprints for
query_mix) and asserts the result reports every timed op as failed and
`correct` as false; then once untampered, which must pass.
"""
import json
import os
import subprocess
import sys
import unittest

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run(workload, *extra):
    out = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "7",
                          "--seconds", "1", "--trace", "0", *extra],
                         stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


class CorruptedExpectationsFail(unittest.TestCase):
    def assert_all_failed(self, r):
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertEqual(r["failed"], r["attempted"])

    def test_xlsx_foreign_checksum(self):
        self.assert_all_failed(run("xlsx_foreign", "--corrupt-expected"))

    def test_query_mix_fingerprint(self):
        self.assert_all_failed(run("query_mix", "--corrupt-expected"))

    def test_untampered_passes(self):
        r = run("xlsx_foreign")
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)


if __name__ == "__main__":
    unittest.main()
