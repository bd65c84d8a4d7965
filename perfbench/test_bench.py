#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test_bench.py

1. Seeded inputs: the same seed gives identical inputs (loan book and both
   mix sequences), a different seed gives different ones.
2. Output checks: a corrupted registry result and a corrupted etl_load
   table are both caught (runs the JVM self-test; builds first if needed).
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402
import run  # noqa: E402

POOLS = os.path.join(HERE, "pools.json")


def load_pools():
    with open(POOLS) as f:
        return json.load(f)


def tree_hash(d):
    h = hashlib.sha256()
    for n in sorted(os.listdir(d)):
        h.update(n.encode())
        with open(os.path.join(d, n), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class SeededInputs(unittest.TestCase):
    def setUp(self):
        self.tmp = os.path.join(run.build_dir(), "test")
        shutil.rmtree(self.tmp, ignore_errors=True)
        os.makedirs(self.tmp)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def book(self, name, seed):
        d = os.path.join(self.tmp, name)
        gen.main(["loanbook", d, "--seed", str(seed), "--sf", "0.002"])
        return tree_hash(d)

    def test_loan_book(self):
        self.assertEqual(self.book("a", 7), self.book("b", 7))
        self.assertNotEqual(self.book("a2", 7), self.book("c", 8))

    def test_sequences(self):
        pools = load_pools()
        a = gen.sequence(7, "query_mix", pools)
        self.assertEqual(a, gen.sequence(7, "query_mix", pools))
        self.assertNotEqual(a, gen.sequence(8, "query_mix", pools))
        pool = pools["query_mix"]
        self.assertEqual(set(a), set(pool["reads"]) | set(pool["writes"]))


class OutputChecks(unittest.TestCase):
    def test_corruption_is_caught(self):
        cp = run.build()
        out = run.build_dir()
        data, _ = run.inputs("query_mix", 0, os.path.join(out, "data"))
        tmp = os.path.join(out, "test-selftest")
        shutil.rmtree(tmp, ignore_errors=True)
        book = os.path.join(tmp, "book")
        gen.main(["loanbook", book, "--seed", "3", "--sf", "0.002"])
        query = load_pools()["query_mix"]["reads"][0]
        try:
            r = subprocess.run(
                ["java", *run.ADD_OPENS, f"-Xmx{run.HEAP}",
                 f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
                 "selftest", "--data", data, "--book", book,
                 "--work", os.path.join(tmp, "work"), "--query", query,
                 "--expected", os.path.join(HERE, "expected", "digests.json")],
                cwd=run.ROOT, capture_output=True, text=True, timeout=600)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        print(r.stdout)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-3000:])
        self.assertIn("[selftest] PASS", r.stdout)


if __name__ == "__main__":
    unittest.main()
