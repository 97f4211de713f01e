"""Seed determinism of the benchmark inputs.

Run from the root of a checkout: python3 -m unittest perfbench/test_gen.py
"""
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from run import dir_digest  # noqa: E402

WORK = os.path.join(HERE, "work", f"test-gen-{os.getpid()}")


class SeedDeterminismTest(unittest.TestCase):
    def tearDown(self):
        shutil.rmtree(WORK, ignore_errors=True)

    def _bytes(self, workload, seed, tag):
        d = os.path.join(WORK, f"{workload}-{seed}-{tag}")
        gen.write_inputs(workload, seed, d)
        return dir_digest(d)

    def test_same_seed_same_bytes(self):
        for w in ("dashboard", "corpus_build"):
            self.assertEqual(self._bytes(w, 7, "a"), self._bytes(w, 7, "b"), w)

    def test_different_seed_different_bytes(self):
        for w in ("dashboard", "corpus_build"):
            self.assertNotEqual(self._bytes(w, 7, "a"), self._bytes(w, 8, "a"), w)

    def test_request_sequence(self):
        self.assertEqual(gen.dashboard_requests(3), gen.dashboard_requests(3))
        self.assertNotEqual(gen.dashboard_requests(3), gen.dashboard_requests(4))

    def test_every_round_holds_each_kind_once(self):
        reqs = gen.dashboard_requests(5)
        for rd in range(gen.DASH_ROUNDS):
            kinds = sorted(k for r, k, _ in reqs if r == rd)
            self.assertEqual(kinds, sorted(gen.DASH_KINDS))

    def test_copies_share_no_text(self):
        docs = gen.corpus_tables(9)["documents"].to_pydict()
        by_copy = {}
        for i, t in zip(docs["doc_id"], docs["text"]):
            by_copy.setdefault(i // gen.COPY_OFFSET, set()).add(t)
        self.assertEqual(len(by_copy), gen.CORPUS_MULT)
        self.assertFalse(set.intersection(*by_copy.values()))


if __name__ == "__main__":
    unittest.main()
