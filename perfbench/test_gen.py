#!/usr/bin/env python3
"""Generator determinism: ``python3 perfbench/test_gen.py``."""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
from run import tree_hash  # noqa: E402

ARGS = dict(sf=0.001, ticks=4, logs_per_tick=50, orders_per_tick=10)


class GenTest(unittest.TestCase):

    def test_same_seed_gives_identical_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(f"{d}/a", 11, **ARGS)
            gen.generate(f"{d}/b", 11, **ARGS)
            self.assertEqual(tree_hash(f"{d}/a"), tree_hash(f"{d}/b"))

    def test_other_seed_gives_other_inputs(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(f"{d}/a", 11, **ARGS)
            gen.generate(f"{d}/b", 12, **ARGS)
            self.assertNotEqual(tree_hash(f"{d}/a"), tree_hash(f"{d}/b"))

    def test_malformed_and_due_ticks_are_recorded(self):
        with tempfile.TemporaryDirectory() as d:
            meta = gen.generate(f"{d}/a", 11, **ARGS)
            lines = []
            for k in ("log", "cdc"):
                for t in range(1, ARGS["ticks"] + 1):
                    with open(f"{d}/a/env/{k}/t{t:05d}.json") as f:
                        lines += f.read().splitlines()
            self.assertEqual(meta["log_envelopes"] + meta["cdc_envelopes"],
                             len(lines))
            with open(f"{d}/a/expect/ow_due.tsv") as f:
                ticks = [int(x.split("\t")[1]) for x in f]
            self.assertTrue(all(0 <= t <= ARGS["ticks"] for t in ticks))


if __name__ == "__main__":
    unittest.main()
