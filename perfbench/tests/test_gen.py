"""Same seed, same inputs; another seed, other inputs."""

import hashlib
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import run  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GenTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def staged(self, name, seed):
        d = os.path.join(self.tmp, name)
        os.makedirs(d)
        run.stage_ingest(d, seed, 4)
        return tree_digest(d)

    def test_landing_files_follow_the_seed(self):
        self.assertEqual(self.staged("a", 7), self.staged("b", 7))
        self.assertNotEqual(self.staged("c", 7), self.staged("d", 8))

    def test_op_order_follows_the_seed(self):
        self.assertEqual(gen.op_orders(7, 23, 5), gen.op_orders(7, 23, 5))
        self.assertNotEqual(gen.op_orders(7, 23, 5), gen.op_orders(8, 23, 5))
        for order in gen.op_orders(7, 23, 5):
            self.assertEqual(sorted(order), list(range(23)))

    def test_base_tables_are_fixed(self):
        a, b = os.path.join(self.tmp, "ta"), os.path.join(self.tmp, "tb")
        gen.write_tables(a)
        gen.write_tables(b)
        self.assertEqual(tree_digest(a), tree_digest(b))

    def test_tally_counts_planted_lines(self):
        plan = gen.IngestPlan(3, events_per_batch=500, files_per_batch=2)
        files, counts = plan.next_batch()
        lines = [l for f in files for l in f.splitlines()]
        self.assertEqual(len(lines), counts["valid"] + counts["redelivered"]
                         + counts["malformed"])
        self.assertEqual(counts, {"valid": 500, "redelivered": 10, "malformed": 5})
        self.assertEqual(sum(c for _, c in plan.tally.values()), 500)


if __name__ == "__main__":
    unittest.main()
