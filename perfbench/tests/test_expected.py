"""The recorded expected outputs: rerun every entry of both mixes and
the streaming leg in a JVM, cross-check the oracle-checked ones against
DuckDB running SparkEntry.oracleSql, and compare rows and hashes with
expected.json. Builds graft on first use; takes about two minutes."""

import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402


@unittest.skipUnless(os.environ.get("SPARK_HOME"), "needs SPARK_HOME")
class ExpectedTest(unittest.TestCase):
    def test_recorded_hashes_hold_and_agree_with_duckdb(self):
        res, oracle_bad = run.record_entries(os.path.dirname(HERE))
        self.assertEqual(oracle_bad, [])
        with open(os.path.join(HERE, "expected.json")) as fh:
            import json
            want = json.load(fh)["entries"]
        self.assertEqual(sorted(res["entries"]), sorted(want))
        for name, got in res["entries"].items():
            self.assertEqual((got["rows"], got["hash"]),
                             (want[name]["rows"], want[name]["hash"]), name)
        self.assertEqual(sorted(res["oracle_sql"]),
                         sorted(k for k, v in want.items() if v["oracle"]))


if __name__ == "__main__":
    unittest.main()
