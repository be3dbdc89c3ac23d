"""The generator is a pure function of the seed.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import glob
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import gen  # noqa: E402


def files(d):
    return sorted(os.path.relpath(p, d) for p in glob.glob(f"{d}/**/*", recursive=True)
                  if os.path.isfile(p))


class GenTest(unittest.TestCase):
    def check(self, workload, probes=False):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (f"{t}/{x}" for x in "abc")
            gen.generate(a, workload, 7, probes=probes)
            gen.generate(b, workload, 7, probes=probes)
            gen.generate(c, workload, 8, probes=probes)
            names = files(a)
            self.assertTrue(any(n.endswith(".parquet") for n in names))
            self.assertEqual(names, files(b))
            for n in names:
                self.assertTrue(filecmp.cmp(f"{a}/{n}", f"{b}/{n}", shallow=False),
                                f"{workload}: {n} differs for the same seed")
            parquet = [n for n in names if n.endswith(".parquet")]
            self.assertTrue(all(not filecmp.cmp(f"{a}/{n}", f"{c}/{n}", shallow=False)
                                for n in parquet if "region" not in n
                                and "nation" not in n),
                            f"{workload}: another seed gave the same inputs")

    def test_alert_tick(self):
        self.check("alert_tick", probes=True)

    def test_stream_ingest(self):
        self.check("stream_ingest")


if __name__ == "__main__":
    unittest.main()
