"""Every KDC parse front-end against the generator's tallies.

Builds the program (as run.py does), generates a small fleet, a bzip2
archive and a flat directory of plain logs, runs each batch front-end
(`KdcSource.records`, `KdcSource.recordsAligned`, `format("kdclog")`),
each `KdcMain` path and the streaming readers over them, and requires
every report to equal the tally. Takes about a minute.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import loggen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(run.BUILD, "tests-frontends")
SPEC = dict(users=60, services=15)


class FrontEndsTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        inputs = os.path.join(SCRATCH, "inputs")
        spec = loggen.Spec(**SPEC)
        cls.tallies = {
            "fleet": loggen.build_fleet(os.path.join(inputs, "fleet"), 11, hosts=2,
                                        days=3, sessions_per_file=150, spec=spec),
            "archive": loggen.build_archive(os.path.join(inputs, "archive"), 12, files=2,
                                            sessions_per_file=3000, spec=spec),
            "flat": loggen.build_archive(os.path.join(inputs, "flat"), 13, files=3,
                                         sessions_per_file=200, spec=spec, compress=False),
        }
        cls.tallies = {k: loggen.Tally.from_json(v["tally"]) for k, v in cls.tallies.items()}
        cls.run_dir = os.path.join(SCRATCH, "run")
        res = run.run_jvm(run.build(), cls.run_dir, workload="frontends", input=inputs,
                          seconds=0, trace=0)
        cls.failures = res["failures"]

    def got(self, inp, front, report):
        return run.read_lines(os.path.join(self.run_dir, "frontends", inp, front, report))

    def test_no_front_end_threw(self):
        self.assertEqual(self.failures, [])

    def test_batch_front_ends_equal_the_tallies(self):
        for inp in ("fleet", "archive"):
            want = self.tallies[inp].reports()
            for front in ("records", "aligned", "v2"):
                for report, lines in want.items():
                    with self.subTest(input=inp, front=front, report=report):
                        self.assertEqual(self.got(inp, front, report), lines)

    def test_cli_paths_equal_the_tallies(self):
        for inp in ("fleet", "archive"):
            want = self.tallies[inp].reports()
            for front in ("main", "main-aligned", "main-v2"):
                for report in ("user", "service", "errors", "user-enctypes",
                               "service-enctypes"):
                    with self.subTest(input=inp, front=front, report=report):
                        self.assertEqual(self.got(inp, front, report), want[report])

    def test_streaming_readers_equal_the_tallies(self):
        t = self.tallies["flat"]
        want = t.reports()
        self.assertEqual(self.got("flat", "stream-v2", "user"), want["user"])
        self.assertEqual(self.got("flat", "stream-v2", "service"), want["service"])
        self.assertEqual(self.got("flat", "stream-wholetext", "service"), want["service"])
        self.assertEqual(self.got("flat", "stream-lines", "user-days"), t.user_days_report())


if __name__ == "__main__":
    unittest.main()
