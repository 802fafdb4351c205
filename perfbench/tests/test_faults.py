"""Self-tests that run the benchmark end to end (JVM, a few minutes):
a planted failure must be counted, named on stderr and make the command
exit non-zero, and a directory without the engine must fail without
printing a result.

    python3 -m unittest discover -s perfbench/tests -p 'test_faults.py'
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def bench(*args, cwd=ROOT, root=ROOT):
    return subprocess.run([sys.executable, os.path.join(root, "perfbench", "run.py")] + list(args),
                          cwd=cwd, capture_output=True, text=True, timeout=900)


class InjectedFailures(unittest.TestCase):
    def test_wrong_planted_count_in_etl_fleet(self):
        r = bench("--workload", "etl_fleet", "--seed", "7", "--seconds", "1",
                  "--inject", "etl-count")
        self.assertEqual(r.returncode, 1, r.stderr[-2000:])
        self.assertIn("FAILED: etl pass 0 load: dupByDateStation", r.stderr)
        line = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(line["correct"])
        self.assertGreaterEqual(line["failed"], 1)
        self.assertIn("fail_ratio", r.stdout)

    def test_failing_request_in_ann_serving(self):
        r = bench("--workload", "ann_serving", "--seed", "7", "--seconds", "1",
                  "--inject", "ann-request")
        self.assertEqual(r.returncode, 1, r.stderr[-2000:])
        self.assertRegex(r.stderr, r"FAILED: request:\w+ 1 failed: ")
        line = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 1)
        self.assertGreater(line["attempted"], 3)


class BareDirectory(unittest.TestCase):
    def test_fails_without_result_when_only_the_benchmark_is_present(self):
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_out")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = bench("--workload", "etl_fleet", "--seed", "1", "--seconds", "1",
                      cwd=d, root=d)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
