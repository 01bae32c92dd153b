"""Tests of the benchmark's own helpers.

    python3 perfbench/test_bench.py

The span arithmetic and the host-speed scaling are tested here; the
fingerprint, call-order and request-mix checks run in the JVM
(graftbench.SelfTest), which this builds first.
"""
import os
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import report  # noqa: E402
from stats import Windows, covered, geomean, median, self_time  # noqa: E402


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_covered_children(self):
        self.assertEqual(self_time(0, 100, [(10, 20), (50, 70)]), 70)

    def test_overlapping_children_count_once(self):
        self.assertEqual(self_time(0, 100, [(10, 40), (30, 60), (35, 50)]), 50)

    def test_children_are_clipped_to_the_parent(self):
        self.assertEqual(covered(10, 20, [(0, 15), (18, 30)]), 7)
        self.assertEqual(self_time(10, 20, [(30, 40)]), 10)

    def test_windows_find_the_containing_span(self):
        spans = [{"start_ns": 10, "end_ns": 20, "n": "b"},
                 {"start_ns": 0, "end_ns": 5, "n": "a"}]
        w = Windows(spans)
        self.assertEqual(w.find(3)["n"], "a")
        self.assertEqual(w.find(20)["n"], "b")
        self.assertIsNone(w.find(7))
        self.assertIsNone(w.find(25))

    def test_medians_and_geomean(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertAlmostEqual(geomean([0.1, 10.0]), 1.0)


class HostScaleTest(unittest.TestCase):
    @staticmethod
    def raw(kernel_ms):
        spans, t = [], 0
        for name, build_s, action_s in (("a", 1.0, 1.0), ("b", 0.5, 0.5), ("a", 2.0, 2.0)):
            for kind, secs in (("build", build_s), ("action", action_s)):
                spans.append({"kind": kind, "name": name, "cls": "core", "pass": "timed",
                              "start_ns": t, "end_ns": t + int(secs * 1e9),
                              "run_ticks": 90, "steal_ticks": 10})
                t += int(secs * 1e9)
        return {"workload": "battery", "spans": spans, "session_s": 1.0, "ctx_s": [9.0, 2.0, 3.0],
                "warm_s": 4.0, "input_bytes": 100, "written_bytes": 400,
                "speed": [{"pass": "timed", "ns": int(ms * 1e6)} for ms in kernel_ms]}

    def test_times_scale_by_the_median_kernel_time(self):
        ref = report.KERNEL_REF_MS
        m = report.end_to_end(self.raw([ref, 2 * ref, 2 * ref, 50 * ref]))
        # entry medians: a = (2 + 4) / 2 = 3 s, b = 1 s; the host ran at half speed
        self.assertAlmostEqual(m["run_s"][0], (3.0 + 1.0) / 2)
        self.assertAlmostEqual(m["geomean_s"][0], 3.0 ** 0.5 / 2)
        self.assertAlmostEqual(m["setup_s"][0], (1.0 + 3.0 + 4.0) / 2)
        self.assertAlmostEqual(m["space_amp"][0], 4.0)

    def test_steal_share(self):
        self.assertAlmostEqual(report.steal_share(self.raw([1.0])), 0.1)


class JvmHelpersTest(unittest.TestCase):
    def test_selftest(self):
        jar = build.compile_jar()
        d = build.OUT / f"selftest-{os.getpid()}"
        (d / "tmp").mkdir(parents=True)
        try:
            r = subprocess.run(["java", *build.java_opts(d, jar), "-cp", build.classpath(jar),
                                "graftbench.SelfTest", str(d)], capture_output=True, text=True)
        finally:
            shutil.rmtree(d, ignore_errors=True)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)


if __name__ == "__main__":
    unittest.main()
