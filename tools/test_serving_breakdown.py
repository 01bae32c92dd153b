"""Tests of tools/serving_breakdown.py on a synthetic raw record.

    python3 tools/test_serving_breakdown.py
"""
import json
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import serving_breakdown as sb  # noqa: E402

MS = 1_000_000  # ns per ms


def span(name, pass_name, start_ms, end_ms):
    return {"kind": "request", "name": name, "cls": "read", "pass": pass_name,
            "start_ns": start_ms * MS, "end_ns": end_ms * MS}


def record():
    """Two passes of three requests: `timed` untraced, `trace1` with
    jobs and queries, one job and one query outside every request."""
    spans = [span("point", "timed", 0, 100), span("doc_get", "timed", 100, 300),
             span("point", "timed", 300, 500),
             span("point", "trace1", 1000, 1100), span("doc_get", "trace1", 1200, 1500),
             span("point", "trace1", 1600, 1900),
             {"kind": "ctx", "name": "ctx", "cls": "storage", "pass": "setup",
              "start_ns": 0, "end_ns": 10 * MS}]
    jobs = [{"start_ms": 1010, "end_ms": 1030}, {"start_ms": 1210, "end_ms": 1260},
            {"start_ms": 1300, "end_ms": 1310}, {"start_ms": 1610, "end_ms": 1620},
            {"start_ms": 1620, "end_ms": 1650}, {"start_ms": 1150, "end_ms": 1160}]
    q = lambda at, files, b: {"at_ms": at, "eav_scan_files": files, "eav_scan_bytes": b}
    queries = [q(1010, 10, 1000), q(1210, 154, 3_000_000), q(1610, 10, 1000),
               q(1620, 4, 400), q(1550, 99, 99)]
    return {"workload": "serving", "spans": spans,
            "trace": {"jobs": jobs, "queries": queries, "stages": [], "streaming": []}}


class BreakdownTest(unittest.TestCase):
    def test_timed_pass_has_latency_only(self):
        rows = sb.breakdown(record(), "timed")
        self.assertEqual(rows, [("point", 2, 150.0, None, None, None, None),
                                ("doc_get", 1, 200.0, None, None, None, None)])

    def test_traced_pass_attributes_jobs_and_scans_to_requests(self):
        rows = {r[0]: r for r in sb.breakdown(record(), "trace1")}
        # the two points: 1 and 2 jobs, 20 and 40 job ms, 10 and 14 files
        self.assertEqual(rows["point"], ("point", 2, 200.0, 1.5, 30.0, 12.0, 1200.0))
        # a job and a query between requests belong to none
        self.assertEqual(rows["doc_get"], ("doc_get", 1, 300.0, 2, 60, 154, 3_000_000))

    def test_cli_prints_both_passes(self):
        with tempfile.TemporaryDirectory() as d:
            f = Path(d) / "raw.json"
            f.write_text(json.dumps(record()))
            out = subprocess.run([sys.executable, str(HERE / "serving_breakdown.py"), str(f)],
                                 capture_output=True, text=True, check=True).stdout
        self.assertIn("pass timed", out)
        self.assertIn("pass trace1", out)
        doc_get = [l for l in out.splitlines() if l.startswith("doc_get")]
        self.assertEqual(doc_get[0].split(), ["doc_get", "1", "200", "-", "-", "-", "-"])
        self.assertEqual(doc_get[1].split(), ["doc_get", "1", "300", "2", "60", "154", "3000000"])

    def test_rejects_a_battery_record(self):
        with tempfile.TemporaryDirectory() as d:
            f = Path(d) / "raw.json"
            f.write_text(json.dumps({"workload": "battery", "spans": []}))
            r = subprocess.run([sys.executable, str(HERE / "serving_breakdown.py"), str(f)],
                               capture_output=True, text=True)
        self.assertEqual(r.returncode, 2)


if __name__ == "__main__":
    unittest.main()
