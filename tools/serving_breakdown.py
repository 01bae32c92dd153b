#!/usr/bin/env python3
"""Per request kind costs of one `serving` benchmark run.

    python3 perfbench/run.py --workload serving --seed 1 --seconds 20 \\
        --trace 1 --keep-raw raw.json
    python3 tools/serving_breakdown.py raw.json

Reads the raw record `--keep-raw` saves and prints, for the untraced
timed pass and then for the first traced pass, one row per request
kind: the number of requests, their median latency, and per request
(median) the Spark jobs that started inside it, the wall time those
jobs took, and the base-EAV files and bytes its queries scanned. A job
or query belongs to the request whose window holds its start time (one
client, so windows never overlap). The timed pass runs without
listeners, so its job and scan columns read "-".
"""
import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "perfbench"))
from stats import Windows, median  # noqa: E402

PASSES = ("timed", "trace1")
COLUMNS = ("kind", "n", "p50_ms", "jobs", "job_ms", "eav_files", "eav_bytes")


def breakdown(raw, pass_name):
    """Rows of (kind, n, p50 ms, jobs, job ms, files, bytes) for one
    pass, in order of each kind's first request; the last four are None
    when the pass was not traced."""
    reqs = [s for s in raw["spans"] if s["pass"] == pass_name and s["kind"] == "request"]
    if not reqs:
        return []
    lo, hi = min(s["start_ns"] for s in reqs), max(s["end_ns"] for s in reqs)
    trace = raw.get("trace") or {}
    jobs = [j for j in trace.get("jobs", []) if lo <= j["start_ms"] * 1e6 <= hi]
    queries = [q for q in trace.get("queries", []) if lo <= q["at_ms"] * 1e6 <= hi]
    traced = bool(jobs or queries)
    win = Windows(reqs)
    per = {id(s): {"jobs": 0, "job_ms": 0.0, "files": 0, "bytes": 0} for s in reqs}
    for j in jobs:
        s = win.find(j["start_ms"] * 1e6)
        if s is not None:
            per[id(s)]["jobs"] += 1
            per[id(s)]["job_ms"] += j["end_ms"] - j["start_ms"]
    for q in queries:
        s = win.find(q["at_ms"] * 1e6)
        if s is not None:
            per[id(s)]["files"] += q["eav_scan_files"]
            per[id(s)]["bytes"] += q["eav_scan_bytes"]
    kinds = {}
    for s in sorted(reqs, key=lambda s: s["start_ns"]):
        kinds.setdefault(s["name"], []).append(s)
    rows = []
    for kind, ss in kinds.items():
        col = lambda k: median([per[id(s)][k] for s in ss]) if traced else None
        rows.append((kind, len(ss), median([(s["end_ns"] - s["start_ns"]) / 1e6 for s in ss]),
                     col("jobs"), col("job_ms"), col("files"), col("bytes")))
    return rows


def render(rows):
    def cell(v):
        if v is None:
            return "-"
        if isinstance(v, str):
            return v
        return str(round(v)) if float(v).is_integer() or v >= 100 else f"{v:.1f}"
    table = [COLUMNS] + [tuple(cell(v) for v in r) for r in rows]
    widths = [max(len(r[i]) for r in table) for i in range(len(COLUMNS))]
    return "\n".join("  ".join(c.ljust(w) if i == 0 else c.rjust(w)
                               for i, (c, w) in enumerate(zip(r, widths)))
                     for r in table)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("raw", help="a record saved by perfbench/run.py --keep-raw")
    a = ap.parse_args()
    raw = json.loads(Path(a.raw).read_text())
    if raw.get("workload") != "serving":
        print(f"not a serving record: workload {raw.get('workload')}", file=sys.stderr)
        return 2
    for p in PASSES:
        rows = breakdown(raw, p)
        if rows:
            print(f"pass {p}")
            print(render(rows))
            print()
    return 0


if __name__ == "__main__":
    sys.exit(main())
