"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source on first use (see
build.py), runs the workload in a fresh JVM against a fresh run
directory under `.bench_run/`, checks every output against the golden
fingerprints in `perfbench/golden/`, and prints one JSON object as the
last line of stdout: `correct`, `attempted`, `failed` and `metrics`
(the end-to-end metrics; with `--trace 1` the per-layer metrics of the
traced passes). The line before it gives the run's session config, the
number of timed operations, the failed checks, and with `--trace 1` the
counters that repeated exactly across the two traced passes. Exits 1 when an output check
failed, 2 when the benchmark could not run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import report  # noqa: E402

# Scale factor of each workload's generated input tables.
WORKLOADS = {"battery": "0.001", "serving": "0.001"}
# Kill the run's JVM past this many seconds, leaving time to report.
JVM_TIMEOUT_S = 165


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    ap.add_argument("--keep-raw", metavar="FILE",
                    help="also copy the run's raw record to FILE")
    a = ap.parse_args()

    try:
        jar = build.compile_jar()
        data = build.input_tables(jar, WORKLOADS[a.workload])
        build.share_classes(jar, build.input_tables(jar, WORKLOADS["battery"]))
    except build.BuildError as e:
        print(f"[bench] cannot build: {e}", file=sys.stderr)
        return 2

    run_dir = build.ROOT / ".bench_run" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    golden = build.BENCH / "golden" / f"{a.workload}.json"
    try:
        raw = run_jvm(jar, data, run_dir, golden, a)
        if raw is None:
            return 2
        if a.keep_raw:
            Path(a.keep_raw).write_text(json.dumps(raw))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if a.trace:
        metrics, exact = report.per_layer(raw)
    else:
        metrics, exact = report.end_to_end(raw), None
    print(json.dumps({"session_conf": raw["session_conf"],
                      "timed_operations": report.samples(raw),
                      "checks": raw["checks"], "exact": exact}))
    correct = raw["failed"] == 0
    print(json.dumps({
        "correct": correct, "attempted": raw["attempted"], "failed": raw["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


def run_jvm(jar, data, run_dir, golden, a):
    """Run the workload's JVM in its own process group; None on failure."""
    env = dict(os.environ, GRAFT_EAV_CACHE=str(run_dir / "eav"))
    cmd = ["java", *build.java_opts(run_dir, jar), "-cp", build.classpath(jar),
           "graftbench.Main", a.workload, str(a.seed), str(a.seconds), str(a.trace),
           str(data), str(run_dir), str(golden)]
    p = subprocess.Popen(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print(f"[bench] run stopped before it finished (limit {JVM_TIMEOUT_S} s)", file=sys.stderr)
        return None
    raw_file = run_dir / "raw.json"
    if rc != 0 or not raw_file.exists():
        print(f"[bench] run failed with exit code {rc}", file=sys.stderr)
        return None
    return json.loads(raw_file.read_text())


if __name__ == "__main__":
    # a terminated run still stops its JVM and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.time()
    code = main()
    print(f"[bench] {time.time() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
