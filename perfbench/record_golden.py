"""Record the golden fingerprints a workload's outputs are checked against.

    python3 perfbench/record_golden.py <workload>

Runs the workload twice, with seeds 1 and 2, and writes
`perfbench/golden/<workload>.json`. A result whose content hash differed
between the two runs is marked `"stable": false`; runs check it on row
count and schema only. Record from the commit whose outputs are taken
as correct, and only again when a change is meant to alter outputs.
"""
import json
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent


def fingerprints(workload, seed):
    with tempfile.NamedTemporaryFile(suffix=".json") as f:
        subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", "0",
                        "--keep-raw", f.name], stdout=subprocess.DEVNULL)
        raw = json.loads(Path(f.name).read_text() or "{}")
    if not raw:
        sys.exit(f"{workload} seed {seed}: the run failed")
    return raw["fingerprints"]


def main():
    workload = sys.argv[1]
    a, b = fingerprints(workload, 1), fingerprints(workload, 2)
    golden = {}
    for name, p in sorted(a.items()):
        q = b.get(name, {})
        golden[name] = dict(p, stable=p["hash"] == q.get("hash"))
        if (p["rows"], p["schema"]) != (q.get("rows"), q.get("schema")):
            sys.exit(f"{name}: rows or schema differ between two runs: {p} {q}")
    out = HERE / "golden" / f"{workload}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(golden, indent=1, sort_keys=True) + "\n")
    print(f"{out}: {len(golden)} fingerprints, "
          f"{sum(not g['stable'] for g in golden.values())} unstable")


if __name__ == "__main__":
    main()
