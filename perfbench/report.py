"""Metrics of one run, from the raw record the JVM side writes.

End-to-end metrics come from the untimed set-up and the untraced timed
phase; per-layer metrics come from the two traced passes, with the
spans the benchmark recorded around its own calls and the Spark
listener records joined to them by time (one caller, so spans never
overlap and each record falls in at most one)."""
from stats import Windows, geomean, median, self_time

MODULES = ["core", "operators", "llm", "sources", "streaming"]

# Median time of the host-speed kernel (HostSpeed.scala) on an idle
# 4-core 2.1 GHz Xeon virtual machine: the speed end-to-end times are
# scaled to.
KERNEL_REF_MS = 6.6


def _ops(raw, pass_name):
    """Per operation samples of a pass: battery entry calls (build +
    action) or requests, as (name, cls, seconds)."""
    spans = [s for s in raw["spans"] if s["pass"] == pass_name]
    if raw["workload"] == "serving":
        return [(s["name"], s["cls"], (s["end_ns"] - s["start_ns"]) / 1e9)
                for s in spans if s["kind"] == "request"]
    per = {}
    for s in spans:
        if s["kind"] in ("build", "action"):
            per.setdefault((s["name"], s["cls"]), []).append((s["end_ns"] - s["start_ns"]) / 1e9)
    out = []
    for (name, cls), xs in per.items():
        # one build and one action per call, in call order
        out += [(name, cls, b + a) for b, a in zip(xs[0::2], xs[1::2])]
    return out


def _wall(raw, pass_name):
    spans = [s for s in raw["spans"] if s["pass"] == pass_name and s["kind"] != "ctx"]
    return (max(s["end_ns"] for s in spans) - min(s["start_ns"] for s in spans)) / 1e9


def _medians(raw, pass_name):
    """Median time of each operation name in a pass."""
    by = {}
    for name, _, t in _ops(raw, pass_name):
        by.setdefault(name, []).append(t)
    return {k: median(v) for k, v in by.items()}


def run_seconds(raw, pass_name="timed"):
    """Battery: one pass, as the sum of per-entry medians. Serving: the
    wall time of the timed request stream."""
    if raw["workload"] == "serving":
        return _wall(raw, pass_name)
    return sum(_medians(raw, pass_name).values())


def kernel_ms(raw, pass_name="timed"):
    """Median time of the host-speed kernel run between a pass's
    operations."""
    return median([x["ns"] / 1e6 for x in raw["speed"] if x["pass"] == pass_name])


def setup_seconds(raw):
    """Session start + median cold `Graft.ctx` + the warm/check pass
    (+ server start on serving), in wall seconds."""
    return raw["session_s"] + median(raw["ctx_s"]) + raw["warm_s"] + raw.get("server_s", 0.0)


def end_to_end(raw):
    """End-to-end metrics. Times are scaled to the reference host speed:
    wall time x KERNEL_REF_MS / the run's median kernel time, so a run on
    a host that a neighbour slows reads as one on an idle host."""
    scale = KERNEL_REF_MS / kernel_ms(raw)
    divisor = raw["input_bytes"] + raw.get("request_body_bytes", 0)
    return {
        "setup_s": (setup_seconds(raw) * scale, "s"),
        "run_s": (run_seconds(raw) * scale, "s"),
        "geomean_s": (geomean(list(_medians(raw, "timed").values())) * scale, "s"),
        "space_amp": (raw["written_bytes"] / divisor, "ratio"),
    }


def samples(raw):
    """Timed operations of a run: battery calls or requests."""
    return len(_ops(raw, "timed"))


def _layer(raw, pass_name):
    """Per-layer metrics of one traced pass."""
    tr = raw["trace"]
    spans = [s for s in raw["spans"] if s["pass"] == pass_name and s["kind"] != "ctx"]
    win = Windows(spans)
    lo, hi = min(s["start_ns"] for s in spans), max(s["end_ns"] for s in spans)
    inside = lambda ms: lo <= ms * 1e6 <= hi
    jobs = [j for j in tr["jobs"] if inside(j["start_ms"])]
    stages = [s for s in tr["stages"] if inside(s["start_ms"])]
    queries = [q for q in tr["queries"] if inside(q["at_ms"])]
    progress = [p for p in tr["streaming"] if inside(p["at_ms"])]

    # jobs nest under the span whose window contains their start
    children = {}
    for j in jobs:
        s = win.find(j["start_ms"] * 1e6)
        if s is not None:
            children.setdefault(id(s), []).append((j["start_ms"] * 1e6, j["end_ms"] * 1e6))
    job_s = lambda s: children.get(id(s), [])
    secs = lambda s: (s["end_ns"] - s["start_ns"]) / 1e9

    m = {}
    for mod in MODULES:
        builds = [s for s in spans if s["kind"] == "build" and s["cls"] == mod]
        actions = [s for s in spans if s["kind"] == "action" and s["cls"] == mod]
        m[f"{mod}.build_s"] = (sum(map(secs, builds)), "s")
        m[f"{mod}.build_jobs"] = (sum(len(job_s(s)) for s in builds), "count")
        m[f"{mod}.action_s"] = (sum(map(secs, actions)), "s")
    m["core.driver_s"] = (sum(self_time(s["start_ns"], s["end_ns"], job_s(s))
                              for s in spans if s["kind"] == "build" and s["cls"] == "core") / 1e9, "s")
    # streaming entries are measured by their batches; sources by the action
    for k in ("streaming.build_s", "streaming.build_jobs", "streaming.action_s",
              "sources.build_s", "sources.build_jobs"):
        m.pop(k)

    m["streaming.batches"] = (len(progress), "count")
    m["streaming.batch_s"] = (sum(p["batch_ms"] for p in progress) / 1000, "s")
    m["streaming.state_rows"] = (sum(p["state_rows"] for p in progress), "count")
    m["streaming.commit_s"] = (sum(p["commit_ms"] for p in progress) / 1000, "s")

    m["eav.scan_bytes"] = (sum(q["eav_scan_bytes"] for q in queries), "bytes")
    m["eav.scan_files"] = (sum(q["eav_scan_files"] for q in queries), "count")
    m["eav.scan_partitions"] = (sum(q["eav_scan_partitions"] for q in queries), "count")

    for k in ("analysis", "optimization", "planning"):
        m[f"catalyst.{k}_s"] = (sum(q[f"{k}_ms"] for q in queries) / 1000, "s")
    m["catalyst.plan_nodes"] = (sum(q["plan_nodes"] for q in queries), "count")
    m["catalyst.exchanges"] = (sum(q["exchanges"] for q in queries), "count")

    task_ms = sum(s["task_ms"] for s in stages)
    m["exec.jobs"] = (len(jobs), "count")
    m["exec.stages"] = (len(stages), "count")
    m["exec.tasks"] = (sum(s["tasks"] for s in stages), "count")
    m["exec.task_s"] = (task_ms / 1000, "s")
    m["exec.core_busy"] = (task_ms / 1000 / ((hi - lo) / 1e9 * raw["cores"]), "ratio")
    m["exec.shuffle_write_bytes"] = (sum(s["shuffle_write"] for s in stages), "bytes")
    m["exec.shuffle_read_bytes"] = (sum(s["shuffle_read"] for s in stages), "bytes")
    m["exec.spill_bytes"] = (sum(s["spill"] for s in stages), "bytes")
    m["exec.rows_out"] = (sum(q["rows_out"] for q in queries), "count")

    reqs = [s for s in spans if s["kind"] == "request"]
    per_req = lambda ss: sum(len(job_s(s)) for s in ss) / len(ss) if ss else 0.0
    folds = [s for s in reqs if s["cls"] == "versioned" or s["name"] == "doc_get"]
    writes = [s for s in reqs if s["cls"] == "write"]
    fold_stages = [st for st in stages if (w := win.find(st["start_ms"] * 1e6)) is not None
                   and (w["cls"] == "versioned" or w["name"] == "doc_get")]
    m["layers.fold_jobs"] = (per_req(folds), "count")
    m["layers.fold_shuffle_bytes"] = (
        sum(s["shuffle_write"] for s in fold_stages) / len(folds) if folds else 0.0, "bytes")
    m["layers.commit_jobs"] = (per_req(writes), "count")
    m["server.self_ms"] = (median([self_time(s["start_ns"], s["end_ns"], job_s(s)) / 1e6
                                   for s in reqs]), "ms")
    m["server.jobs_per_req"] = (per_req(reqs), "count")
    resp = [r["bytes"] for r in raw.get("responses", []) if r["pass"] == pass_name]
    m["server.response_bytes"] = (sum(resp) / len(resp) if resp else 0.0, "bytes")
    return m


def per_layer(raw):
    """Per-layer metrics of the first traced pass, the names of counters
    that repeat exactly in the second, and the tracing overhead."""
    m1, m2 = _layer(raw, "trace1"), _layer(raw, "trace2")
    exact = sorted(k for k, (v, unit) in m1.items()
                   if unit in ("count", "bytes") and v == m2[k][0])
    m = dict(m1)
    m["eav.encode_s"] = (median(raw["ctx_s"]), "s")
    m["eav.bytes_written"] = (raw["eav_bytes"], "bytes")
    serving = raw["workload"] == "serving"
    m["layers.chain_len"] = (raw.get("chain_len", 0), "count")
    m["layers.commit_bytes"] = (raw["store_bytes"] / raw["chain_len"] if serving else 0.0, "bytes")
    ops = _ops(raw, "timed")
    for cls, name in (("read", "read"), ("versioned", "versioned_read"), ("write", "write")):
        lat = [t * 1000 for _, c, t in ops if c == cls]
        m[f"serving.{name}_p50_ms"] = (median(lat) if serving else 0.0, "ms")
    jvm = raw["jvm"]
    m["jvm.gc_s"] = (jvm["gc_s"], "s")
    m["jvm.jit_s"] = (jvm["jit_s"], "s")
    m["jvm.peak_heap_mb"] = (jvm["peak_heap_mb"], "MB")
    m["leak.rdds"] = (raw["leak_rdds"], "count")
    m["trace.overhead_s"] = (run_seconds(raw, "trace1") - run_seconds(raw), "s")
    m["host.steal_share"] = (steal_share(raw), "ratio")
    m["host.kernel_ms"] = (kernel_ms(raw), "ms")
    m["wall.setup_s"] = (setup_seconds(raw), "s")
    m["wall.run_s"] = (run_seconds(raw), "s")
    return m, exact


def steal_share(raw, pass_name="timed"):
    """Share of the CPU time the machine wanted during a pass's calls
    that the host gave to something else (steal over run + steal)."""
    spans = [s for s in raw["spans"] if s["pass"] == pass_name]
    run = sum(s["run_ticks"] for s in spans)
    steal = sum(s["steal_ticks"] for s in spans)
    return steal / (run + steal) if run + steal else 0.0
