"""Arithmetic over one run's raw record (written by graftbench.Main).

Pure functions only: percentiles, interval unions, span self time,
call-site-to-module mapping, and the two metric sets the benchmark
reports. test_stats.py covers them.
"""
import re
import statistics

MODULES = ("sources", "operators", "llm", "streaming", "crawl", "multimodal",
           "queries", "plans", "functions", "core", "unattributed")
STREAM_PHASES = {"add_batch_s": "addBatch", "query_planning_s": "queryPlanning",
                 "wal_commit_s": "walCommit", "latest_offset_s": "latestOffset",
                 "commit_offsets_s": "commitOffsets"}
KERNELS = ("intersect_size", "jaccard_similarity", "minhash_signature",
           "simhash64", "dot_product", "baseline")
SPAN_KINDS = ("run", "setup", "kernels", "pass", "query", "plan_build", "action", "batch",
              "job", "stage")
# span kinds inside the traced passes, whose self time is a per-layer metric
# (a query span is exactly covered by its plan_build and action children)
PASS_KINDS = ("pass", "plan_build", "action", "batch", "job", "stage")

# graft.<package>.<Class> or graft.<Class>, not graftbench.*
_FRAME = re.compile(r"(?:^|[\s(])graft\.([A-Za-z_$][\w$]*)\.")


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values):
    """The highest percentile with at least ten samples above it.

    Returns (value, percentile, sample_count). With n samples that is the
    (n-10)-th smallest, at percentile 100*(n-10)/n. Below 21 samples that
    percentile would not be above the median, so the maximum is returned
    instead, at 100.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 21:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by intervals, each clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    start, end = span
    return (end - start) - union_length(children, start, end)


def module_of(frames, streaming=False):
    """The graft module of a job: its innermost `graft.<module>` frame.

    Top-level graft classes (graft.Pipeline, graft.Tables) map to "core".
    A job with no graft frame that runs a streaming micro-batch maps to
    "streaming"; any other job without one is "unattributed".
    """
    for frame in frames:
        m = _FRAME.search(frame)
        if m:
            name = m.group(1)
            return name if name[0].islower() else "core"
    return "streaming" if streaming else "unattributed"


def _within(t, start, end):
    return start <= t <= end


def _in_any(t, windows):
    return any(_within(t, s, e) for s, e in windows)


def end_to_end(raw):
    """Metrics a user sees, from the untraced timed passes."""
    passes = [p for p in raw["passes"] if not p["traced"]]
    execs = [e for e in raw["executions"]
             if e["error"] is None and any(p["pass"] == e["pass"] for p in passes)]
    lat = [e["latency_s"] for e in execs]
    tail_v, tail_p, n = tail(lat)
    return {
        "wall_s": median([p["wall_s"] for p in passes]),
        "query_p50_s": median(lat),
        "query_tail_s": tail_v,
        "setup_s": raw["session_build_s"] + raw["warmup_s"],
        "cpu_s": median([p["jvm"]["cpu_s"] for p in passes]),
    }, {"query_tail_percentile": tail_p, "query_samples": n, "passes": len(passes)}


def build_spans(raw):
    """Span tree of the traced passes: the benchmark's own spans plus
    micro-batch, job and stage spans placed under the span that contains
    them. Returns a list of dicts with id, parent, kind, name, start, end."""
    spans = [dict(id=s["id"], parent=s["parent"], kind=s["kind"], name=s["name"],
                  start=s["start_ms"], end=s["end_ms"]) for s in raw["spans"]]
    windows = [(s["start"], s["end"]) for s in spans if s["kind"] == "pass"]
    phases = [s for s in spans if s["kind"] in ("plan_build", "action")]
    passes = [s for s in spans if s["kind"] == "pass"]

    def container(t, candidates):
        for c in candidates:
            if _within(t, c["start"], c["end"]):
                return c
        return None

    def enclosing(t):
        c = container(t, phases) or container(t, passes)
        return c["id"] if c else "run"

    batches = []
    for b in raw["batches"]:
        start = b["start_ms"]
        if not _in_any(start, windows):
            continue
        end = start + b["duration_ms"].get("triggerExecution", 0)
        span = dict(id=f"batch/{b['run']}/{b['batch']}", parent=enclosing(start),
                    kind="batch", name=f"batch {b['batch']}", start=start, end=end)
        batches.append(span)
    spans += batches
    stage_parent = {}
    for j in raw["jobs"]:
        start = j["start_ms"]
        if not _in_any(start, windows):
            continue
        parent = (j["streaming"] and container(start, batches)) or None
        jid = f"job/{j['id']}"
        spans.append(dict(id=jid, parent=parent["id"] if parent else enclosing(start),
                          kind="job", name=module_of(j["frames"], j["streaming"]),
                          start=start, end=max(j["end_ms"], start)))
        for sid in j["stages"]:
            stage_parent.setdefault(sid, jid)
    for st in raw["stages"]:
        if st["id"] in stage_parent and st["end_ms"] >= st["start_ms"] > 0:
            spans.append(dict(id=f"stage/{st['id']}/{st['attempt']}",
                              parent=stage_parent[st["id"]], kind="stage", name=st["name"],
                              start=st["start_ms"], end=st["end_ms"]))
    return spans


def self_times(spans):
    """Summed self time in seconds per span kind."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {k: 0.0 for k in SPAN_KINDS}
    for s in spans:
        out[s["kind"]] += self_time((s["start"], s["end"]), kids.get(s["id"], [])) / 1e3
    return out


def per_layer(raw):
    """Per-layer metrics of the traced passes, each per pass unless noted."""
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    n = max(len(traced), 1)
    windows = [(p["start_ms"], p["end_ms"]) for p in traced]
    wall = sum(p["wall_s"] for p in traced)
    m = {"session.build_s": raw["session_build_s"], "session.warmup_s": raw["warmup_s"]}

    execs = [e for e in raw["executions"] if any(p["pass"] == e["pass"] for p in traced)]
    m["queries.plan_build_s"] = sum(e["plan_build_s"] for e in execs) / n
    m["queries.action_s"] = sum(e["latency_s"] - e["plan_build_s"] for e in execs) / n
    builds = [(s["start_ms"], s["end_ms"]) for s in raw["spans"] if s["kind"] == "plan_build"]
    jobs = [j for j in raw["jobs"] if _in_any(j["start_ms"], windows)]
    m["queries.eager_jobs"] = sum(_in_any(j["start_ms"], builds) for j in jobs) / n

    job_stages = {sid for j in jobs for sid in j["stages"]}
    stages = [s for s in raw["stages"] if s["id"] in job_stages]
    tasks = [t for t in raw["tasks"] if _in_any(t[1], windows)]
    m["engine.jobs"] = len(jobs) / n
    m["engine.stages"] = len(stages) / n
    m["engine.tasks"] = len(tasks) / n
    task_run = sum(t[3] for t in tasks) / 1e3
    m["engine.task_run_s"] = task_run / n
    m["engine.task_cpu_s"] = sum(t[4] for t in tasks) / 1e9 / n
    m["engine.busy_frac"] = task_run / (raw["cores"] * wall) if wall else 0.0
    busy = [union_length([(t[1], t[2]) for t in tasks], s, e) for s, e in windows]
    m["engine.idle_s"] = sum((e - s) - b for (s, e), b in zip(windows, busy)) / 1e3 / n
    mb = 1048576.0
    for key, col in (("shuffle_read_mb", 5), ("shuffle_write_mb", 6), ("spill_mb", 7),
                     ("output_mb", 8)):
        m["engine." + key] = sum(t[col] for t in tasks) / mb / n

    jvm = lambda k: sum(p["jvm"][k] for p in traced) / n
    m["codegen.compiles"] = jvm("codegen_compiles")
    m["codegen.compile_s"] = sum(p["jvm"]["codegen_compiles"] * p["codegen_mean_ms"]
                                 for p in traced) / 1e3 / n
    m["jvm.gc_s"] = jvm("gc_s")
    m["jvm.jit_s"] = jvm("jit_s")
    m["jvm.heap_after_gc_mb"] = median([p["heap_after_gc_mb"] for p in traced])

    for k in KERNELS:
        m[f"plans.kernel.{k}_ns_row"] = raw["kernels_ns_row"].get(k, 0.0)

    by_module = {mod: 0.0 for mod in MODULES}
    for j in jobs:
        by_module[module_of(j["frames"], j["streaming"])] += max(j["end_ms"] - j["start_ms"], 0)
    for mod, ms in by_module.items():
        m[f"{mod}.job_s"] = ms / 1e3 / n

    batches = [b for b in raw["batches"] if _in_any(b["start_ms"], windows)]
    m["streaming.batches"] = len(batches) / n
    m["streaming.batch_p50_ms"] = median(
        [b["duration_ms"].get("triggerExecution", 0) for b in batches])
    for key, phase in STREAM_PHASES.items():
        m["streaming." + key] = sum(b["duration_ms"].get(phase, 0) for b in batches) / 1e3 / n
    last = {}
    for b in batches:
        last[b["run"]] = b["state_rows"]
    m["streaming.state_rows"] = sum(last.values()) / n

    writes = [w for w in raw["writes"] if _in_any(w["time_ms"], windows)]
    m["storage.files_written"] = sum(w["files"] for w in writes) / n
    m["storage.mb_written"] = sum(w["bytes"] for w in writes) / mb / n

    end = raw["retained"]
    m["session.sink_tables"] = end["tables"]
    m["session.persisted_rdds"] = end["persisted_rdds"]
    m["session.active_streams"] = end["active_streams"]
    m["session.conf_drift"] = end["conf_drift"]
    m["session.scratch_mb"] = end["scratch_bytes"] / mb

    self_s = self_times(build_spans(raw))
    for kind in PASS_KINDS:
        m[f"trace.{kind}.self_s"] = self_s[kind] / n
    m["trace.overhead_s"] = (median([p["wall_s"] for p in traced])
                             - median([p["wall_s"] for p in untraced]))
    return m
