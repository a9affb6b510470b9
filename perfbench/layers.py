"""Per-layer metrics from a traced run.

The benchmark JVM records spans (op roots and public-call spans), Spark jobs
with their task metrics, query executions and streaming progress. This
module turns those records into the benchmark's per-layer metrics and the
self time of each layer.

A span's self time is its duration minus the part of its interval that its
children cover. Children may overlap one another (concurrent jobs of one
call), so the covered part is the length of the union of their intervals,
clipped to the parent.
"""
from datetime import datetime


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ((start, end) pairs), optionally
    clipped to [lo, hi]."""
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


def layer_of(name):
    """Layer of a span: the module part of its name (`PairGraph` of
    `PairGraph.d02_ngram_jaccard`); job spans are named `job`."""
    return name.split(".", 1)[0]


def self_times(nodes):
    """Self time per layer. `nodes` are dicts with id, name, start, end and
    parent (0 for a root). Returns {layer: seconds}."""
    children = {}
    for n in nodes:
        children.setdefault(n["parent"], []).append(n)
    out = {}
    for n in nodes:
        kids = [(c["start"], c["end"]) for c in children.get(n["id"], [])]
        own = (n["end"] - n["start"]) - union_length(kids, n["start"], n["end"])
        layer = layer_of(n["name"])
        out[layer] = out.get(layer, 0.0) + max(0.0, own)
    return out


def _epoch(ts):
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


# Sources.labeled job labels, by publish phase
PHASES = {"touched": ("upsert-touched",),
          "stage": ("upsert-stage", "wap-stage", "cas-stage"),
          "audit": ("upsert-audit", "wap-audit", "cas-audit"),
          "recount": ("upsert-recount", "wap-recount")}


def per_layer(run, trace, names):
    """The per-layer metric values of a traced run, keyed by metric name.
    `names` lists every per-layer metric the benchmark declares; a layer
    the workload never enters reads 0."""
    ops = [o for o in run["ops"] if o["traced"] and o["ok"]]
    n_ops = max(1, len(ops))
    spans = trace["spans"]
    op_spans = [s for s in spans if s["name"].startswith("op.")]

    def in_ops(t):
        return any(s["start"] <= t <= s["end"] for s in op_spans)

    jobs = [j for j in trace["jobs"] if in_ops(j["start"])]
    queries = [q for q in trace["queries"] if q["op"] >= 0]
    progress = [p for p in trace["progress"]
                if p.get("numInputRows", 0) > 0 and in_ops(_epoch(p["timestamp"]))]

    m = {k: 0.0 for k in names}
    m["SparkEnv.session_s"] = run["session_s"]
    m["codegen.compile_s"] = run["codegen_compile_s"]
    m["codegen.fallbacks"] = run["codegen_fallbacks"]
    m["Tables.scan_mb"] = sum(j["input_bytes"] for j in jobs) / 1e6 / n_ops
    m["Tables.scan_rows"] = sum(j["input_records"] for j in jobs) / n_ops
    m["shuffle.write_mb"] = sum(j["shuffle_write_bytes"] for j in jobs) / 1e6 / n_ops
    m["shuffle.records"] = sum(j["shuffle_records"] for j in jobs) / n_ops
    m["shuffle.fetch_wait_s"] = sum(j["fetch_wait_s"] for j in jobs) / n_ops
    m["shuffle.spill_mb"] = sum(j["spill_bytes"] for j in jobs) / 1e6 / n_ops
    m["shuffle.exchanges"] = sum(q["exchanges"] for q in queries) / n_ops
    m["sched.jobs_per_op"] = len(jobs) / n_ops
    m["sched.tasks_per_op"] = sum(j["tasks"] for j in jobs) / n_ops
    m["sched.task_s_per_op"] = sum(j["task_s"] for j in jobs) / n_ops
    op_time = sum(s["end"] - s["start"] for s in op_spans)
    cpus = int(run["cpus"])
    m["sched.busy_ratio"] = (sum(j["task_s"] for j in jobs) / (op_time * cpus)
                             if op_time else 0.0)
    job_iv = [(j["start"], j["end"]) for j in jobs]
    m["sched.driver_gap_s"] = _mean(
        [(s["end"] - s["start"]) - union_length(job_iv, s["start"], s["end"])
         for s in op_spans])
    # publish phases: union of the labelled jobs' intervals, per op
    for phase, labels in PHASES.items():
        iv = [(j["start"], j["end"]) for j in jobs
              if any(lab in j["desc"].split(" | ")[-1] for lab in labels)]
        m[f"Sources.{phase}_s"] = union_length(iv) / n_ops
    m["Sources.files_written"] = sum(q["files"] for q in queries) / n_ops
    m["Sources.bytes_written"] = sum(q["bytes"] for q in queries) / n_ops
    # public-call spans: mean duration per call
    by_name = {}
    for s in spans:
        if not s["name"].startswith("op."):
            by_name.setdefault(s["name"], []).append(s["end"] - s["start"])
    for name, ds in by_name.items():
        if f"{name}_s" in m:
            m[f"{name}_s"] = _mean(ds)
    # the combiner's effect: records shuffled per record the map emits
    emitted = sum(o["emitted"] for o in ops)
    if emitted:
        m["PhoenixApi.combine_ratio"] = sum(j["shuffle_records"] for j in jobs) / emitted
    # streaming triggers that processed data during the traced ops
    for key, dur in (("addBatch", "addBatch"), ("walCommit", "walCommit"),
                     ("commitOffsets", "commitOffsets"), ("planning", "queryPlanning")):
        m[f"Streaming.{key}_s"] = _mean(
            [p["durationMs"].get(dur, 0) / 1e3 for p in progress])
    m["Streaming.state_commit_s"] = _mean(
        [sum(o.get("commitTimeMs", 0) for o in p.get("stateOperators", [])) / 1e3
         for p in progress])
    m["Streaming.state_mb"] = max(
        [sum(o.get("memoryUsedBytes", 0) for o in p.get("stateOperators", [])) / 1e6
         for p in progress], default=0.0)
    asof = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in progress
            if p.get("stateOperators")]
    if "Streaming.asofEnrichBuffered_s" in m:
        m["Streaming.asofEnrichBuffered_s"] = _mean(asof)
    m["jvm.gc_s"] = run["gc_s"]

    # self time per layer, per traced op: op roots, public-call spans and
    # jobs (a job's parent is the span that submitted it; a job submitted
    # by the engine's own threads falls to the op it ran in)
    span_ids = {s["id"] for s in spans}
    nodes = [dict(s) for s in spans]
    for j in jobs:
        parent = j["span"] if j["span"] in span_ids else next(
            (s["id"] for s in op_spans if s["start"] <= j["start"] <= s["end"]), 0)
        nodes.append({"id": f"job{j['id']}", "name": "job", "start": j["start"],
                      "end": j["end"], "parent": parent})
    selft = {k: v / n_ops for k, v in self_times(nodes).items()}
    return m, selft
