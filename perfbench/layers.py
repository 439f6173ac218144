"""Per-layer metrics and the span file of a traced run.

Counts and times are per pass of the timed loop (per round for `ingest`),
summed over the pass's operations; the loop's last pass can be partial, so
"per pass" is per `len(ops)` timed operations.  Streaming times are per
trigger.  The `operators.*` and `functions.*` metrics come from the corpus
operations (all of `curate`, a subset on `verbs`) and read 0 where those
operations do not run.  A layer's self time is the duration of its spans
minus the part of each span its child spans cover.
"""
import json
import os
import statistics

import numpy as np

SELF_LAYERS = ("op", "graft", "operators", "functions", "io", "streaming",
               "action", "trigger", "job", "stage")
# corpus operations whose span time is reported on every workload
OPERATORS = ("minhash_pairs",)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted average of
    all order statistics.  Latencies of a few operation kinds cluster, and
    the plain sample median jumps between clusters from run to run; this
    estimate moves smoothly."""
    if not xs:
        return 0.0
    n = len(xs)
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    grid = np.linspace(0.0, 1.0, 20001)[1:-1]
    logpdf = (a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(logpdf - logpdf.max()))])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n,
                      np.concatenate([[0.0], grid]), cdf)
    return float(np.dot(np.diff(edges), np.sort(xs)))


def timed_calls(raw):
    """Stream calls of the timed rounds (the first round is the warm-up)."""
    calls = raw["extra"].get("stream_calls", [])
    return calls[3:]


def timed_drain_s(raw):
    return sum(c["end"] - c["start"] for c in timed_calls(raw)) / 1e6


def timed_triggers(raw):
    calls = timed_calls(raw)
    # trigger timestamps have ms resolution; allow that slack at the edges
    return [t for t in raw.get("triggers", [])
            if any(c["start"] - 1000 <= t["start"] <= c["end"]
                   for c in calls)]


def timed_fed_rows(raw, data):
    """Rows of the batches shipped in the timed rounds (the progress events'
    input rows count a batch once per read of it, so they are not used)."""
    import pyarrow.parquet as pq
    first = raw["extra"]["warmup_batches"]
    return sum(pq.read_metadata(f"{data}/{s}/b{b:04d}.parquet").num_rows
               for b in range(first, raw["checks"]["shipped"])
               for s in ("docs", "vecs", "rows"))


def union_len(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def spans_of(raw, work):
    path = os.path.join(work, "spans.jsonl")
    spans = [json.loads(x) for x in open(path)] if os.path.exists(path) else []
    # trigger spans under the stream call they ran in; the trigger's jobs
    # are re-parented to it
    calls = [s for s in spans if s["name"].startswith("streaming.")]
    nxt = max((s["id"] for s in spans), default=0)
    triggers = []
    for t in raw.get("triggers", []):
        call = next((c for c in calls
                     if c["start"] - 1000 <= t["start"] <= c["end"]), None)
        if call is None:
            continue
        nxt += 1
        end = t["start"] + t["durations"].get("triggerExecution", 0) * 1000
        triggers.append({"id": nxt, "parent": call["id"], "op": call["op"],
                         "name": "stream.trigger", "start": t["start"],
                         "end": end, "batch": t["batch"]})
    for s in spans:
        if s["name"] == "spark.job":
            for t in triggers:
                if (s["parent"] == t["parent"]
                        and t["start"] <= s["start"] <= t["end"]):
                    s["parent"] = t["id"]
    return spans + triggers


def layer_of(name):
    if name.startswith("op."):
        return "op"
    if name == "spark.action":
        return "action"
    if name == "stream.trigger":
        return "trigger"
    if name in ("spark.job", "spark.stage"):
        return name[len("spark."):]
    if name == "graft.build":
        return "graft"
    return name.split(".")[0]


def self_times(spans, ops):
    """Self time per layer, in seconds, over the spans of the operations
    `ops` (a set of operation span ids)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {k: 0.0 for k in SELF_LAYERS}
    for s in spans:
        if s["op"] not in ops:
            continue
        cover = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in kids.get(s["id"], []) if c["id"] != s["id"]]
        cover = [(a, b) for a, b in cover if b > a]
        own = (s["end"] - s["start"]) - union_len(cover)
        out[layer_of(s["name"])] += max(0, own) / 1e6
    return out


def write_spans(raw, work, dest):
    with open(dest, "w") as f:
        for s in spans_of(raw, work):
            f.write(json.dumps(s) + "\n")


def per_layer(raw, work):
    """Returns ({metric: (value, unit)}, per-operation counts)."""
    w = raw["workload"]
    timed = [o for o in raw["timed"] if o["ok"]]
    passes = max(1, len(raw["timed"])) / len(raw["ops"])
    cores = raw["cores"]

    def per_pass(key, scale=1.0):
        return sum(o[key] for o in timed) * scale / passes

    def med_wall(name):
        return median([o["wall_s"] for o in timed if o["name"] == name])

    wall = sum(o["wall_s"] for o in timed)
    gap = 0.0
    for o in timed:
        jobs = [(a, b) for a, b in o["job_spans"]]
        gap += max(0.0, o["wall_s"] - union_len(jobs) / 1e3)
    spans = spans_of(raw, work)
    op_spans = [s for s in spans if s["parent"] == 0 and s["op"] == s["id"]]
    n_warm = len(raw["warmup"])
    timed_ops = {s["id"] for s in op_spans[n_warm:]}
    selfs = self_times(spans, timed_ops)

    m = {}
    if w == "ingest":
        trig = timed_triggers(raw)
        lat = [t["durations"].get("triggerExecution", 0) / 1e3 for t in trig]
    else:
        lat = [o["wall_s"] for o in timed]
    m["op_p90_s"] = (quantile(lat, 0.9), "s")
    m["graft.build_s"] = (sum(s["end"] - s["start"] for s in spans
                              if s["name"] == "graft.build"
                              and s["op"] in timed_ops) / 1e6 / passes, "s")
    m["spark.plan_s"] = (per_pass("plan_ms", 1e-3), "s")
    m["spark.jobs"] = (per_pass("jobs"), "count")
    m["spark.stages"] = (per_pass("stages"), "count")
    m["spark.tasks"] = (per_pass("tasks"), "count")
    m["spark.gap_s"] = (gap / passes, "s")
    m["spark.exec_run_s"] = (per_pass("exec_run_ms", 1e-3), "s")
    m["spark.exec_cpu_s"] = (per_pass("exec_cpu_ns", 1e-9), "s")
    m["spark.cpu_util"] = (sum(o["exec_cpu_ns"] for o in timed) / 1e9 /
                           (wall * cores) if wall else 0.0, "ratio")
    m["spark.gc_s"] = (per_pass("gc_ms", 1e-3), "s")
    m["spark.sched_delay_s"] = (per_pass("sched_delay_ms", 1e-3), "s")
    m["spark.shuffle_write_bytes"] = (per_pass("shuffle_write"), "bytes")
    m["spark.shuffle_read_bytes"] = (per_pass("shuffle_read"), "bytes")
    m["spark.spill_bytes"] = (per_pass("spill"), "bytes")
    extra = raw["extra"]
    sig = [o for o in timed if o["name"] == "sig_pass"]
    m["functions.sig_pass_s"] = (median([o["wall_s"] for o in sig]), "s")
    m["functions.sig_pass_cpu_s"] = (
        median([o["exec_cpu_ns"] / 1e9 for o in sig]), "s")
    ops = ([o["name"] for o in raw["ops"] if o["name"] != "sig_pass"]
           if w == "curate" else OPERATORS)
    for op in ops:
        m[f"operators.{op}_s"] = (med_wall(op), "s")
    m["operators.pairs_per_candidate"] = (
        extra["verified_pairs"] / extra["lsh_candidates"]
        if extra.get("lsh_candidates") else 0.0, "ratio")
    m["io.scan_files"] = (sum(max(0, o["scan_files"]) for o in timed)
                          / passes, "count")
    m["io.scan_bytes"] = (per_pass("input_bytes"), "bytes")
    layout = raw["checks"].get("layout_files", {}) if w == "verbs" else {}
    skips = [1 - o["scan_files"] / layout[o["name"]] for o in timed
             if o["name"] in layout and o["scan_files"] >= 0]
    m["io.skip_ratio"] = (sum(skips) / len(skips) if skips else 0.0, "ratio")
    m["io.write_bytes"] = (per_pass("output_bytes"), "bytes")
    m["io.files_written"] = (per_pass("files_written"), "count")
    fed = sum(extra.get("fed_bytes", [])[extra.get("warmup_batches", 0):])
    m["io.write_amp"] = (sum(o["output_bytes"] for o in timed) / fed
                         if fed else 0.0, "ratio")
    trig = timed_triggers(raw) if w == "ingest" else []

    def per_trigger(*keys):
        return (sum(t["durations"].get(k, 0) for t in trig for k in keys)
                / 1e3 / len(trig) if trig else 0.0, "s")
    m["streaming.add_batch_s"] = per_trigger("addBatch")
    m["streaming.plan_s"] = per_trigger("queryPlanning")
    m["streaming.commit_s"] = per_trigger("walCommit", "commitOffsets")
    m["streaming.offset_s"] = per_trigger("latestOffset", "getBatch")
    m["streaming.jobs_per_trigger"] = (
        sum(o["jobs"] for o in timed) / len(trig) if trig else 0.0, "count")
    m["session.leaked_entries"] = (per_pass("leaked_entries"), "count")
    m["session.leaked_bytes"] = (per_pass("leaked_bytes"), "bytes")
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = (selfs[layer] / passes, "s")

    counts = {f"{o['name']}#{o['pass']}": {
        k: o[k] for k in ("jobs", "stages", "tasks", "scan_files",
                          "shuffle_write", "shuffle_read")}
        for o in raw["timed"]}
    return m, counts
