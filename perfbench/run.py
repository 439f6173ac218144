#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload verbs|curate|ingest --seed N \
        --seconds S --trace 0|1

Builds the harness (perfbench/build.sbt, which compiles the repository's
library unchanged) when its sources changed, generates the seeded inputs
(cached per seed and size), runs the JVM harness, checks every output, and
prints a report followed by one JSON line: with --trace 0 the end-to-end
metrics, with --trace 1 the per-layer metrics (and the span file under
perfbench/work/trace/).  Exits nonzero when an output check fails or the
program cannot be built or run.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
CONF = json.load(open(os.path.join(BENCH, "workloads.json")))
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def cores():
    return len(os.sched_getaffinity(0))


def source_digest():
    h = hashlib.sha256()
    tops = [(ROOT, ["build.sbt", "project"]), (ROOT, ["src/main"]),
            (BENCH, ["build.sbt", "project/build.properties", "src"])]
    for base, rels in tops:
        for rel in rels:
            p = os.path.join(base, rel)
            files = [p] if os.path.isfile(p) else sorted(
                os.path.join(d, f) for d, _, fs in os.walk(p)
                if "target" not in d.split(os.sep) for f in fs
                if f.endswith((".scala", ".sbt", ".properties")))
            for f in files:
                h.update(f.encode())
                h.update(open(f, "rb").read())
    return h.hexdigest()


def build():
    """Compile the library and the harness; returns (jvm options, classpath)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the graft library sources are not next to perfbench/")
    launch = os.path.join(BENCH, "target", "launch.txt")
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    fresh = (os.path.exists(launch) and os.path.exists(stamp)
             and open(stamp).read() == digest)
    if not fresh:
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        log("building the library and the harness")
        t0 = time.time()
        r = subprocess.run(["sbt", "-batch", "launchFile"], cwd=BENCH,
                           env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=850)
        if r.returncode != 0 or not os.path.exists(launch):
            die("build failed")
        os.makedirs(WORK, exist_ok=True)
        open(stamp, "w").write(digest)
        log(f"built in {time.time() - t0:.0f}s")
    lines = open(launch).read().splitlines()
    return lines[:-1], lines[-1]


def inputs(workload, seed):
    """Generate (or reuse) the seeded inputs of a workload; returns the dir."""
    size = CONF["workloads"][workload]["inputs"]
    key = hashlib.sha256(json.dumps(size, sort_keys=True).encode()).hexdigest()
    out = os.path.join(WORK, "data", f"{workload}-{seed}-{key[:12]}")
    done = os.path.join(out, ".done")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    if workload == "verbs":
        gen.star(out, seed, sf=size["star"]["sf"])
        gen.corpus(out, seed, size["documents"], size["embeddings"], cores())
    elif workload == "curate":
        gen.corpus(out, seed, size["documents"], size["embeddings"], cores())
    else:
        b = size["per_batch"]
        gen.feed(out, seed, size["base_docs"], size["base_vecs"],
                 size["batches"], b["docs"], b["vecs"], b["upsert_rows"],
                 size["lake_keys"])
    open(done, "w").close()
    return out


def run_jvm(opts, cp, workload, seed, seconds, trace, data, deadline):
    work = os.path.join(WORK, "run", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + opts + [
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch",
        "-XX:-UseAdaptiveSizePolicy", f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlog4j.configurationFile={BENCH}/log4j2.properties",
        "-cp", cp, "perfbench.Main", workload, str(seed), str(seconds),
        str(trace), str(cores()), data, work])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die("the harness did not finish in time")
    if rc != 0:
        die(f"the harness exited with {rc}")
    return work, json.load(open(os.path.join(work, "raw.json")))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(raw, data):
    """The end-to-end metrics; `ALIASES` gives their per-workload names."""
    w = raw["workload"]
    timed = [o for o in raw["timed"] if o["ok"]]
    if w == "ingest":
        trig = layers.timed_triggers(raw)
        lat = [t["durations"].get("triggerExecution", 0) / 1e3 for t in trig]
        drain = layers.timed_drain_s(raw)
        rate = layers.timed_fed_rows(raw, data) / drain if drain else 0.0
    elif w == "verbs":
        lat = [o["wall_s"] for o in timed]
        rate = len(timed) / raw["loop_s"]
    else:
        lat = [o["wall_s"] for o in timed]
        per_op = {}
        for o in timed:
            per_op.setdefault(o["name"], []).append(o["wall_s"])
        pass_s = sum(median(v) for v in per_op.values())
        corpus = raw["checks"]["docs"] + raw["checks"]["vecs"]
        rate = corpus / pass_s if pass_s else 0.0
    return {
        "setup_s": (raw["setup_s"], "s"),
        "op_p50_s": (layers.quantile(lat, 0.5), "s"),
        "throughput_per_s": (rate, "1/s"),
        "peak_heap_mb": (raw["peak_heap_mb"], "MB"),
    }, len(lat)


ALIASES = {
    "verbs": {"op_p50_s": "verbs_p50_s", "throughput_per_s": "verbs_qps"},
    "curate": {"throughput_per_s": "curate_rows_per_s"},
    "ingest": {"op_p50_s": "trigger_p50_s",
               "throughput_per_s": "ingest_rows_per_s"},
}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(CONF["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # the harness overruns --seconds by at most one operation (one ingest
    # round); the rest of a run is JVM start, setup and the warm-up
    deadline = time.time() + 140 + 2 * a.seconds
    opts, cp = build()
    deadline = max(deadline, time.time() + 120 + 2 * a.seconds)
    data = inputs(a.workload, a.seed)
    work, raw = run_jvm(opts, cp, a.workload, a.seed, a.seconds, a.trace,
                        data, deadline)

    failures = checks.run(a.workload, raw, data, work)
    for f in failures:
        log(f"check failed: {f}")
    attempted = len(raw["warmup"]) + len(raw["timed"])
    failed = sum(1 for o in raw["warmup"] + raw["timed"] if not o["ok"])
    failed = min(attempted, failed + len(failures))

    e2e, samples = end_to_end(raw, data)
    names = ALIASES[a.workload]
    print(f"workload {a.workload} seed {a.seed} cores {raw['cores']} "
          f"operations {len(raw['timed'])} samples {samples}")
    for k, (v, unit) in e2e.items():
        alias = f" ({names[k]})" if k in names else ""
        print(f"  {k}{alias} = {v:.6g} {unit}")
    print(f"  failed_share = {failed / attempted:.6g} ratio "
          f"({failed} of {attempted})")

    if a.trace:
        per_layer, counts = layers.per_layer(raw, work)
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        base = os.path.join(WORK, "trace", f"{a.workload}-{a.seed}")
        layers.write_spans(raw, work, base + ".spans.jsonl")
        json.dump(counts, open(base + ".counts.json", "w"), indent=1)
        for k, (v, unit) in per_layer.items():
            print(f"  {k} = {v:.6g} {unit}")
        metrics = per_layer
    else:
        metrics = e2e
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    json.dump({k: v for k, (v, _) in e2e.items()}, open(os.path.join(
        results, f"{a.workload}-{a.seed}-trace{a.trace}.json"), "w"))
    if a.trace:
        other = os.path.join(results, f"{a.workload}-{a.seed}-trace0.json")
        if os.path.exists(other):
            plain = json.load(open(other))
            for k, (v, unit) in e2e.items():
                if plain.get(k):
                    print(f"  tracing overhead {k}: {v:.6g} traced vs "
                          f"{plain[k]:.6g} untraced {unit} "
                          f"({(v - plain[k]) / plain[k]:+.1%})")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in
                    metrics.items()}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
