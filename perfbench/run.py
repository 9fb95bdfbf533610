#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch-suite --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The first run builds the engine and
the harness with sbt (the build is reused while the sources are
unchanged); inputs are generated from the seed and cached under
`.bench_work/`.  The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"} — end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 175

# Harness route per workload.
WORKLOADS = {"serve-root-ingest": "root", "batch-suite": "batch"}
INGEST_CYCLES = 30
REFERENCE = os.path.join(HERE, "batch_reference.json")
# Generated inputs kept per workload (oldest seeds are dropped).
KEEP_INPUTS = 4


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build reads, so an edit forces a rebuild."""
    h = hashlib.sha1()
    for top in ("build.sbt", "project", "src", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        base = os.path.join(ROOT, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(base)
            if "target" not in d.split(os.sep) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """Compile engine + harness; returns (classpath, jvm options)."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return read_launch(launch)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                         HERE, env, out, out, deadline)
    if code != 0 or not os.path.exists(launch):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail("build failed (exit %s):\n%s" % (code, tail))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return read_launch(launch)


def read_launch(path):
    with open(path) as f:
        lines = [l for l in f.read().split("\n") if l]
    return lines[0], lines[1:]


def cpu_times():
    """The aggregate `cpu` line of /proc/stat (field 7 is steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def run_child(cmd, cwd, env, out, err, deadline):
    """Run a child in its own process group; kill the group at the deadline."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=err,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return "timeout"


def inputs(workload, seed):
    """Generate (or reuse) the seeded inputs; returns (dir, sizes)."""
    base = os.path.join(WORK, "inputs")
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha1(f.read()).hexdigest()[:8]
    name = "%s_seed%d_%s" % (workload, seed, version)
    d = os.path.join(base, name)
    sizes_file = os.path.join(d, "sizes.json")
    if not os.path.exists(sizes_file):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        if workload == "batch-suite":
            tables = gen.batch_tables()
            gen.write_tables(os.path.join(d, "tables"), tables)
            sizes = {t: v.num_rows for t, v in tables.items()}
            sizes["queries"] = len(gen.BATCH_QUERIES)
            ops = gen.batch_ops(seed)
        else:
            sizes = gen.write_corpus(os.path.join(d, "corpus"), seed)
            ops = gen.ingest_ops(seed, INGEST_CYCLES, gen.corpus_arrays(seed)[0])
        gen.write_ops(os.path.join(d, "ops.jsonl"), ops)
        sizes["ops"] = len(ops)
        with open(sizes_file, "w") as f:
            json.dump(sizes, f)
        old = sorted((os.path.getmtime(os.path.join(base, o)), o) for o in os.listdir(base)
                     if o.startswith(workload + "_") and o != name)
        for _, o in old[:max(0, len(old) + 1 - KEEP_INPUTS)]:
            shutil.rmtree(os.path.join(base, o), ignore_errors=True)
    with open(sizes_file) as f:
        return d, json.load(f)


def pct(xs, q):
    """Percentile by linear interpolation (q in 0..100)."""
    xs = sorted(xs)
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def geomean(xs):
    return math.exp(statistics.mean(math.log(x) for x in xs))


def query_times(records):
    """Per sampled query, its measured latencies in ms."""
    out = {}
    for r in records:
        if not r["warm"]:
            out.setdefault(r["query"], []).append(r["lat_ns"] / 1e6)
    return out


def end_to_end(workload, summary, records, recalls, failed):
    measured = [r for r in records if not r["warm"]]
    if workload == "batch-suite":
        latency = geomean([min(v) for v in query_times(records).values()])
        done = len(measured)
        warm = [r for r in records if r["warm"]]
        quality = sum(r["i"] not in failed for r in warm) / max(1, len(warm))
    else:
        latency = pct([r["lat_ns"] / 1e6 for r in measured if r["op"] == "search"], 50)
        done = sum(len(recalls.get(r["i"], [])) for r in measured)
        rec = [x for r in measured for x in recalls.get(r["i"], [])]
        quality = statistics.mean(rec) if rec else 0.0
    return {
        "setup_s": (summary["setup_s"], "s"),
        "latency_ms": (latency, "ms"),
        "throughput_per_s": (done / summary["measured_s"], "1/s"),
        "answer_recall": (quality, "fraction"),
        "heap_live_mb": (summary["heap_live_mb"], "MB"),
    }


def self_times(spans):
    """Per-span self time: duration minus the time its children cover."""
    child = [0] * len(spans)
    for name, s, e, parent, req in spans:
        if parent >= 0:
            child[parent] += e - s
    return [(sp[0], sp[4], (sp[2] - sp[1]) - c) for sp, c in zip(spans, child)]


SERVE_LAYERS = [
    ("Mcp.self_ms", "ms"), ("Embedder.embed_ms", "ms"), ("SearchEngine.glue_ms", "ms"),
    ("spark.sql.execs_per_req", "count"), ("spark.sql.plan_ms_per_req", "ms"),
    ("spark.jobs_per_req", "count"), ("spark.tasks_per_req", "count"),
    ("spark.exec_ms_per_req", "ms"), ("spark.executor_cpu_ms_per_req", "ms"),
    ("spark.rows_read_per_hit", "rows"), ("spark.bytes_read_per_req", "bytes"),
    ("AnnIndex.index_build_s", "s"), ("SearchEngine.index_fallbacks", "count"),
    ("AnnIndex.append_delta_ms", "ms"), ("AnnIndex.append_tombstones_ms", "ms"),
    ("SegmentStore.write_amp", "ratio"), ("SegmentStore.compactions", "count"),
    ("SegmentStore.live_segments", "count"), ("delta.rows_live", "rows"),
    ("ingest_p50_ms", "ms"), ("batch_p50_ms", "ms"),
]
BATCH_LAYERS = [
    ("queries.build_s", "s"), ("catalyst.plan_s", "s"), ("spark.exec_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.executor_cpu_s", "s"), ("plan.exchanges", "count"), ("plan.scans", "count"),
    ("warm.artifact_build_s", "s"),
]
SHARED_LAYERS = [("spark.core_busy_frac", "fraction"), ("trace.overhead_ms", "ms")]


def per_layer(workload, summary, records, recalls, model):
    """Every per-layer metric; those of the other workload read 0."""
    measured = [r for r in records if not r["warm"]]
    values = (batch_layers(summary, records, measured) if workload == "batch-suite"
              else serve_layers(summary, measured, model))
    return {k: (values.get(k, 0.0), u) for k, u in SERVE_LAYERS + BATCH_LAYERS + SHARED_LAYERS}


def cnt(rs, key):
    return sum(r["counters"][key] for r in rs)


def busy(rs, cores):
    return cnt(rs, "run_ms") / max(1e-9, sum(r["lat_ns"] for r in rs) / 1e6 * cores)


def serve_layers(summary, measured, model):
    singles = [r for r in measured if r["op"] == "search"]
    n = max(1, len(singles))
    ids = {r["i"] for r in singles}
    selfs = self_times(summary.get("spans", []))

    def self_ms(name, reqs):
        return sum(t for nm, q, t in selfs if nm == name and q in reqs) / 1e6 / max(1, len(reqs))

    engine = self_ms("SearchEngine.searchJsonRoot", ids)
    ingests = [r for r in measured if r["op"] == "ingest"]
    ing_ids = {r["i"] for r in ingests}
    store = [r["store"] for r in ingests]
    written = sum(s["bytes_written"] for s in store)
    segment = sum(s["segment_bytes"] for s in store)
    batches = [r["lat_ns"] / 1e6 for r in measured if r["op"] == "batch"]
    return {
        "Mcp.self_ms": self_ms("Mcp.tryHandle", ids),
        "Embedder.embed_ms": self_ms("Embedder.embed", ids),
        "SearchEngine.glue_ms": engine - cnt(singles, "sql_exec_ns") / 1e6 / n,
        "spark.sql.execs_per_req": cnt(singles, "sql_execs") / n,
        "spark.sql.plan_ms_per_req": cnt(singles, "plan_ms") / n,
        "spark.jobs_per_req": cnt(singles, "jobs") / n,
        "spark.tasks_per_req": cnt(singles, "tasks") / n,
        "spark.exec_ms_per_req": cnt(singles, "sql_exec_ns") / 1e6 / n,
        "spark.executor_cpu_ms_per_req": cnt(singles, "cpu_ns") / 1e6 / n,
        "spark.rows_read_per_hit": cnt(singles, "records_read") / max(1, n * check.K),
        "spark.bytes_read_per_req": cnt(singles, "bytes_read") / n,
        "spark.core_busy_frac": busy(singles, summary["cores"]),
        "AnnIndex.index_build_s": summary["index_build_s"],
        "SearchEngine.index_fallbacks": summary["index_fallbacks"],
        "AnnIndex.append_delta_ms": self_ms("AnnIndex.appendDeltaBatch", ing_ids),
        "AnnIndex.append_tombstones_ms": self_ms("AnnIndex.appendTombstones", ing_ids),
        "SegmentStore.write_amp": written / segment if segment else 0.0,
        "SegmentStore.compactions": sum(s["compactions"] for s in store),
        "SegmentStore.live_segments": store[-1]["live_segments"] if store else 0,
        "delta.rows_live": model.delta_rows_live(),
        "ingest_p50_ms": pct([r["lat_ns"] / 1e6 for r in ingests], 50) if ingests else 0.0,
        "batch_p50_ms": pct(batches, 50) if batches else 0.0,
        "trace.overhead_ms": cnt(singles, "tracer_ns") / 1e6 / n,
    }


def batch_layers(summary, records, measured):
    n = max(1, len(measured))
    ids = {r["i"] for r in measured}
    build = sum(e - s for name, s, e, _, q in summary.get("spans", [])
                if name == "queries.build" and q in ids)
    last_plans = [r["plans"][-1] for r in measured if r["plans"]]
    fastest = {q: min(v) for q, v in query_times(records).items()}
    warm_extra = sum(max(0.0, r["lat_ns"] / 1e6 - fastest.get(r["query"], 0.0))
                     for r in records if r["warm"]) / 1e3
    return {
        "queries.build_s": build / 1e9 / n,
        "catalyst.plan_s": cnt(measured, "plan_ms") / 1e3 / n,
        "spark.exec_s": cnt(measured, "sql_exec_ns") / 1e9 / n,
        "spark.jobs": cnt(measured, "jobs") / n,
        "spark.stages": cnt(measured, "stages") / n,
        "spark.tasks": cnt(measured, "tasks") / n,
        "spark.shuffle_write_bytes": cnt(measured, "shuffle_write_bytes") / n,
        "spark.spill_bytes": cnt(measured, "spill_bytes") / n,
        "spark.executor_cpu_s": cnt(measured, "cpu_ns") / 1e9 / n,
        "plan.exchanges": sum(p["exchanges"] for p in last_plans) / max(1, len(last_plans)),
        "plan.scans": sum(p["scans"] for p in last_plans) / max(1, len(last_plans)),
        "warm.artifact_build_s": warm_extra,
        "spark.core_busy_frac": busy(measured, summary["cores"]),
        "trace.overhead_ms": cnt(measured, "tracer_ns") / 1e6 / n,
    }


def write_trace(a, summary, plans):
    """Keep the run's spans, per-layer self times and plan fingerprints."""
    spans = summary.get("spans", [])
    layers = {}
    for name, _, t in self_times(spans):
        layers[name] = layers.get(name, 0) + t / 1e6
    d = os.path.join(WORK, "traces")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "%s_seed%d.json" % (a.workload, a.seed)), "w") as f:
        json.dump({"columns": ["name", "start_ns", "end_ns", "parent", "request"],
                   "spans": spans, "sql_spans_ms": summary.get("sql_spans", []),
                   "self_ms_by_layer": layers, "plans": plans}, f)


def plan_fingerprints(workload, records):
    """Executed-plan fingerprints of the measured traced ops.  batch-suite:
    per query, the plan its noop-sink execution ran.  serve-root-ingest:
    every distinct plan by hash, with how many SQL executions ran it."""
    out = {}
    for r in records:
        if r["warm"] or not r.get("plans"):
            continue
        if workload == "batch-suite":
            out.setdefault(r["query"], r["plans"][-1])
            continue
        for p in r["plans"]:
            e = out.setdefault(p["hash"], dict(p, count=0))
            e["count"] += 1
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources under %s; run from a checkout of the repository" % ROOT)
    os.makedirs(WORK, exist_ok=True)
    cp, jvm_opts = build(time.time() + 880)
    deadline = max(deadline, time.time() + DEADLINE_S)
    in_dir, sizes = inputs(a.workload, a.seed)
    run_dir = os.path.join(WORK, "run_%d" % os.getpid())
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out_file = os.path.join(run_dir, "records.jsonl")
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java"] + jvm_opts
           + ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
              "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
              "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
              "-cp", cp, "perfbench.Harness",
              "--route", WORKLOADS[a.workload], "--inputs", in_dir, "--out", out_file,
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cpus", str(cpus), "--work", run_dir])
    try:
        cpu0 = cpu_times()
        with open(os.path.join(run_dir, "harness.log"), "w") as log:
            code = run_child(cmd, run_dir, dict(os.environ), log, log, deadline)
        cpu1 = cpu_times()
        if code != 0:
            with open(os.path.join(run_dir, "harness.log")) as f:
                tail = f.read()[-3000:]
            fail("harness failed (exit %s):\n%s" % (code, tail))
        with open(out_file) as f:
            lines = [json.loads(l) for l in f if l.strip()]
    finally:
        if not os.environ.get("PERFBENCH_KEEP_RUN"):
            shutil.rmtree(run_dir, ignore_errors=True)
    summary = lines[-1]
    records = lines[:-1]
    model = None
    if a.workload == "batch-suite":
        with open(REFERENCE) as f:
            failed = check.check_batch(json.load(f), gen.BATCH_QUERIES, records)
        recalls = {}
    else:
        ops = gen.read_ops(os.path.join(in_dir, "ops.jsonl"))
        ids, vecs, labels, texts = gen.corpus_arrays(a.seed)
        model = check.LiveCorpus(ids, vecs, labels, texts)
        failed, recalls = check.check_run(model, ops, records)
    for i, why in sorted(failed.items())[:10]:
        print("perfbench: op %d failed: %s" % (i, why), file=sys.stderr)
    attempted = summary["attempted"]
    metrics = (per_layer(a.workload, summary, records, recalls, model) if a.trace
               else end_to_end(a.workload, summary, records, recalls, failed))
    if summary["index_fallbacks"]:
        failed.setdefault(-1, "index route fell back %d times" % summary["index_fallbacks"])
    correct = not failed and attempted == len(records)
    print("workload %s seed %d: %s, %d ops (%d warm-up), failed_frac %.4f"
          % (a.workload, a.seed, json.dumps(sizes), attempted,
             sum(r["warm"] for r in records), len(failed) / attempted))
    measured = [r for r in records if not r["warm"]]
    steal = (cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0))
    print("peak RSS %.0f MB; host CPU stolen %.1f%%" % (summary["peak_rss_mb"], 100 * steal))
    if a.workload == "batch-suite":
        print("per-query fastest ms: " + " ".join(
            "%s:%.0f" % (q, min(v)) for q, v in sorted(query_times(records).items())))
    else:
        singles = [r["lat_ns"] / 1e6 for r in measured if r["op"] == "search"]
        print("%d measured single calls, p90 %.0f ms" % (len(singles), pct(singles, 90)))
    print("measured op latencies (ms): " + " ".join(
        "%s:%.0f" % (r["op"][0], r["lat_ns"] / 1e6) for r in measured))
    for k, (v, u) in metrics.items():
        print("  %-32s %14.4f %s" % (k, v, u))
    if a.trace:
        plans = plan_fingerprints(a.workload, records)
        write_trace(a, summary, plans)
        print("plans " + json.dumps(plans, sort_keys=True))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
