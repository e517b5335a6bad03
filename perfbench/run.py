"""Benchmark entry point.

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program and the benchmark
harness (perfbench/build.py), generates the seed's inputs once
(perfbench/gen.py, cached under .bench_build/inputs), starts one fresh
JVM for the run, and prints the metrics as one JSON object on the last
line of standard output. Progress and a per-metric summary go to the
lines before it.

The sf0.1 tables are read from $SPARK_GRAFT_SF_DIR, by default
~/testdata/sf0.1; the Spark jars from $SPARK_HOME/jars.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("catalog_refresh", "corpus_ingest", "catalog_reads")
SETUP_REPS = 2
# a fixed heap and young generation keep the resident set of one run
# comparable with the next (G1 otherwise sizes both adaptively)
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-Xmn768m"]
TIMEOUT_S = 170

SPANS = [
    "etl.Warehouse.upsertBucketed", "etl.TagStage.run",
    "etl.Curation.patchTagsCombined", "etl.Curation.markCurated",
    "streaming.StreamingIngest.bootstrap", "streaming.StreamingIngest.ingestSink",
    "streaming.StreamingIngest.ingestSink.decide",
    "streaming.StreamingIngest.ingestSink.state_write",
    "read.lookup", "read.listing", "read.similar", "read.search", "read.asof",
]
COUNTERS = ["wall_s", "jobs", "tasks", "task_cpu_s", "core_busy", "shuffle_mb",
            "spill_mb", "gc_s", "plan_ms"]
EXTRAS = [
    ("sources.readProductTree.scan_s", "s"),
    ("sources.readProductTree.files", "count"),
    ("policy.TagPolicy.us_per_row", "us"),
    ("etl.Warehouse.bytes_written", "bytes"),
    ("etl.Warehouse.files_written", "count"),
    ("streaming.StreamingIngest.ingestSink.state_files_read", "count"),
    ("read.lookup.files_read", "count"),
    ("read.similar.cells_read_ratio", "ratio"),
    ("trace.overhead_ms", "ms"),
]
COUNTER_UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count", "task_cpu_s": "s",
                 "core_busy": "ratio", "shuffle_mb": "MB", "spill_mb": "MB",
                 "gc_s": "s", "plan_ms": "ms"}
# the JDK 17 module opens that build.sbt gives its forked JVMs
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def per_layer_names():
    """Every per-layer metric as (name, unit), in BENCHMARK.json order."""
    return [("%s.%s" % (s, c), COUNTER_UNITS[c]) for s in SPANS for c in COUNTERS] + EXTRAS


def log(msg):
    print("[perfbench] " + msg, flush=True)


def inputs_for(seed, workload):
    data = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
    if not os.path.isfile(os.path.join(data, "documents.parquet")):
        raise RuntimeError("sf0.1 tables not found in %s (set SPARK_GRAFT_SF_DIR)" % data)
    # keyed by the generator's own source, so a changed generator regenerates
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.abspath(os.path.join(build.BUILD_DIR, "inputs", version,
                                       "%s-seed%d" % (workload, seed)))
    stamp = os.path.join(out, "facts.json")
    if not os.path.exists(stamp):
        t0 = time.time()
        gen.generate(seed, data, out, (workload,))
        log("generated inputs for seed %d in %.1f s" % (seed, time.time() - t0))
    return out


def run_jvm(classpath, workload, inputs, seconds, trace, cores):
    work = os.path.abspath(os.path.join(build.BUILD_DIR, "work", workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    logs = os.path.join(build.BUILD_DIR, "logs")
    os.makedirs(logs, exist_ok=True)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] + [
        *JVM_MEMORY, "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", classpath, "perfbench.Main",
        "--workload", workload, "--input", inputs, "--work", work,
        "--seconds", str(seconds), "--trace", str(trace),
        "--setup-reps", str(SETUP_REPS), "--cores", str(cores), "--out", out]
    log_path = os.path.join(logs, "%s-trace%d.log" % (workload, trace))
    t_launch = time.time()
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError("run exceeded %d s; see %s" % (TIMEOUT_S, log_path))
        finally:
            # the JVM never outlives the runner, however it is stopped
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        raise RuntimeError("JVM exited %d; see %s" % (rc, log_path))
    with open(out) as f:
        res = json.load(f)
    res["jvm_session_s"] = res["session_ready_epoch_ms"] / 1e3 - t_launch
    return res


def check_digests(workload, seed, ops):
    """Compare op digests with earlier runs of this seed, then record them."""
    path = os.path.join(build.BUILD_DIR, "digests", "%s-seed%d.json" % (workload, seed))
    stored = {}
    if os.path.exists(path):
        with open(path) as f:
            stored = json.load(f)
    fresh = {str(op["i"]): op["digest"] for op in ops if op["digest"]}
    bad = stats.compare_digests(stored, fresh)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(dict(stored, **{k: v for k, v in fresh.items() if k not in stored}), f)
    return bad


def trace_overhead(workload, trace, ops):
    """Record an untraced run's op p50; for a traced run return its op p50
    minus the median of the untraced runs' (0 when none was recorded)."""
    path = os.path.join(build.BUILD_DIR, "walls", workload + ".json")
    runs = []
    if os.path.exists(path):
        with open(path) as f:
            runs = json.load(f)
    p50 = stats.median([op["ms"] for op in ops])
    if not trace:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(runs + [p50], f)
        return 0.0
    if not runs:
        log("no untraced run of %s recorded yet: trace.overhead_ms reads 0" % workload)
        return 0.0
    return p50 - stats.median(runs)


def end_to_end(res):
    ops = res["ops"]
    ms = [op["ms"] for op in ops]
    lat = stats.latency_summary(ms)
    items = sum(op["items"] for op in ops)
    setup = res["jvm_session_s"] + stats.median(res["setup_reps_s"]) + res["warmup_s"]
    metrics = {
        "setup_s": (setup, "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "mix_p50_ms": (stats.mix_median(ops), "ms"),
        "op_p90_ms": (lat["p90"], "ms"),
        "items_per_s": (items / (sum(ms) / 1e3), "1/s"),
    }
    return metrics, lat


def per_layer(res):
    raw = res.get("layers", {})
    get = lambda k: float(raw.get(k, 0.0))
    out = {}
    for s in SPANS:
        for c in COUNTERS:
            out["%s.%s" % (s, c)] = get("%s.%s" % (s, c))
    up = "etl.Warehouse.upsertBucketed"
    out["sources.readProductTree.scan_s"] = (
        get("sources.readProductTree.wall_s") + get(up + ".#json_stage_s")
        if raw.get(up + ".#calls") else 0.0)
    out["sources.readProductTree.files"] = get(up + ".#json_scan_files")
    out["policy.TagPolicy.us_per_row"] = get("policy.TagPolicy.us_per_row")
    out["etl.Warehouse.bytes_written"] = get(up + ".#write_bytes")
    out["etl.Warehouse.files_written"] = get(up + ".#write_files")
    out["streaming.StreamingIngest.ingestSink.state_files_read"] = get(
        "streaming.StreamingIngest.ingestSink.#scan_files")
    out["read.lookup.files_read"] = get("read.lookup.#scan_files")
    idx = get("read.similar.#index_files")
    out["read.similar.cells_read_ratio"] = get("read.similar.#scan_files") / idx if idx else 0.0
    out["trace.overhead_ms"] = res["trace_overhead_ms"]
    units = dict(per_layer_names())
    return {k: (v, units[k]) for k, v in out.items()}


def summary(workload, res, lat, metrics):
    """Human-readable lines: the workload's own metric names, with units
    and sample counts, ahead of the JSON line."""
    ops = res["ops"]
    n = lat["n"]
    log("setup: jvm+session %.2f s, setup reps %s s, warm-up %.2f s" % (
        res["jvm_session_s"], ["%.2f" % s for s in res["setup_reps_s"]], res["warmup_s"]))
    log("peak_rss_mb = %.1f MB" % res["peak_rss_mb"])
    if workload == "catalog_refresh":
        log("refresh_products_per_s = %.1f 1/s (%d refreshes)" % (metrics["items_per_s"][0], n))
    elif workload == "corpus_ingest":
        log("ingest_batch_p50_ms = %.1f ms (n=%d)" % (lat["p50"], n))
        log("ingest_docs_per_s = %.1f 1/s" % metrics["items_per_s"][0])
    else:
        log("read_p50_ms = %.1f ms, read_p90_ms = %.1f ms (n=%d)" % (lat["p50"], lat["p90"], n))
        if lat["tail_p"]:
            log("read tail: p%d = %.1f ms (>=10 samples beyond)" % (lat["tail_p"], lat["tail"]))
        log("reads_per_s = %.2f 1/s" % metrics["items_per_s"][0])
        for kind in ("lookup", "listing", "similar", "search", "asof"):
            ks = [op["ms"] for op in ops if op["kind"] == kind]
            if ks:
                log("read.%s_p50_ms = %.1f ms (n=%d)" % (kind, stats.median(ks), len(ks)))


def main():
    ap = argparse.ArgumentParser(description="perfbench: seeded workloads over the graft engine")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cores = len(os.sched_getaffinity(0))
    try:
        t0 = time.time()
        classpath = build.build()
        log("build ready in %.1f s" % (time.time() - t0))
        inputs = inputs_for(a.seed, a.workload)
        res = run_jvm(classpath, a.workload, inputs, a.seconds, a.trace, cores)
    except RuntimeError as e:
        print("perfbench: " + str(e), file=sys.stderr)
        return 2
    digest_bad = check_digests(a.workload, a.seed, res["ops"])
    attempted, failed, names = stats.count_failures(res["ops"], digest_bad)
    for nm in names:
        log("FAILED " + nm)
    res["trace_overhead_ms"] = trace_overhead(a.workload, a.trace, res["ops"])
    metrics, lat = end_to_end(res)
    summary(a.workload, res, lat, metrics)
    log("ops_attempted = %d, ops_failed = %d" % (attempted, failed))
    if a.trace:
        metrics = per_layer(res)
        with open(os.path.join(build.BUILD_DIR, "logs", "%s-trace.json" % a.workload), "w") as f:
            json.dump({"spans": res.get("spans", []), "layers": res.get("layers", {})}, f)
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
