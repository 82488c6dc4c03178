#!/usr/bin/env python3
"""Run one benchmark workload against the HEDIS datamart engine.

    python3 hedisbench/run.py --workload gap_marts --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the harness together with
the program's sources (sbt, offline); later runs reuse the build while no
source changed. One JVM runs the workload: warm-up passes, then timed passes
over the mix for --seconds, then each query's result from its latest timed
run is written to parquet and compared with the query's DuckDB oracle here.
The last line of standard output is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with --trace 0, the per-layer
ones with --trace 1). See README.md for the workloads and the metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

T_START = time.time()

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import benchlib  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = "/root/testdata/sf0.1"
CORES = min(4, len(os.sched_getaffinity(0)))  # local[k], k at most nproc
PARTITIONS = 4
HEAP = "2g"
# A run must end within 180 s: the JVM gets 150 s of it, leaving room for
# the oracle check; a JVM that overshoots is killed and the run fails.
JVM_TIMEOUT_S = 150

# workload -> (its mix, warm-up passes). A fresh JVM's passes keep getting
# faster while the JIT compiles the driver-side code paths; the warm-up
# runs each mix until its pass times flatten (about 35 s of passes for the
# short gap queries, 30 s for the lifecycle ones on 4 cores), and counts in
# setup_s.
WORKLOADS = {
    "gap_marts": ([
        "q03_gap_col_status", "q04_gap_col_violations", "q05_fct_gap_exceptions",
        "q06_test_unique", "q07_test_relationships", "q08_test_accepted_values",
        "q29_gap_bcs_status",
    ], 6),
    "nightly_lifecycle": ([
        "q14_incremental_delete_insert", "q15_scd2_snapshot", "q61_microbatch_series",
    ], 5),
}

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"),
              ("cpu_s_per_pass", "s"), ("peak_rss_mb", "MB")]
PER_LAYER_UNITS = {
    "queries.call_s": "s", "queries.action_s": "s",
    "plans.analysis_s": "s", "plans.optimization_s": "s", "plans.planning_s": "s",
    "plans.sql_executions": "count",
    "sources.input_mb": "MB", "sources.input_rows": "count",
    "sources.rows_read_per_row_out": "ratio",
    "spark.jobs": "count", "spark.stages": "count",
    "spark.single_task_stages": "count", "spark.tasks": "count",
    "spark.job_busy_s": "s", "spark.driver_gap_s": "s", "spark.task_s": "s",
    "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.core_use": "ratio",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "engine.output_mb": "MB", "engine.output_rows": "count",
    "engine.stored_mb": "MB", "engine.files": "count",
    "engine.written_per_stored": "ratio",
}

ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def log(msg):
    print("[hedisbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files(root):
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(HERE, "src"), os.path.join(root, "src", "main", "scala")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(root):
    """Compile the harness and the program once per source state."""
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(HERE, "target", "build.stamp")
    digest = h.hexdigest()
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    log("building the harness and the program (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g "
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("sbt compile failed", 1)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def run_jvm(classes, queries, warmup, args, scratch, record):
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    launch_ms = time.time() * 1000.0
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p)] +
           ["-Xmx" + HEAP, "-Xms" + HEAP, "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp"),
            "-cp", classes + os.pathsep + "/opt/spark/jars/*",
            "hedisbench.Harness",
            "queries=" + ",".join(queries), "sf=" + SF_DIR,
            "seed=%d" % args.seed, "seconds=%d" % args.seconds,
            "warmup=%d" % warmup, "trace=%d" % args.trace,
            "cores=%d" % CORES, "partitions=%d" % PARTITIONS,
            "launchMs=%.3f" % launch_ms, "scratch=" + scratch, "out=" + record])
    jvm_log = os.path.join(scratch, "jvm.log")
    with open(jvm_log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(jvm_log) as fh:
            tail = fh.read()[-3000:]
        fail("harness JVM failed (%s):\n%s" % (rc, tail), 1)
    with open(record) as fh:
        return json.load(fh)


def check_results(rec, scratch):
    """Compare each query's parquet dump with its DuckDB oracle.

    Returns ({query: reason} for every mismatch, total result rows)."""
    con = duckdb.connect()
    for p in glob.glob(os.path.join(rec["sf"], "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.sql("CREATE VIEW %s AS SELECT * FROM '%s'" % (name, p))
    bad, rows = {}, 0
    for name in sorted(set(o["name"] for o in rec["ops"])):
        if name in rec["check_errors"]:
            bad[name] = "check run failed: " + rec["check_errors"][name]
            continue
        if name not in rec["oracles"]:
            bad[name] = "no oracle"
            continue
        try:
            sdf = pd.read_parquet(os.path.join(scratch, "check", name), engine="pyarrow")
            odf = con.sql(rec["oracles"][name]).df()
        except Exception as e:  # noqa: BLE001 -- any read/oracle error fails the query
            bad[name] = "%s: %s" % (type(e).__name__, str(e).splitlines()[0][:300])
            continue
        reason = benchlib.compare_frames(sdf, odf)
        if reason:
            bad[name] = reason
        rows += len(sdf)
    return bad, rows


def timed_passes(rec):
    return [p for p in rec["passes"] if p["timed"]]


def pass_seconds(rec, unstolen=True):
    """Wall time of each timed pass, with steal time taken out unless
    `unstolen` is false."""
    return [benchlib.unstolen((p["end_ms"] - p["start_ms"]) / 1e3, p["cpu_ns"] / 1e9,
                              p["steal_ms"] / 1e3 if unstolen else -1)
            for p in timed_passes(rec)]


def op_seconds(rec, unstolen=True):
    """Wall time of each operation of the timed passes, as pass_seconds."""
    idx = {p["index"] for p in timed_passes(rec)}
    return [benchlib.unstolen((o["call_ms"] + o["action_ms"]) / 1e3, o["cpu_ns"] / 1e9,
                              o["steal_ms"] / 1e3 if unstolen else -1)
            for o in rec["ops"] if o["pass"] in idx]


def end_to_end(rec, setup_start_ms):
    return {
        "setup_s": (rec["first_timed_ms"] - setup_start_ms) / 1e3,
        "pass_s": benchlib.median(pass_seconds(rec)),
        "op_p50_s": benchlib.median(op_seconds(rec)),
        "cpu_s_per_pass": benchlib.median([p["cpu_ns"] / 1e9 for p in timed_passes(rec)]),
        "peak_rss_mb": rec["peak_rss_kb"] * 1024 / benchlib.MB,
    }


def bound_violations(passes, workload):
    """Cross-checks between layer numbers and independently measured ones."""
    out = []
    for i, p in enumerate(passes):
        if p["spark.task_cpu_s"] > p["_cpu_s"]:
            out.append("pass %d: task CPU %.3f s above process CPU %.3f s"
                       % (i, p["spark.task_cpu_s"], p["_cpu_s"]))
        if p["spark.job_busy_s"] > p["_pass_s"]:
            out.append("pass %d: job-busy %.3f s above pass %.3f s"
                       % (i, p["spark.job_busy_s"], p["_pass_s"]))
        if not 0 < p["spark.core_use"] <= 1:
            out.append("pass %d: core use %.4f outside (0, 1]" % (i, p["spark.core_use"]))
        if workload == "nightly_lifecycle" and p["engine.stored_mb"] <= 0:
            out.append("pass %d: nothing stored by the lifecycle mix" % i)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("run from the repository root: src/main/scala/graft/SparkEntry.scala not found")
    if not os.path.isdir(SF_DIR):
        fail("test data not found: " + SF_DIR)

    setup_start_ms = T_START * 1000.0
    before = time.time()
    classes = build(root)
    if time.time() - before > 5:  # set-up time leaves compilation out
        setup_start_ms = time.time() * 1000.0

    queries, warmup = WORKLOADS[args.workload]
    tag = "%s-s%d-t%d" % (args.workload, args.seed, args.trace)
    scratch = os.path.join(HERE, "runs", "%s-p%d" % (tag, os.getpid()))
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    record_path = os.path.join(out_dir, tag + ".json")
    try:
        rec = run_jvm(classes, queries, warmup, args, scratch, record_path)
        bad, result_rows = check_results(rec, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    timed_idx = {p["index"] for p in rec["passes"] if p["timed"]}
    timed_ops = [o for o in rec["ops"] if o["pass"] in timed_idx]
    failed = [o for o in timed_ops if o["error"] or o["name"] in bad]
    for o in timed_ops:
        if o["error"]:
            log("pass %d %s failed: %s" % (o["pass"], o["name"], o["error"]))
    for name, reason in sorted(bad.items()):
        log("oracle mismatch %s: %s" % (name, reason))
    correct = not bad

    e2e = end_to_end(rec, setup_start_ms)
    log("workload %s seed %d: %d timed passes, %d ops, cores %d, partitions %d, "
        "heap %s, sf %s" % (args.workload, args.seed, len(timed_idx), len(timed_ops),
                            rec["cores"], rec["partitions"], HEAP, rec["sf"]))
    log("  " + " ".join("%s=%.4f" % kv for kv in e2e.items()))
    log("  steal s per timed pass %s; with it left in, pass_s=%.4f op_p50_s=%.4f" % (
        [p["steal_ms"] / 1e3 for p in timed_passes(rec)],
        benchlib.median(pass_seconds(rec, unstolen=False)),
        benchlib.median(op_seconds(rec, unstolen=False))))
    tail = benchlib.tail_percentile(op_seconds(rec))
    if tail:
        log("  op p%d %.4f s over %d ops" % (tail[0], tail[1], len(timed_ops)))
    if args.trace:
        passes = benchlib.pass_layers(rec, result_rows)
        violations = bound_violations(passes, args.workload)
        for v in violations:
            log("bound violated: " + v)
        correct = correct and not violations
        metrics = {k: {"value": benchlib.median([p[k] for p in passes]), "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": correct, "attempted": len(timed_ops),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
