#!/usr/bin/env python3
"""Repository benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness from source (sbt, into perfbench/target); later runs reuse the
build while the sources are unchanged. Each run then

1. generates its inputs from --seed under a fresh temp root inside the
   checkout (.perfbench-runs/), removed at the end;
2. launches the harness JVM (fixed heap, Spark local[n], n <= nproc),
   which warms up and then times a fixed number of ops sized from
   --seconds, one op in flight, no retries;
3. checks every output against expectations computed apart from the
   program (the generator's manifest, DuckDB);
4. prints one JSON line: correct, attempted, failed and the metrics —
   end-to-end with --trace 0, per-layer with --trace 1.

Workloads: slot_catchup, query_suite (see README.md).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

import checks
import gen
import layers

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
EVENTS_T0 = 1704067200  # 2024-01-01T00:00:00Z, start of gen's events table

# Work per run, sized from --seconds at a nominal op rate so that every
# run of a workload does the same work whatever the program's speed.
# slot_catchup warms up for 20 ticks: under the default tiered JIT, tick
# latency falls for the first 20-odd ticks while C2 compiles the hot paths
# on the same cores the tasks use (README.md, "Warm-up rule").
# The product payload is 4 MiB, 1/64 of a SEVIRI Level 1.5 native image
# (README.md, "Inputs and seeds").
SLOT = dict(warm=20, ops_per_s=1.2, payload_bytes=4 << 20)
# an even count, so the median op is the mean of the two middle ones
SUITE_QUERIES = [
    "q01_parquet_scan", "q07_catalog_pushdown", "q11_filter",
    "q20_inner_join", "q30_hash_agg",
    "q92h_random_projection", "q94g_regrid", "q79d_stream_classifier",
    "q41_lag_lead", "q52_union", "q60_string", "q80_scalar_udf",
]
SUITE = dict(passes_per_s=1 / 6)
# the traced suite run also measures the index layer on this corpus
INDEX = dict(batches=10, batch_size=40, dup_share=0.25)

JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC"]
# A run must end within 180 s of launch. No timed op starts later than
# DEADLINE_S after launch (the ops left are counted as failed), which
# leaves time for the output checks; a harness still running at KILL_S is
# stopped and the run fails.
DEADLINE_S = 140
KILL_S = 172
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def _fingerprint():
    parts = []
    for top in (os.path.join(REPO, "src", "main", "scala"),
                os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                parts.append(f"{os.path.relpath(p, REPO)}:{st.st_size}:"
                             f"{st.st_mtime_ns}")
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        st = os.stat(os.path.join(HERE, f))
        parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    return "\n".join(parts)


def build():
    """Compiles program + harness with sbt unless the last build is of
    the same sources. Returns the JVM classpath."""
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala")):
        fail("the program's sources (src/main/scala) are not in this checkout")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark distribution")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    fp = _fingerprint()
    if not (os.path.isdir(classes) and os.path.exists(stamp)
            and open(stamp).read() == fp):
        sbt = shutil.which("sbt") or fail("sbt not found")
        # the build resolves nothing new: Spark comes from SPARK_HOME and
        # the Scala toolchain from the local cache
        env = dict(os.environ, COURSIER_MODE="offline")
        r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.forcestart=false", "compile"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("build failed")
        with open(stamp, "w") as f:
            f.write(fp)
    return classes + os.pathsep + os.path.join(spark_home, "jars", "*")


# ------------------------------------------------------------------ harness

def run_harness(classpath, root, log, t_launch, **kv):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    out = os.path.join(root, "harness.json")
    deadline_ms = int((t_launch + DEADLINE_S) * 1000)
    args = [f"{k}={v}" for k, v in kv.items()] + [
        f"root={root}", f"out={out}", f"deadline_ms={deadline_ms}"]
    cmd = [java, *JVM_FLAGS, *opens, "-Dspark.ui.enabled=false",
           "-cp", classpath, "perfbench.Harness", *args]
    with open(log, "w") as lf:
        # cwd = the temp root, so anything the program writes to a
        # relative path stays inside it
        p = subprocess.Popen(cmd, cwd=root, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, t_launch + KILL_S - time.time()))
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        sys.stderr.write(open(log).read()[-6000:])
        fail(f"harness exited with {rc}")
    return json.load(open(out))


def cores():
    return max(1, min(4, os.cpu_count() or 1))


# ------------------------------------------------------------------ workloads

def slot_catchup(cp, root, rng, seconds, trace, t_launch):
    warm = SLOT["warm"]
    ops = max(1, round(seconds * SLOT["ops_per_s"]))
    n = warm + ops
    # a backlog of n slots, starting somewhere in the events table's month
    first = EVENTS_T0 + gen.SLOT_S * int(rng.integers(8, 2880 - n - 8))
    data = os.path.join(root, "data")
    gen.tables(int(rng.integers(1 << 62)), data, ["events"])
    zips = os.path.join(root, "zips")
    members = gen.slot_archives(int(rng.integers(1 << 62)), zips, first, n,
                                SLOT["payload_bytes"])
    h = run_harness(cp, root, os.path.join(root, "harness.log"), t_launch,
                    workload="slot_catchup", cores=cores(),
                    trace=trace, data=data, zips=zips, first_slot=first,
                    warm=warm, ops=ops)
    bad = checks.slot_catchup(root, data, first, h["ticks"], members)
    # a tick whose outputs do not check out is a failed op
    failed = sum(1 for k in bad if k >= warm)
    return h, ops, failed, not any(k < warm for k in bad)


def query_suite(cp, root, rng, seconds, trace, t_launch):
    passes = max(1, int(seconds * SUITE["passes_per_s"] + 0.5))
    ops = passes * len(SUITE_QUERIES)
    data = os.path.join(root, "data")
    gen.tables(int(rng.integers(1 << 62)), data,
               ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"])
    check_dir = os.path.join(root, "check")
    extra = {}
    if trace:
        corpus = os.path.join(root, "corpus.parquet")
        manifest = gen.corpus(int(rng.integers(1 << 62)), corpus,
                              INDEX["batches"], INDEX["batch_size"],
                              INDEX["dup_share"])
        extra = dict(corpus=corpus, batches=INDEX["batches"])
    h = run_harness(cp, root, os.path.join(root, "harness.log"), t_launch,
                    workload="query_suite", cores=cores(), trace=trace,
                    data=data, check=check_dir, queries=",".join(SUITE_QUERIES),
                    ops=ops, **extra)
    bad = checks.oracle(data, check_dir, h["oracle_sql"])
    for name, why in bad.items():
        print(f"perfbench: {name} does not match its oracle: {why}",
              file=sys.stderr)
    # every timed run of a query whose output is wrong is a failed op
    done = len(h["latency_ms"])
    failed = sum(1 for i in range(done) if SUITE_QUERIES[i % len(SUITE_QUERIES)]
                 in bad)
    ok = True
    if trace and "ingest_survivors" not in h:
        print("perfbench: out of time, the index layer was not measured",
              file=sys.stderr)
    elif trace:
        total = INDEX["batches"] * INDEX["batch_size"]
        ok = all(checks.ingest_ok(s, manifest, total)
                 for s in h["ingest_survivors"] + h["replay_survivors"])
    return h, ops, failed, ok


WORKLOADS = {"slot_catchup": slot_catchup, "query_suite": query_suite}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build()
    t_launch = time.time()
    runs = os.path.join(REPO, ".perfbench-runs")
    root = os.path.join(runs, f"{a.workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(root)
    try:
        rng = np.random.default_rng(a.seed)
        h, ops, failed, ok = WORKLOADS[a.workload](cp, root, rng, a.seconds,
                                                   a.trace, t_launch)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        if os.path.isdir(runs) and not os.listdir(runs):
            os.rmdir(runs)
    lat = h["latency_ms"]
    if len(lat) < ops:
        print(f"perfbench: out of time after {len(lat)} of {ops} timed ops; "
              "the rest count as failed", file=sys.stderr)
    failed += ops - len(lat)
    if a.trace:
        metrics = {k: {"value": v, "unit": layers.UNITS[k]}
                   for k, v in layers.collect(h).items()}
    else:
        metrics = {
            "latency_p50_ms": {"value": statistics.median(lat), "unit": "ms"},
            "throughput_ops_s": {"value": len(lat) / h["timed_wall_s"],
                                 "unit": "1/s"},
            "rss_peak_mb": {"value": h["rss_peak_mb"], "unit": "MB"},
            "setup_s": {"value": h["first_op_epoch_ms"] / 1000.0 - t_launch,
                        "unit": "s"},
        }
    print(json.dumps({"correct": bool(ok), "attempted": ops, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
