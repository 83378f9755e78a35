#!/usr/bin/env python3
"""Runs one benchmark workload against the graft engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine's sources together with the harness in
perfbench/ (sbt, offline); later runs reuse the build while the sources
are unchanged. The harness runs in one JVM with local[nproc] Spark and a
heap sized from MemTotal. The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end ones; with
--trace 1 its per_layer ones, plus the tracing overhead against this
checkout's untraced runs. A workload must report every per-layer metric
it owns (see owns()); the other workload's read 0.
Runtime files go to $CARGO_TARGET_DIR (default .bench_build).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("ml_batch", "reco_serve")
# per-layer metrics every workload reports; the rest belong to one
SHARED_LAYERS = ("core.session_start_s", "jvm.peak_rss_mb", "trace.overhead_pct")
RECO_SERVE_LAYERS = ("serve.", "foldin.recommend_", "foldin.foldInVector_")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

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


def work_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_files():
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dp, _, fs in os.walk(r):
            files += [os.path.join(dp, f) for f in fs]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(work, stamp):
    """Compiles engine + harness once per source state; returns the
    runtime classpath."""
    cp_file = os.path.join(work, "classpath.txt")
    stamp_file = os.path.join(work, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
    cps = [l for l in lines if "scala-2.13" in l and os.pathsep in l and " " not in l]
    if proc.returncode != 0 or not cps:
        print(proc.stdout[-6000:], file=sys.stderr)
        fail("build failed", 1)
    os.makedirs(work, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1]


def heap_mb():
    """A quarter of MemTotal, between 2 and 6 GiB."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return max(2048, min(6144, int(line.split()[1]) // 4096))
    return 2048


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def owns(workload, layer):
    """Whether `workload` reports the per-layer metric `layer`."""
    if layer in SHARED_LAYERS:
        return True
    return (workload == "reco_serve") == layer.startswith(RECO_SERVE_LAYERS)


def shape_metrics(res, spec, trace, workload, work, stamp):
    """Keeps exactly the metrics BENCHMARK.json names for this mode."""
    got = res["metrics"]
    if not trace:
        names = [m["name"] for m in spec["end_to_end"]]
        missing = [n for n in names if n not in got]
        if missing:
            fail(f"workload {workload} did not report {missing}", 1)
        res["metrics"] = {n: got[n] for n in names}
        with open(os.path.join(work, "untraced.jsonl"), "a") as fh:
            fh.write(json.dumps({"workload": workload, "build": stamp,
                                 "op_p50_ms": got["op_p50_ms"]["value"]}) + "\n")
        return res
    e2e = {m["name"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    unknown = [n for n in got if n not in layers and n not in e2e]
    if unknown:
        fail(f"workload {workload} reported unlisted metrics {unknown}", 1)
    # tracing overhead: this traced run's median operation against the
    # untraced runs of the same workload and build in this checkout
    base = []
    hist = os.path.join(work, "untraced.jsonl")
    if os.path.exists(hist):
        with open(hist) as fh:
            recs = [json.loads(l) for l in fh]
        base = [r["op_p50_ms"] for r in recs
                if r["workload"] == workload and r.get("build") == stamp]
    overhead = 0.0
    if base and statistics.median(base) > 0:
        overhead = 100.0 * (got["op_p50_ms"]["value"] / statistics.median(base) - 1.0)
    got["trace.overhead_pct"] = {"value": overhead, "unit": "%"}
    missing = [n for n in layers if owns(workload, n) and n not in got]
    if missing:
        fail(f"workload {workload} did not report {missing}", 1)
    res["metrics"] = {n: got[n] if owns(workload, n) else {"value": 0, "unit": u}
                      for n, u in layers.items()}
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; known: {', '.join(WORKLOADS)}")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build and run the benchmark")
    if not os.environ.get("SPARK_HOME"):
        # the distribution that holds spark-submit
        submit = shutil.which("spark-submit")
        if submit is None:
            fail("set SPARK_HOME to the Spark distribution whose jars to build against")
        os.environ["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    work = work_dir()
    os.makedirs(work, exist_ok=True)
    stamp = source_stamp()
    cp = build(work, stamp)
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed heap: no run-to-run differences in how far G1 grew it
    heap = heap_mb()
    # AlsTrainer runs 15 iterations with no checkpoint directory, so the
    # factor RDDs' lineage grows with every iteration; (de)serializing a
    # task over it now and then overflows the default 1 MB thread stack
    # (a StackOverflowError; with 320 KB stacks it happens at once).
    # 4 MB stacks give that recursion room until the engine truncates
    # the lineage.
    cmd += ["-Xss4m", f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work-dir", run_dir]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    try:
        proc = subprocess.run(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"workload {a.workload} did not finish in {RUN_TIMEOUT_S} s", 1)
    if a.trace:
        traces = os.path.join(work, "traces")
        os.makedirs(traces, exist_ok=True)
        for f in os.listdir(run_dir):
            if f.startswith("trace-"):
                shutil.move(os.path.join(run_dir, f), os.path.join(traces, f))
    shutil.rmtree(run_dir, ignore_errors=True)
    out = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not out:
        fail(f"workload {a.workload} exited with {proc.returncode}", 1)
    res = shape_metrics(json.loads(out[-1]), spec, a.trace, a.workload, work, stamp)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
