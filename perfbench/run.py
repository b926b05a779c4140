"""Benchmark of the text-reuse ETL engine: one workload, one seed, one run.

Run from the repository root:

    python3 perfbench/run.py --workload etl_build --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source into .bench_build/ (first
run only), generates the workload's inputs from the seed, runs the JVM
harness (perfbench/src) in a fresh temporary root under
.bench_build/runs/, checks the outputs in DuckDB outside the timed
region, and prints one JSON result as the last line of stdout. Exits
non-zero when the build fails, the harness fails or an output check
fails. The temporary root is deleted at exit; traced runs keep their
spans in .bench_build/traces/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("etl_build", "catalog_lookups")
# hits in each workload's input
ETL_HITS = 20000
LOOKUP_HITS = 10000
# a fixed heap (initial = maximum) keeps the peak RSS from following
# the collector's resizing decisions
JVM_HEAP = "2g"
# a run must end well inside 180 s; the JVM gets what is left of this
RUN_BUDGET_S = 170
BUILD_TIMEOUT_S = 850

# per-layer metrics and their units; a traced run reports all of them, 0
# where the workload does not exercise the layer
PER_LAYER_UNITS = {
    "ingest.s": "s", "ingest.cpu_s": "s", "ingest.rows_out": "count",
    "ingest.input_bytes": "bytes",
    "ids.s": "s", "ids.jobs": "count",
    "textreuse.s": "s", "textreuse.cpu_s": "s", "textreuse.shuffle_bytes": "bytes",
    "defrag.s": "s", "defrag.cpu_s": "s", "defrag.shuffle_bytes": "bytes",
    "defrag.merge_ratio": "ratio",
    "cluster.s": "s", "cluster.cpu_s": "s", "cluster.jobs": "count",
    "cluster.shuffle_bytes": "bytes", "cluster.checkpoint_bytes": "bytes",
    "cluster.largest_cluster": "count", "cluster.build_share": "ratio",
    "analytics.s": "s", "analytics.cpu_s": "s", "analytics.shuffle_bytes": "bytes",
    "analytics.reception_edges_rows": "count",
    "core.publish_bytes": "bytes", "core.publish_files": "count", "core.get_ms": "ms",
    "core.bytes_per_input_byte": "ratio",
    "sink.s": "s", "sink.load_s": "s", "sink.index_s": "s", "sink.rows_per_s": "1/s",
    "build.self_s": "s", "trace.layer_share": "ratio",
    "lookup.reception_of.p50_ms": "ms", "lookup.coverage_of.p50_ms": "ms",
    "lookup.cluster_members.p50_ms": "ms", "lookup.inception_of.p50_ms": "ms",
    "lookup.p50_ms": "ms", "lookup.p95_ms": "ms", "lookup.samples": "count",
    "lookup.driver_ms": "ms",
    "lookup.jobs_per_query": "count", "lookup.rows_scanned_per_result": "ratio",
    "lookup.bytes_scanned_per_query": "bytes",
    "spark.jobs": "count", "spark.tasks": "count", "spark.job_floor_ms": "ms",
    "spark.floor_share": "ratio", "spark.spill_bytes": "bytes", "spark.gc_s": "s",
    "trace_overhead.pass_s": "s", "trace_overhead.pass_cpu_s": "s",
    "trace_overhead.call_p50_ms": "ms", "error_rate": "ratio",
}

SBT_FLAGS = [
    "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
    "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
    "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
]
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

_child = None


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp(repo):
    """Hash of every file the harness build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(repo, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, repo).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation: SPARK_HOME, else the one spark-submit is in."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def build(repo, build_dir):
    """Compile engine + harness with sbt unless the sources are unchanged;
    return (runtime classpath, source stamp, whether it built)."""
    stamp = source_stamp(repo)
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp, False
    log("building the engine and the harness (sbt)")
    tmp = os.path.join(build_dir, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch"] + SBT_FLAGS + [
        "-Dsbt.global.base=" + os.path.join(build_dir, "sbt-global"),
        "-Djava.io.tmpdir=" + tmp, "-J-XX:-UsePerfData",
        "compile", "export Runtime/fullClasspath"]
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S, text=True)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip(), stamp, True


def run_jvm(classpath, root, args, deadline):
    """Run the harness main; return its peak RSS in MB."""
    global _child
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = ["java", "-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP, "-XX:-UsePerfData"] + opens + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + os.path.join(root, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(root, "warehouse"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dderby.system.home=" + os.path.join(root, "derby"),
        "-Dderby.stream.error.file=" + os.path.join(root, "derby.log"),
        "-cp", classpath, "perfbench.Main"] + args
    with open(os.path.join(root, "jvm.log"), "w") as logf:
        _child = subprocess.Popen(cmd, cwd=root, stdout=logf, stderr=subprocess.STDOUT)
        while True:
            pid, status, usage = os.wait4(_child.pid, os.WNOHANG)
            if pid:
                break
            if time.monotonic() > deadline:
                _child.kill()
                _child.wait()
                _child = None
                fail("harness exceeded the run budget")
            time.sleep(0.05)
    _child = None
    if os.waitstatus_to_exitcode(status) != 0:
        with open(os.path.join(root, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        fail("harness failed")
    return usage.ru_maxrss / 1024.0


def main():
    t_start = time.monotonic()
    p = argparse.ArgumentParser(description="Run one benchmark workload.")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiplies the input sizes (smoke tests use less than 1)")
    a = p.parse_args()

    repo = os.getcwd()
    if not os.path.isdir(os.path.join(repo, "src", "main", "scala", "graft")):
        fail("run from the repository root: src/main/scala/graft not found")
    build_dir = os.path.join(repo, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classpath, stamp, built = build(repo, build_dir)
    # a run that had to build gets its full budget after the build
    deadline = (time.monotonic() if built else t_start) + RUN_BUDGET_S

    runs = os.path.join(build_dir, "runs")
    os.makedirs(runs, exist_ok=True)
    root = os.path.join(runs, "%s-%d-%d" % (a.workload, os.getpid(), time.time_ns()))
    os.makedirs(root)
    try:
        result = run(a, build_dir, root, classpath, stamp, deadline)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def run(a, build_dir, root, classpath, stamp, deadline):
    t0 = time.monotonic()
    inputs = os.path.join(root, "input")
    args = ["--workload", a.workload, "--root", root, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--seed", str(a.seed),
            "--cores", str(min(4, len(os.sched_getaffinity(0))))]
    hits = ETL_HITS if a.workload == "etl_build" else LOOKUP_HITS
    zip_path, meta = gen.write(os.path.join(inputs, "main"), a.seed,
                               max(200, int(hits * a.scale)))
    args += ["--zip", zip_path, "--meta", meta]
    gen_s = time.monotonic() - t0

    peak_rss_mb = run_jvm(classpath, root, args, deadline)
    with open(os.path.join(root, "result.json")) as f:
        res = json.load(f)

    problems = checks.check(a.workload, res, inputs, build_dir, stamp)
    for msg in problems:
        log("check failed: " + msg)
    if a.trace:
        spans = os.path.join(root, "spans.jsonl")
        if os.path.exists(spans):
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(spans, os.path.join(traces, "%s-seed%d.jsonl" % (a.workload, a.seed)))

    e2e = res["e2e"]
    setup_s = gen_s + e2e["setup_s"]
    attempted, failed = res["attempted"], res["failed"]
    values = {
        "setup_s": (setup_s, "s"),
        "pass_s": (e2e["pass_s"], "s"),
        "pass_cpu_s": (e2e["pass_cpu_s"], "s"),
        "call_p50_ms": (e2e["call_p50_ms"], "ms"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    report_issue_names(a.workload, res, values, attempted, failed)
    if a.trace:
        layer = dict(res["per_layer"])
        layer["error_rate"] = failed / max(1, attempted)
        metrics = {k: {"value": layer.get(k, 0.0) or 0.0, "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    return {"correct": not problems, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def report_issue_names(workload, res, values, attempted, failed):
    """One human-readable line with the workload's figures, with units,
    under the names the README gives them per workload."""
    pl = res["per_layer"]
    named = [("setup_s", values["setup_s"]), ("peak_rss_mb", values["peak_rss_mb"]),
             ("error_rate", (failed / max(1, attempted), "ratio"))]
    if workload == "etl_build":
        named += [("etl_build_s", values["pass_s"]), ("etl_cpu_s", values["pass_cpu_s"]),
                  ("clusters_ms", values["call_p50_ms"])]
    else:
        named += [("lookup_ms", values["call_p50_ms"]),
                  ("lookup_p50_ms", (pl["lookup.p50_ms"], "ms")),
                  ("lookup_p95_ms", (pl["lookup.p95_ms"], "ms")),
                  ("lookup_samples", (pl["lookup.samples"], "count"))]
    named.append(("job_floor_ms", (pl["spark.job_floor_ms"], "ms")))
    log(workload + ": " + " ".join("%s=%.4g %s" % (k, x, u) for k, (x, u) in named)
        + " passes_s=" + ",".join("%.3f" % x for x in res["e2e"]["passes_s"]))


def _terminate(signum, _frame):
    if _child is not None and _child.poll() is None:
        _child.kill()
        _child.wait()
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGINT, _terminate)
    main()
