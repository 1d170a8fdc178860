#!/usr/bin/env python3
"""graphspark benchmark runner.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The script

1. compiles the program (src/main/scala) and the benchmark harness
   (perfbench/scala) with the Scala compiler shipped in Spark's jars, into
   .bench_build/classes, keyed by a hash of the sources;
2. starts one JVM (graftbench.BenchMain) with a local[nproc] Spark session,
   which generates the seeded inputs, sets up, warms up, measures for
   S seconds and checks every output after the timed region;
3. prints a readable report, then as its last line one JSON object with
   "correct", "attempted", "failed" and "metrics": every end_to_end metric
   of BENCHMARK.json with --trace 0, every per_layer metric with --trace 1.

Scratch files (inputs, checkpoints, the daemon's catalog, Spark local dirs)
live in .bench_build/runs/<run> and are removed at exit. Traced runs keep
their spans in .bench_build/traces/. Exits non-zero, without a result line,
when the program sources or the Spark installation are missing, the build
fails, or the JVM fails or runs out of time.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "scala")
CLIENT = os.path.join(ROOT, "perfbench", "daemon_client.py")
SUITE_CHECK = os.path.join(ROOT, "perfbench", "suite_check.py")
SUITE_DATA = os.path.join(ROOT, "perfbench", "data", "sf0.01")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    sys.stderr.write("perfbench: %s\n" % msg)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = os.path.exists(sbt) and re.search(
            r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if not m:
            fail("set SPARK_HOME: build.sbt names no Spark jar directory")
        jars = m.group(1)
    if not os.path.isdir(jars):
        fail("no Spark jars at %s (set SPARK_HOME)" % jars)
    return jars


def sources():
    for d in (PROGRAM_SRC, HARNESS_SRC):
        if not os.path.isdir(d):
            fail("missing sources: %s" % d)
    out = []
    for d in (PROGRAM_SRC, HARNESS_SRC):
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files
                    if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile program + harness unless the classes match the sources."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.key")
    if os.path.isdir(classes) and os.path.exists(stamp) \
            and open(stamp).read() == key:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = ":".join(sorted(os.path.join(jars, j) for j in os.listdir(jars)
                         if j.endswith(".jar")))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", tmp]
    r = subprocess.run(cmd + srcs, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(key)
    return classes


def run_jvm(classes, jars, a, work, result, trace_out):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS]
           + ["-cp", classes + ":" + os.path.join(jars, "*"),
              "graftbench.BenchMain",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--out", result, "--trace-out", trace_out,
              "--client", CLIENT, "--python", sys.executable,
              "--data", SUITE_DATA, "--suite-check", SUITE_CHECK])
    # the program's tuning knobs stay at their defaults, and Spark's local
    # dirs stay inside the run directory
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             env=env, cwd=work, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # the JVM and the daemon client it may have started
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    if rc != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        fail("JVM %s" % ("timed out" if rc is None else "exited with %d" % rc))


def tail_percentile(n):
    """Highest percentile with at least ten samples beyond it, if any."""
    for p in (99.9, 99.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100.0) >= 10:
            return p
    return None


def summarize(res, spec, trace):
    samples = res["samples"]
    setup = res["setup"]
    lines = ["workload %s  seed %s  trace %s" % (res["workload"],
                                                 res["seed"], trace)]
    gated = {m["name"] for m in spec["end_to_end"]}
    e2e = {"setup_s": sum(setup.values())}
    lines.append("  %-14s %10.4f s   %s (%s)" % (
        "setup_s", e2e["setup_s"], "gated" if "setup_s" in gated else "",
        ", ".join("%s %.3f" % kv for kv in setup.items())))
    # every timed operation, gated (in BENCHMARK.json) or not
    for name, xs in samples.items():
        e2e[name] = statistics.median(xs)
        p = tail_percentile(len(xs))
        tail = ("p%g %.4f" % (p, statistics.quantiles(
            xs, n=1000, method="inclusive")[int(p * 10) - 1])
            if p else "no tail percentile (n < 20)")
        lines.append("  %-14s %10.4f s   %s median of n=%d; %s; samples %s" % (
            name, e2e[name], "gated" if name in gated else "     ", len(xs),
            tail, " ".join("%.3f" % x for x in xs)))
    bad = [c for c in res["checks"] if not c["ok"]]
    for c in res["checks"]:
        lines.append("  check %-4s %s %s" % (
            "ok" if c["ok"] else "FAIL", c["name"], c["detail"] if not
            c["ok"] else ""))
    failed = res["failed"]
    attempted = max(res["attempted"], 1)
    lines.append("  error_rate %.4f (%d failed or wrong of %d operations)" % (
        failed / attempted, failed, attempted))
    lines += ["  note: %s" % n for n in res.get("notes", [])]
    if trace:
        for m in spec["per_layer"]:
            v = res["layers"].get(m["name"])
            lines.append("  %-28s %14s %s" % (
                m["name"], "missing" if v is None else "%.4f" % v, m["unit"]))
    correct = failed == 0 and not bad and bool(res["checks"])
    if trace:
        missing = [m["name"] for m in spec["per_layer"]
                   if res["layers"].get(m["name"]) is None]
        if missing:
            raise KeyError("per-layer metrics missing: %s" % missing)
        metrics = {m["name"]: {"value": res["layers"][m["name"]],
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    return lines, {"correct": correct, "attempted": attempted,
                   "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail("unknown workload %s" % a.workload)
    if not os.path.exists(os.path.join(ROOT, "tools", "graft_client.py")):
        fail("missing tools/graft_client.py")
    jars = spark_jars()
    classes = build(jars)

    run_id = "%s-seed%d-trace%d-%d" % (a.workload, a.seed, a.trace,
                                      os.getpid())
    work = os.path.join(BUILD, "runs", run_id)
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    trace_out = os.path.join(traces, run_id + ".json")
    try:
        run_jvm(classes, jars, a, work, result, trace_out)
        with open(result) as f:
            res = json.load(f)
        lines, out = summarize(res, spec, bool(a.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("\n".join(lines))
    if a.trace:
        print("  spans and jobs: %s" % os.path.relpath(trace_out, ROOT))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
