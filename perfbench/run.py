#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as one JSON line.

    python3 perfbench/run.py --workload <loops|scan_heavy|serve_mix|etl_load> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The engine (src/main/scala) and the harness
(perfbench/src) are compiled together with the Scala compiler that ships in
Spark's jars, into $CARGO_TARGET_DIR (default .bench_build); a build is reused
while its sources are unchanged. The workload runs in a fresh JVM at
local[4]. Every measured metric, the posture stamp and the check outcomes go
to <build>/results/; the last line of stdout is
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics of
BENCHMARK.json (--trace 0) or its per-layer metrics (--trace 1); the line
before it holds the posture stamp, the error rate and every other metric
the workload measured.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("loops", "scan_heavy", "serve_mix", "etl_load")
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main:
        die("no engine sources under src/main/scala; run from a full checkout")
    return main + harness


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else ""
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die("SPARK_HOME must point at a Spark distribution whose jars/ include scala-compiler")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        die("no java executable (set JAVA_HOME or put java on PATH)")
    return exe


def build(build_dir, jars, srcs):
    """Compiles engine + harness unless a build of the same sources exists."""
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    digest = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(classes, ".source-sha")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(build_dir, "scalac-sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    t0 = time.time()
    subprocess.run([java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                    "scala.tools.nsc.Main",
                    "-nowarn", "-d", tmp, "-cp", cp, "@" + argfile], check=True,
                   stdout=sys.stderr)
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    with open(os.path.join(tmp, ".source-sha"), "w") as fh:
        fh.write(digest)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes, digest


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_jvm(cmd, env):
    """Runs the benchmark JVM in its own process group; kills it on timeout."""
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"workload exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--dump", help="also write each query's result as parquet under this dir")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    jars = spark_jars()
    srcs = sources()
    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR",
                                                                  ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one compile at a time per build dir
        classes, source_sha = build(build_dir, jars, srcs)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    scratch = os.path.join(build_dir, "run", f"{tag}-{os.getpid()}")
    results = os.path.join(build_dir, "results")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    record = os.path.join(results, f"{tag}.json")
    if os.path.exists(record):
        os.remove(record)
    cmd = [java(), f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           "-Dderby.stream.error.file=" + os.path.join(scratch, "derby.log")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--scratch", scratch, "--bench-dir", HERE,
            "--out", record, "--trace-out", os.path.join(results, f"{tag}.spans.json"),
            "--commit", git_commit(), "--source-sha", source_sha]
    if args.dump:
        cmd += ["--dump", os.path.abspath(args.dump)]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    # a terminated run still stops its JVM (run_jvm's finally kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = run_jvm(cmd, env)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if code != 0 or not os.path.exists(record):
        die(f"benchmark JVM exited with code {code}")

    with open(record) as fh:
        rec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    measured = rec["metrics"]
    metrics = {m["name"]: {"value": measured[m["name"]]["value"], "unit": m["unit"]}
               for m in wanted if m["name"] in measured}
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    failed = rec["failed"] + len(missing)
    attempted = max(1, rec["attempted"])
    # the workload's other metrics (latency percentiles, rates, per-route
    # and per-query layers) go on the line before the result
    print(json.dumps({"posture": rec["posture"], "errors": rec["errors"] + missing,
                      "error_rate": failed / attempted,
                      "other_metrics": {k: v for k, v in measured.items() if k not in metrics}}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
