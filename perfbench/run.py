#!/usr/bin/env python3
"""One benchmark run of the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the harness and the
program from the checkout's sources with sbt (offline) into .bench_build/
and generates the inputs into .bench_work/; later runs reuse both while
the sources are unchanged. Each run then starts one JVM with one Spark
driver at local[nproc] and prints, as its last stdout line, one JSON object
with the keys correct, attempted, failed and metrics. See
perfbench/README.md for the workloads and metrics.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
HARNESS = os.path.join(HERE, "harness")
WORKLOADS = ("wm_roundtrip", "serve_mix")
# the JVM is killed once a run, not counting a build, takes this long
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
# A fixed heap: letting G1 grow it made run-to-run times noisier.
# No hsperfdata file in /tmp. Spark 4 on JDK 17 needs the --add-opens
# list when the session is created outside spark-submit; it is the same
# list as the program's build.sbt.
JVM_OPTS = ["-Xms4g", "-Xmx4g", "-XX:-UsePerfData"] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Content hash of everything the build compiles."""
    h = hashlib.md5()
    roots = [os.path.join(ROOT, "src", "main"), HARNESS]
    for r in roots:
        for d, dirs, files in sorted(os.walk(r)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(HARNESS, "build.sbt"),
              os.path.join(HARNESS, "project", "build.properties")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """sbt-compile the harness with the program's sources; returns the
    runtime classpath and whether it built. Cached by source fingerprint."""
    os.makedirs(BUILD, exist_ok=True)
    fp = source_fingerprint()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("fingerprint") == fp:
            return s["classpath"], False
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's temp files stay in the checkout too
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"])
    # also for the short-lived JVMs the sbt script starts itself
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                         timeout=max(1.0, deadline - time.time()))
    if rc != 0:
        fail(f"build failed (rc {rc}), see {log}")
    cp = None
    with open(log) as f:
        for line in f:
            if "scala-2.13/classes" in line and ".jar" in line:
                cp = line.strip()
    if not cp:
        fail(f"build printed no classpath, see {log}")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp, True


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout and
    wait for it. Returns the exit code (-9 on timeout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def inputs():
    sys.path.insert(0, HERE)
    import gen
    return gen.base_corpus(os.path.join(WORK, "data"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program sources here ({need} missing)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    cp, built = build(t_start + BUILD_LIMIT_S)
    # a run that built gets the per-run limit after its build
    t_run = time.time() if built else t_start
    data = inputs()

    os.makedirs(WORK, exist_ok=True)
    for d in os.listdir(WORK):  # leftovers of runs that were killed
        if d.startswith("run-") and not os.path.exists(f"/proc/{d[4:]}"):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    work = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    nproc = len(os.sched_getaffinity(0))
    out_path = os.path.join(work, "stdout.txt")
    err_path = os.path.join(BUILD, f"last-{a.workload}.log")
    spawn_ns = time.time_ns()
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "graftbench.Harness",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--data", data, "--work", work, "--nproc", str(nproc),
           "--spawn-ns", str(spawn_ns),
           "--expected", os.path.join(HERE, "expected", "serve_mix.txt")]
    with open(out_path, "w") as out, open(err_path, "w") as err:
        rc = run_bounded(cmd, timeout=RUN_LIMIT_S - (time.time() - t_run),
                         cwd=work, stdout=out, stderr=err)
    with open(out_path) as f:
        lines = [l for l in f.read().splitlines() if l.strip()]
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not lines:
        fail(f"harness exited with {rc}, see {err_path}")
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result {lines[-1][:200]}")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
