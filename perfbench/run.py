#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

Usage (from the root of the checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: live_feed, contract_slate, keyed_state (see perfbench/README.md).
Every workload reads the committed sf0.1 events table in perfbench/data/.
The first run builds the program together with the harness (sbt, the
perfbench/ project); later runs reuse the build while the sources are
unchanged. The run's JVM prints every metric by name and unit
and, as the last stdout line, one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). The run's artifact, and with --trace 1
its spans, are written to perfbench/out/.

Exit status: 0 when every operation succeeded and passed its output check;
non-zero on any failure, and without a result when the program's sources
are not in the current directory.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("live_feed", "contract_slate", "keyed_state")
BUILD_TIMEOUT_S = 840
# a run is set-up (about 30 s) plus at most three timed phases: the
# traced keyed_state run times the workload at local[nproc] and local[1]
RUN_MARGIN_S = 90
RUN_PHASES = 3
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest(root, bench):
    """Digest of every input of the build: paths, sizes and contents."""
    h = hashlib.sha256()
    inputs = [os.path.join(bench, "build.sbt"),
              os.path.join(bench, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(bench, "src")):
        for d, _, files in os.walk(top):
            inputs += [os.path.join(d, f) for f in files]
    for p in sorted(inputs):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, bench):
    """Compile program + harness with sbt; return the runtime classpath."""
    target = os.path.join(bench, "target")
    cp_file = os.path.join(target, "perfbench-classpath.txt")
    stamp_file = os.path.join(target, "perfbench-build.stamp")
    digest = source_digest(root, bench)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as cf:
                    return cf.read().strip(), digest
    print("perfbench: building program and harness (sbt) ...", file=sys.stderr)
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must name the Spark distribution whose jars the program builds against", 3)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=bench, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    sys.stderr.write(proc.stdout)
    if proc.returncode != 0:
        fail(f"build failed (sbt exit {proc.returncode})", 3)
    classes = os.path.join("target", "scala-2.13", "classes")
    lines = [l.strip() for l in proc.stdout.splitlines() if classes in l and ":" in l]
    if not lines:
        fail("build printed no classpath", 3)
    cp = lines[-1]
    os.makedirs(target, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp + "\n")
    with open(stamp_file, "w") as fh:
        fh.write(digest + "\n")
    return cp, digest


def commit(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    root = os.getcwd()
    bench = os.path.join(root, "perfbench")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found in the current directory")
    if not os.path.isfile(os.path.join(bench, "build.sbt")):
        fail("run from the root of the checkout (perfbench/build.sbt not found)")

    cp, digest = build(root, bench)
    out = os.path.join(bench, "out")
    tmp = os.path.join(out, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed, pre-touched heap: no heap resizing or first-touch page
    # faults inside the timed phase, which otherwise vary run to run
    cmd += ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(bench, "log4j2.properties"),
            "-Duser.timezone=UTC", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--out", out, "--data", os.path.join(bench, "data"),
            "--slate", os.path.join(bench, "slate.tsv"),
            "--commit", f"{commit(root)}/src-{digest[:12]}"]

    proc = subprocess.Popen(cmd, cwd=root, stdin=subprocess.DEVNULL,
                            start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(4)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=RUN_MARGIN_S + RUN_PHASES * args.seconds)
    except subprocess.TimeoutExpired:
        print("perfbench: run timed out", file=sys.stderr)
        stop()
    # the JVM removes its own work dir; clear what a crash may have left
    shutil.rmtree(tmp, ignore_errors=True)
    for d in os.listdir(out):
        if d.startswith("work-") and not os.path.exists(f"/proc/{d[5:]}"):
            shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
