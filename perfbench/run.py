#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload search|ingest --seed N \
        --seconds S --trace 0|1

Run it from the repository root. The first run compiles the engine and the
benchmark with sbt (offline) and caches the runtime classpath under
perfbench/target; later runs reuse it until a source or build file changes.
The last line of standard output is the run's result as one JSON object.
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
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads: both builds and their sources."""
    h = hashlib.sha256()
    for base in (ROOT, HERE):
        files = [os.path.join(base, f) for f in ("build.sbt",)]
        for sub in ("project", "src/main"):
            for d, dirs, names in os.walk(os.path.join(base, sub)):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                files += [os.path.join(d, n) for n in sorted(names)
                          if n.endswith((".scala", ".java", ".sbt", ".properties"))]
        for f in files:
            if os.path.isfile(f):
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources here (expected build.sbt and src/main/scala "
             "at the repository root)")
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH):
        with open(CLASSPATH) as f:
            cached_stamp, cp = f.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
                       + " -Dsbt.server.autostart=false")
    print("perfbench: building engine and benchmark with sbt", file=sys.stderr)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail("build failed: %s" % e)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed (sbt exit %d)" % p.returncode)
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["search", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = classpath()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseParallelGC",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", os.path.join(HERE, "work"), "--out", os.path.join(HERE, "out")]
    # runs are sequential: scratch left by a killed run is stale
    shutil.rmtree(os.path.join(HERE, "work"), ignore_errors=True)
    t0 = time.time()
    # a terminated runner stops its JVM too (see the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("run exceeded %d s" % RUN_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        fail("run failed (exit %d)" % proc.returncode)
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    print("perfbench: %s seed %d took %.1f s" % (a.workload, a.seed, time.time() - t0),
          file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
