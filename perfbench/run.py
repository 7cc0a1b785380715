#!/usr/bin/env python3
"""Annotation benchmark runner.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the harness and the engine from source (sbt, offline) whenever a
source or build file changed since the last build,
then runs one workload in a fresh JVM. The harness prints its metrics as a
JSON object on the last line of stdout; this script relays it and exits with
the harness's exit code.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["etl_stream", "api_batches"]
CLASSPATH = os.path.join(HERE, "target", "runtime-classpath.txt")
CDS = os.path.join(HERE, "target", "perfbench.jsa")
STAMP = os.path.join(HERE, "target", "source-digest.txt")
WORK = os.path.join(HERE, ".work")

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build: the engine's sources and
    resources, the harness's sources and both build definitions."""
    md = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for t in trees:
        for d, dirs, names in os.walk(t):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            md.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                md.update(hashlib.sha256(fh.read()).digest())
    return md.hexdigest()


def build():
    """Build when any source or build file differs from the last build,
    so a run always measures the checked-out code."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from a full checkout")
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    if shutil.which("sbt") is None:
        fail("sbt not found")
    for f in (STAMP, CDS):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail("build failed")
    # A class-data sharing archive of one short traced run (which calls
    # every layer) halves JVM and Spark start-up in later runs. Without
    # it the runs are slower but measure the same code. It is rewritten
    # after every build, as it holds the built classes.
    run_harness(["--workload", "api_batches", "--seed", "0", "--seconds", "1",
                 "--trace", "1"], [f"-XX:ArchiveClassesAtExit={CDS}"],
                stdout=subprocess.DEVNULL)
    with open(STAMP, "w") as f:
        f.write(digest + "\n")


def run_harness(args, jvm_opts, stdout=None, timeout=170):
    """Run the harness in a fresh JVM from an empty work directory."""
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    cmd += jvm_opts
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args + ["--work", WORK]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=stdout)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run exceeded its time limit")
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    return code


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # `reference` sizes the tables like the reference deployment; runs
    # take minutes, so it is for one-off measurements only
    ap.add_argument("--scale", choices=["bench", "reference"], default="bench")
    a = ap.parse_args()
    build()
    jvm_opts = [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []
    sys.exit(run_harness(["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--scale", a.scale],
                         jvm_opts, timeout=170 if a.scale == "bench" else 1800))


if __name__ == "__main__":
    main()
