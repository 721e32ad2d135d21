#!/usr/bin/env python3
"""Run one workload of the served-cube benchmark.

    python3 perfbench/run.py --workload mixed_writes --seed 1 --seconds 20 --trace 0

Run from the root of the repository. The first run builds the library and
the benchmark with sbt (offline, against the local dependency caches, like
the repository's own test command) and records the runtime classpath; later
runs reuse that build while no source or build file has changed. The
benchmark itself runs in one JVM; its last line of standard output is the
result object, which this script passes through unchanged. Scratch files
(generated tables, Spark temp files, traces) go under perfbench/.work.

Extra flags after the four above pass through to the benchmark main, e.g.
`--sf 0.001 --docs 20000 --corrupt 1` for the smoke test.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
HEAP = "4g"

# JDK 17 module opens Spark needs outside spark-submit (as in the root build).
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt if needed; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the library sources (build.sbt, src/main/scala/graft) are not "
             "next to perfbench/; run from the root of a full checkout")
    digest = sources_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = p.stdout.splitlines()
    cp = [ln for ln in lines if ln and not ln.startswith("[") and os.pathsep in ln
          and ".jar" in ln]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {p.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return cp[-1]


def main():
    args = sys.argv[1:]
    if "--workload" not in args:
        fail("usage: run.py --workload W --seed N --seconds S --trace 0|1")
    cp = build()
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        cpus = os.cpu_count() or 1
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", WORK] + args
    p = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                       timeout=175)
    out = p.stdout.rstrip("\n").splitlines()
    if p.returncode != 0 or not out or not out[-1].startswith("{"):
        sys.stdout.write("\n".join(out[:-1] if out and out[-1].startswith("{") else out) + "\n")
        fail(f"benchmark exited with {p.returncode} and no result")
    sys.stdout.write("\n".join(out) + "\n")


if __name__ == "__main__":
    main()
