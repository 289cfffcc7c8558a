#!/usr/bin/env python3
"""Outpost-shaped benchmark: one command per (workload, seed).

    python3 perfbench/run.py --workload deliver --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles the program and the
benchmark from source into ``.bench_build/`` with the Scala compiler found
among the program's jars; later runs start the JVM directly on the recorded
classpath. The JVM prints detail lines and, last, one JSON result line;
this wrapper forwards them and exits with the JVM's code.
"""

import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "sources.sha1")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

# JDK 17 module opens Spark needs outside spark-submit (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def scala_sources(root):
    out = []
    for d, dirs, fs in os.walk(root):
        dirs.sort()
        out += [os.path.join(d, f) for f in sorted(fs) if f.endswith(".scala")]
    return out


def sources_digest(files):
    """Digest of every input to the build: paths, sizes and mtimes."""
    h = hashlib.sha1()
    for f in sorted(files):
        st = os.stat(f)
        h.update(("%s %d %d\n" % (os.path.relpath(f, ROOT), st.st_size,
                                  st.st_mtime_ns)).encode())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail("timed out after %d s: %s" % (timeout, cmd[0]))
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def jars_dir():
    """The program's jar directory: the root build's `unmanagedBase`."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'^\s*unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read(), re.M)
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(d):
        fail("the program's jar directory %r is missing" % d)
    return d


def build():
    """Compiles the program (src/main/scala) and the benchmark with the
    Scala compiler that ships among the program's jars, into
    .bench_build/; no sbt, no dependency resolution, nothing outside the
    checkout is written."""
    jars = jars_dir()
    cp = [os.path.join(jars, j) for j in sorted(os.listdir(jars)) if j.endswith(".jar")]
    sources = scala_sources(os.path.join(ROOT, "src", "main", "scala")) + \
        scala_sources(os.path.join(HERE, "src", "main", "scala"))
    resources = os.path.join(ROOT, "src", "main", "resources")
    digest = sources_digest(sources + [os.path.join(ROOT, "build.sbt")] + cp)
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    classes = os.path.join(BUILD, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [j for j in cp if re.search(r"/scala-(compiler|library|reflect)-[^/]*\.jar$", j)]
    if len(compiler) != 3:
        fail("no Scala compiler among the jars in %s" % jars)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc, _ = run_group(
            ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
             "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
             "-usejavacp:false", "-nowarn", "-d", classes,
             "-classpath", os.pathsep.join(cp), "@" + argfile],
            BUILD_TIMEOUT_S, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
    if rc != 0:
        fail("build failed; see %s" % os.path.join(BUILD, "build.log"))
    full = os.pathsep.join([classes] + ([resources] if os.path.isdir(resources) else []) + cp)
    with open(CLASSPATH, "w") as f:
        f.write(full)
    with open(STAMP, "w") as f:
        f.write(digest)
    return full


def heap_mb():
    """A quarter of physical memory, within [1, 4] GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        kb = 8 * 1024 * 1024
    return max(1024, min(4096, kb // 4096))


def java_cmd(cp, main_args, tmp):
    os.makedirs(tmp, exist_ok=True)
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", p + "=ALL-UNNAMED"]
    # no -Xms: the old generation grows with what the workload keeps, so
    # peak RSS follows the workload rather than the -Xmx derived from
    # MemTotal; the young generation is fixed at the JVM's default third of
    # the heap, so adaptive eden resizing does not move peak RSS run to run
    heap = heap_mb()
    return (["java", "-Xmx%dm" % heap, "-Xmn%dm" % (heap // 3), "-Xss16m",
             "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
             "-Dspark.ui.enabled=false", "-Dlog4j2.level=ERROR"] + opens +
            ["-cp", cp, "perfbench.Main"] + main_args)


def main():
    # a terminated wrapper takes its JVM or compiler process group down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from a checkout of the repository: the program's sources "
             "(build.sbt, src/main/scala/graft) are missing")
    config = os.path.join(HERE, "workloads.json")
    cp = build()

    if a.selftest:
        rc, _ = run_group(java_cmd(cp, ["--selftest", config], os.path.join(BUILD, "tmp")),
                          RUN_TIMEOUT_S)
        sys.exit(rc)
    if not a.workload:
        fail("--workload is required")

    work = os.path.join(ROOT, ".bench_build", "work", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rc, out = run_group(
            java_cmd(cp, ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--config", config, "--work", work],
                     os.path.join(work, "tmp")),
            RUN_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(rc)


if __name__ == "__main__":
    main()
