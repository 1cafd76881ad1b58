"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (perfbench/src) into .bench_build/classes with the Scala
compiler that ships with Spark, against the same jars build.sbt uses, then
writes the workloads' stored data (fixtures) in a JVM of its own.

Usage: python3 perfbench/build.py   (from the repository root)

A stamp over the source files skips the compile when nothing changed. The
fixtures depend only on the benchmark's sources, so they are keyed on those
and regenerated only when the benchmark changes.
"""
import ctypes
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
RUN_ROOT = os.path.join(ROOT, ".bench_run")
FIXTURE_TIMEOUT_S = 600

# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def scala_version():
    """The program's Scala version, as build.sbt sets it."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'ThisBuild\s*/\s*scalaVersion\s*:=\s*"([^"]+)"', f.read())
    if not m:
        raise RuntimeError("no ThisBuild / scalaVersion in build.sbt")
    return m.group(1)


def host():
    """(usable cores, fixed heap in MiB: a quarter of MemTotal, 1-4 GiB)"""
    nproc = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_mb = max(1024, min(4096, mem_kb // 1024 // 4))
    return nproc, heap_mb


def die_with_parent():
    """preexec_fn: a child JVM must not outlive a killed parent."""
    ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def jvm(classes, heap_mb, run_dir):
    """The java command line up to and including the main class; every
    temporary file goes under run_dir."""
    cmd = ["java", f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m", "-Xss4m",
           "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join([classes, os.path.join(spark_jars(), "*")]),
                  "perfbench.Main"]


def spark_jars():
    """$SPARK_HOME/jars, else the jars/ beside a bin/ on PATH that holds
    spark-submit and whose jars/ holds the Scala library."""
    version = scala_version()
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.abspath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if os.path.exists(os.path.join(jars, f"scala-library-{version}.jar")):
            return jars
    raise RuntimeError("no Spark jars: set SPARK_HOME")


def sources(*bases):
    found = []
    for base in bases:
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(srcs, salt):
    h = hashlib.sha256(salt.encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile and write fixtures if needed; return (classes directory,
    fixtures directory)."""
    classes = compile_sources()
    return classes, fixtures(classes)


def compile_sources():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError("no program sources under src/main/scala")
    version = scala_version()
    srcs = sources(os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"))
    want = stamp(srcs, version)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                return classes
    jars = spark_jars()
    compiler = [os.path.join(jars, f"scala-{m}-{version}.jar")
                for m in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if not os.path.exists(j)]
    if missing:
        raise RuntimeError(f"Scala compiler jars not found: {missing}")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath",
           os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, stdout=sys.stderr, preexec_fn=die_with_parent)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classes


def fixtures(classes):
    """.bench_build/fixtures-<stamp of perfbench/src>, written by a JVM of
    its own when missing; older fixture directories are removed."""
    name = "fixtures-" + stamp(sources(os.path.join(HERE, "src")), "fixtures")[:16]
    target = os.path.join(OUT, name)
    for old in glob.glob(os.path.join(OUT, "fixtures-*")):
        if os.path.basename(old) != name:
            shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(target):
        return target
    nproc, heap_mb = host()
    run_dir = os.path.join(RUN_ROOT, str(os.getpid()))
    tmp = target + ".tmp"
    shutil.rmtree(run_dir, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    print("[perfbench] writing fixtures", file=sys.stderr, flush=True)
    env = {k: v for k, v in os.environ.items()  # these would override spark.local.dir
           if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    try:
        subprocess.run(jvm(classes, heap_mb, run_dir) +
                       ["--fixtures", tmp, "--run-dir", run_dir, "--nproc", str(nproc)],
                       check=True, stdout=sys.stderr, cwd=run_dir, env=env,
                       timeout=FIXTURE_TIMEOUT_S, preexec_fn=die_with_parent)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    os.rename(tmp, target)
    return target


if __name__ == "__main__":
    try:
        print(build()[0])
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
