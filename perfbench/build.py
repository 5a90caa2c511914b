#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library (`src/main/scala`) together with the benchmark's own
sources (`perfbench/src`) with the Scala compiler that ships in the Spark
distribution's `jars/` directory, packs the classes into one jar, and
records a JVM class-data archive of the classes a run loads (one small
operation of every workload), so each run's JVM and Spark session start
in seconds rather than tens of seconds. Everything lands in
`.bench_build/perfbench/build-<hash>` under the checkout root; the hash
covers every source file, so an unchanged tree is built once.

    python3 perfbench/build.py          # prints the build directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
# The fixed heap of every benchmark JVM: the CC driver gate is clamped by
# it, and cluster_graph is sized above that gate at this heap.
HEAP = "640m"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    jars bundled with an installed pyspark."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import importlib.util
        spec = importlib.util.find_spec("pyspark")
        if spec and spec.origin:
            cands.append(os.path.join(os.path.dirname(spec.origin), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")) and \
                glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise SystemExit("perfbench: no Spark distribution with a Scala compiler "
                     "found (set SPARK_HOME)")


# Stand-alone programs of the repository that no library code uses; the
# benchmark does not need them, and leaving them out shortens the build.
PROGRAMS = ("graft/SparkEntry.scala", "graft/Bench.scala", "graft/Verify.scala",
            "graft/examples/")


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        raise SystemExit(f"perfbench: library sources not found at {lib}")
    files = [f for f in sorted(glob.glob(os.path.join(lib, "**", "*.scala"),
                                         recursive=True))
             if not os.path.relpath(f, lib).startswith(PROGRAMS)]
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                              recursive=True))
    return files


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(build_dir, jars, extra=()):
    """The benchmark JVM's command line up to the main class arguments."""
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Xss8m", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += list(extra)
    cmd += ["-cp", os.path.join(build_dir, "perfbench.jar") + os.pathsep +
            os.path.join(jars, "*"), "perfbench.Main"]
    return cmd


def archive_path(build_dir):
    return os.path.join(build_dir, "classes.jsa")


def build():
    """Returns (build directory, Spark jars directory)."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(OUT, "build-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out, jars
    os.makedirs(OUT, exist_ok=True)
    for old in glob.glob(os.path.join(OUT, "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-8000:])
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    with zipfile.ZipFile(os.path.join(out, "perfbench.jar"), "w") as z:
        for d, _, fs in sorted(os.walk(classes)):
            for f in sorted(fs):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, classes))
    shutil.rmtree(classes)

    # class-data archive: one small operation of each workload, classes
    # written at exit
    work = os.path.join(out, "archive-run")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(out, jars, [
        "-XX:ArchiveClassesAtExit=" + archive_path(out),
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]) + [
        "--workload", "class-archive", "--seed", "1", "--seconds", "0",
        "--trace", "1", "--work-dir", work, "--hash-dir", work,
        "--cores", str(cores()), "--scale", "0.05"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       cwd=work)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-8000:])
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit("perfbench: class-archive run failed")
    open(os.path.join(out, ".done"), "w").close()
    return out, jars


if __name__ == "__main__":
    print(build()[0])
