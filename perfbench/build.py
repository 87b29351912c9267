#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's main sources (``src/main/scala``) together with the
benchmark's own sources (``perfbench/src``) with the Scala compiler that
ships in the Spark distribution the repo builds against, and packs the
classes into ``.bench_build/perfbench/perfbench.jar``. It then runs one
training JVM (``perfbench.Train``) that dumps a class-data-sharing archive
of every class the workloads load, so that each benchmark JVM maps those
classes instead of loading them from the jars again. A content hash of
every input file is kept beside the jar, so a rebuild only happens when a
source changed.

Usage: python3 perfbench/build.py      (prints the jar)
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(OUT, "perfbench.jar")
ARCHIVE = os.path.join(OUT, "perfbench.jsa")
STAMP = os.path.join(OUT, "build.sha256")
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UseAdaptiveSizePolicy", "-Xss8m",
             "-XX:+UseParallelGC", "-XX:-UsePerfData"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars, else the repo build's
    unmanagedBase (build.sbt), which is where the engine's tests get them."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("no build.sbt at the checkout root and SPARK_HOME unset")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("cannot locate the Spark jars (set SPARK_HOME)")
    return m.group(1)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError("engine sources src/main/scala not found")
    files = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for p in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath(jars):
    """The benchmark jar, then the Spark jars in a fixed order (the class
    archive is only used with the class path it was dumped with)."""
    return os.pathsep.join([JAR] + sorted(
        os.path.join(jars, n) for n in os.listdir(jars) if n.endswith(".jar")))


def java_cmd(jars, main, args, archive_flag=None):
    """The java command line every benchmark JVM runs with."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    if archive_flag is None and os.path.isfile(ARCHIVE):
        archive_flag = "-XX:SharedArchiveFile=" + ARCHIVE
    return (["java"] + ([archive_flag] if archive_flag else []) + opens + JVM_FLAGS +
            ["-Djava.io.tmpdir=" + tmp,
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", classpath(jars), main] + args)


def build(log=sys.stderr):
    """Compile and train the class archive if stale; returns the Spark jars
    directory. Concurrent callers wait for each other on a lock file."""
    jars = spark_jars()
    files = sources()
    want = digest(files)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (os.path.isfile(STAMP) and open(STAMP).read().strip() == want):
            if os.path.exists(STAMP):
                os.remove(STAMP)
            compile_to(files, jars, log)
            train(jars, log)
            with open(STAMP, "w") as f:
                f.write(want + "\n")
    return jars


def train(jars, log):
    """Dumps the class archive from one run of perfbench.Train. Without an
    archive the benchmark still runs, only its JVMs start slower."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(OUT, "train")
    shutil.rmtree(work, ignore_errors=True)
    print("perfbench: dumping the class archive", file=log, flush=True)
    with open(os.path.join(OUT, "train.log"), "w") as out:
        r = subprocess.run(java_cmd(jars, "perfbench.Train", ["--root", work],
                                    archive_flag="-XX:ArchiveClassesAtExit=" + ARCHIVE),
                           stdout=out, stderr=subprocess.STDOUT, cwd=ROOT, timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        raise BuildError(f"class archive training failed with exit code {r.returncode}")


def compile_to(files, jars, log):
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        log.write(r.stdout[-8000:])
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(tmp)):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, tmp))
    os.replace(JAR + ".tmp", JAR)
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    try:
        build()
        print(JAR)
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
