#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own sources (perf/src) with scalac into one jar, together with
the engine's resources.

The Spark distribution's jars are the whole dependency set, exactly as in
the engine's own build.sbt; its scala-compiler jar does the compiling, so no
build tool and no dependency download is involved. Outputs are keyed by a
hash of every source file, so a changed tree builds once and an unchanged
one not at all.

    python3 perf/build.py            # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perf", "src")]
RESOURCE_DIR = os.path.join(ROOT, "src", "main", "resources")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    java = shutil.which("java")
    if not java:
        raise BuildError("no java found (set JAVA_HOME)")
    return java


def sources():
    missing = [d for d in SOURCE_DIRS if not os.path.isdir(d)]
    if missing:
        raise BuildError("missing source directories: " + ", ".join(
            os.path.relpath(d, ROOT) for d in missing))
    files = []
    for d in SOURCE_DIRS:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


# JDK 17 outside spark-submit needs the module opens spark-submit would
# inject (same list as the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "2g"


def jvm_args():
    """Flags every benchmark JVM runs with."""
    # a fixed heap and the parallel collector, whose young generation is
    # one reused range: resident memory then follows retained data, not
    # heap-growth and region-placement heuristics that differ run to run
    # no hsperfdata file in the system temp directory: a run writes only
    # inside its checkout
    args = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Xss4m",
            "-XX:-UsePerfData", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        args += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return args


def write_jar(classes, jar):
    """Zip the class directory and the engine's resources into `jar`."""
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as zf:
        for top in (classes, RESOURCE_DIR):
            if not os.path.isdir(top):
                continue
            for base, dirs, names in os.walk(top):
                dirs.sort()
                for n in sorted(names):
                    f = os.path.join(base, n)
                    zf.write(f, os.path.relpath(f, top))


def build(log=sys.stderr):
    """Build if needed; return (classpath, source hash)."""
    files = sources()
    digest = source_hash(files)
    jars = spark_jars()
    jar = os.path.join(BUILD_DIR, f"perfbench-{digest}.jar")
    classpath = os.pathsep.join([jar, os.path.join(jars, "*")])
    if not os.path.exists(jar):
        os.makedirs(BUILD_DIR, exist_ok=True)
        for old in os.listdir(BUILD_DIR):
            if old.startswith("perfbench-") or old.startswith(".classes-"):
                path = os.path.join(BUILD_DIR, old)
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.remove(path)
        staging = os.path.join(BUILD_DIR, ".classes-" + digest)
        os.makedirs(staging)
        argfile = os.path.join(BUILD_DIR, "scalac-args.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        t0 = time.time()
        print(f"[perf] compiling {len(files)} sources ...", file=log, flush=True)
        proc = subprocess.run(
            [java_bin(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
             "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
             "-d", staging, "@" + argfile],
            stdout=log, stderr=log)
        if proc.returncode != 0:
            shutil.rmtree(staging, ignore_errors=True)
            raise BuildError(f"scalac failed with code {proc.returncode}")
        write_jar(staging, jar + ".tmp")
        shutil.rmtree(staging, ignore_errors=True)
        os.rename(jar + ".tmp", jar)
        print(f"[perf] compiled in {time.time() - t0:.1f} s", file=log, flush=True)
    return classpath, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perf] build failed: {e}", file=sys.stderr)
        sys.exit(2)
