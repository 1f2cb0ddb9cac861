#!/usr/bin/env python3
"""Builds the program and the benchmark harness from source.

Compiles `src/main/scala` (the program) together with `perfbench/src` (the
harness) with the Scala compiler that ships in the Spark distribution, into
`.bench_build/classes`. The build is skipped when the sources are
unchanged since the last build. Run from the root of the repository:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
CLASSES = os.path.join(BUILD_DIR, "classes")
PROGRAM_SRC = os.path.join("src", "main", "scala")
HARNESS_SRC = os.path.join("perfbench", "src")


def spark_jars() -> str:
    """The Spark distribution's jars: under $SPARK_HOME, else beside the
    spark-submit on PATH, else where build.sbt takes them from."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    if os.path.exists("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        if m:
            candidates.append(m.group(1))
    for jars in candidates:
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark jars found; set SPARK_HOME")


def heap() -> str:
    """Half of machine memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kib // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def jvm_flags(work: str) -> list:
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    flags = []
    for p in opens:
        flags += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return flags + [
        f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=768m",
        # JVM log lines go to stderr: stdout carries the result
        "-Xlog:disable", "-Xlog:all=warning:stderr",
        # no hsperfdata file in the system temp directory
        "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dperfbench.digests=" + os.path.join("perfbench", "registry_digests.json"),
        "-Dlog4j.configurationFile=" + os.path.join("perfbench", "log4j2.properties"),
    ]


def java(work: str) -> list:
    """The command that starts a JVM on the built classes."""
    return ["java"] + jvm_flags(work) + ["-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*")]


def sources() -> list:
    found = []
    for top in (PROGRAM_SRC, HARNESS_SRC):
        if not os.path.isdir(top):
            raise SystemExit(f"perfbench: {top} not found; run from the repository root")
        for dirpath, _, names in os.walk(top):
            found += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def source_digest(paths: list) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build() -> str:
    """Compiles if needed; returns the source digest the classes were built from."""
    srcs = sources()
    digest = source_digest(srcs)
    stamp = os.path.join(CLASSES, ".source-digest")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return digest
    jars = spark_jars()
    staging = f"{CLASSES}-staging-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    print(f"perfbench: compiling {len(srcs)} source files", file=sys.stderr, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", staging] + srcs
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    with open(os.path.join(staging, ".source-digest"), "w") as f:
        f.write(digest)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)
    return digest


if __name__ == "__main__":
    print(build())
