#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the harness (`perfbench/harness`) with the Scala compiler that ships in
Spark's jar directory, into `.bench_build/`.

A build is skipped when a stamp of every source's content and the
toolchain still matches. Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
HARNESS_SRC = ROOT / "perfbench" / "harness"

# what sbt's `run` passes to the forked JVM (build.sbt): Spark on JDK 17
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jar_dir():
    """The Spark installation's jars, which include the Scala compiler:
    `$SPARK_HOME/jars`, else the `unmanagedBase` the project's build.sbt
    compiles against."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if not m:
        raise SystemExit("Spark jars not found: set SPARK_HOME")
    return Path(m.group(1))


def spark_jars():
    jars = sorted(glob.glob(str(spark_jar_dir() / "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {spark_jar_dir()}")
    return jars


def sources(d):
    return sorted(str(p) for p in Path(d).rglob("*.scala"))


def stamp(files):
    h = hashlib.sha256()
    for f in files + spark_jars():
        h.update(f.encode())
        if f.endswith(".scala"):
            h.update(Path(f).read_bytes())
    return h.hexdigest()


def scalac(out, srcs, classpath):
    out.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", str(spark_jar_dir() / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out), "-classpath", ":".join(classpath)] + srcs
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def classpath():
    """Build if needed; the runtime classpath of the harness."""
    engine, harness = BUILD / "engine", BUILD / "harness"
    cp = [str(harness), str(engine)] + spark_jars()
    engine_srcs, harness_srcs = sources(ENGINE_SRC), sources(HARNESS_SRC)
    if not engine_srcs or not harness_srcs:
        raise SystemExit(f"missing sources under {ENGINE_SRC} or {HARNESS_SRC}")
    want = stamp(engine_srcs + harness_srcs)
    stamp_file = BUILD / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == want:
        return cp
    stamp_file.unlink(missing_ok=True)
    for d in (engine, harness):
        subprocess.run(["rm", "-rf", str(d)], check=True)
    scalac(engine, engine_srcs, spark_jars())
    scalac(harness, harness_srcs, [str(engine)] + spark_jars())
    stamp_file.write_text(want)
    return cp


if __name__ == "__main__":
    classpath()
