#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark driver (`perfbench/src`) with the Scala compiler that ships in
Spark's jar directory, into `.bench_build/classes`. A stamp of the source
contents skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (prints the classpath to run with)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]


BUILD_DIR = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jar directory, which also holds the Scala compiler: SPARK_HOME,
    else the install behind a `spark-submit` on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return os.path.join(jars, "*")
    sys.exit("no Spark jars found; set SPARK_HOME")


def sources():
    out = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile if needed; return the classpath string."""
    srcs = sources()
    if not any(s.startswith(SOURCE_DIRS[0]) for s in srcs):
        sys.exit(f"no engine sources under {SOURCE_DIRS[0]}")
    jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "classes.stamp")
    cp = f"{out}{os.pathsep}{jars}"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = os.path.join(BUILD_DIR, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss16m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-cp", jars, "-d", out, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit(f"compile failed (exit {r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# Spark on JDK 17 outside spark-submit needs these (the same list build.sbt
# passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(cp, heap="3g"):
    """The command prefix that runs a main of the benchmark on `cp`."""
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -UsePerfData: no hsperfdata files outside the checkout; -Xms = -Xmx: a
    # heap grown from its default size makes GC work differ between runs
    return ["java", "-XX:-UsePerfData", f"-Xms{heap}", f"-Xmx{heap}", *opens, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp]


if __name__ == "__main__":
    print(build())
