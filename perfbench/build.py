#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (perfbench/harness) with the Scala compiler that ships in
Spark's jar directory. No sbt and no dependency resolution are involved.

Usage (from the repository root):  python3 perfbench/build.py

Spark is found through $SPARK_HOME, else through spark-submit on the PATH.

Classes go to <build dir>/classes, where the build dir is $CARGO_TARGET_DIR
when set and .bench_build otherwise. A build whose sources hash the same as
the last successful one is skipped.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

PROGRAM_SOURCES = "src/main/scala"
PROGRAM_RESOURCES = "src/main/resources"
HARNESS_SOURCES = "perfbench/harness"

# JDK 17 module opens Spark needs outside spark-submit (the same list as build.sbt)
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise BuildError("Spark not found: set SPARK_HOME")
    return os.path.join(home, "jars")


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def java_flags():
    """JDK 17 opens, and no hsperfdata file in the system temp directory."""
    return ["-XX:-UsePerfData"] + [a for p in JDK17_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]


def sources(root):
    out = []
    for d in (PROGRAM_SOURCES, HARNESS_SOURCES):
        out += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(out)


def runtime_classpath(root):
    return os.pathsep.join([os.path.join(build_dir(root), "classes"),
                            os.path.join(root, PROGRAM_RESOURCES),
                            os.path.join(spark_jars(), "*")])


def _compiler_jars():
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(spark_jars(), name + "-2.13*.jar")))
        if not found:
            raise BuildError(f"no {name} 2.13 jar in {spark_jars()}")
        jars.append(found[-1])
    return jars


def build(root, log=sys.stderr):
    """Compile when the sources changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(root, PROGRAM_SOURCES)):
        raise BuildError(f"{PROGRAM_SOURCES} not found under {root}: nothing to benchmark")
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return runtime_classpath(root)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(_compiler_jars()),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(spark_jars(), "*"), "@" + argfile]
    print(f"[build] compiling {len(srcs)} Scala sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=log)
        raise BuildError("scalac failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return runtime_classpath(root)


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
