#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's main sources
(src/main/scala) together with the harness (perfbench/src) with the Scala
compiler that ships in the Spark distribution the engine builds against:
`$SPARK_HOME/jars` if set, else the jars directory build.sbt names in
`unmanagedBase`.

  python3 perfbench/build.py        # prints the classes directory

Output goes to .bench_build/classes-<digest of the sources>, so an edited
tree gets a fresh build and an unchanged one is built once.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

SOURCE_ROOTS = ("src/main/scala", "perfbench/src")


def spark_jars():
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        print("perfbench: build.sbt names no unmanagedBase; set SPARK_HOME",
              file=sys.stderr)
        sys.exit(2)
    return m.group(1)


def sources():
    files = []
    for root in SOURCE_ROOTS:
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(build_dir):
    files = sources()
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        print(f"perfbench: no Scala compiler under {jars}", file=sys.stderr)
        sys.exit(2)
    h = hashlib.md5()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.md5(fh.read()).digest())
    out = os.path.join(build_dir, f"classes-{h.hexdigest()[:12]}")
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    rc = subprocess.call(
        ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
         "-classpath", cp, "-d", tmp, "-nowarn", "@" + argfile],
        stdout=sys.stderr)
    if rc != 0:
        print("perfbench: compilation failed", file=sys.stderr)
        sys.exit(2)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build(".bench_build"))
