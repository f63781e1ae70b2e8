"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's JVM side (perfbench/src) into one class directory.

The Scala compiler and the Spark jars are the ones the project's build.sbt
compiles against: `$SPARK_HOME/jars`, else the `unmanagedBase` directory
named in build.sbt. Output goes to `.bench_build/classes-<source hash>`, so
an unchanged tree is compiled once and a changed one is rebuilt.

    python3 perfbench/build.py      # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise RuntimeError("no Spark jars: set SPARK_HOME")
    return m.group(1)


def sources():
    files = []
    for base in ("src/main/scala", "perfbench/src"):
        files += glob.glob(os.path.join(ROOT, base, "**", "*.scala"),
                           recursive=True)
    if not any("/src/main/scala/" in f for f in files):
        raise RuntimeError("no program sources under src/main/scala")
    return sorted(files)


def build(log=sys.stderr):
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    compiler = [glob.glob(os.path.join(jars, f"scala-{p}-2.13*.jar"))[0]
                for p in ("compiler", "library", "reflect")]
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    rc = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", ":".join(compiler),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
         "-cp", os.path.join(jars, "*")] + files,
        stdout=log, stderr=log).returncode
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(f"compilation failed (exit {rc})")
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
