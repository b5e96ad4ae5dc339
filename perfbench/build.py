"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
using the Scala compiler shipped in the Spark jars directory.

The Spark jars come from `$SPARK_HOME/jars` or from beside `spark-submit`.
The output goes to `.bench_build/perfbench/classes` and is reused while
no source file changes. Run directly to build: `python3 perfbench/build.py`.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]

# Spark 4 on JDK 17 needs these when a session starts outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_OPENS = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def spark_jars():
    """`$SPARK_HOME/jars`, else the first `jars` beside a `spark-submit` on
    the PATH that holds the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(d).resolve().parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").exists()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if (jars / "scala-compiler-2.13.17.jar").exists():
            return jars
    raise SystemExit("perfbench: no Spark jars with a Scala compiler; set SPARK_HOME")


def classpath():
    return f"{BUILD / 'classes'}{os.pathsep}{spark_jars() / '*'}"


def scala_files():
    for d in SOURCES:
        if not d.is_dir():
            raise SystemExit(f"perfbench: missing source directory {d}")
    return sorted(p for d in SOURCES for p in d.rglob("*.scala"))


def build():
    """Compile unless the classes match the current sources."""
    files = scala_files()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes, stamp_file = BUILD / "classes", BUILD / "classes.stamp"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = spark_jars() / "*"
    args_file = BUILD / "sources.txt"
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    print(f"perfbench: compiling {len(files)} files", file=sys.stderr)
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", str(jars), "scala.tools.nsc.Main",
         "-nowarn", "-d", str(tmp), "-cp", str(jars), f"@{args_file}"],
        check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)


if __name__ == "__main__":
    build()
