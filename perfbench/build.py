"""Builds the engine and the benchmark's JVM runner from source.

Compiles `src/main/scala` (the engine) together with `perfbench/scala` (the
runner) with the Scala compiler that ships among the Spark jars, into
`<build>/classes`. The build directory is `$CARGO_TARGET_DIR` when set,
else `.bench_build`, relative to the checkout root. A content stamp of every
source skips the compile when nothing changed.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else those next to the spark-submit
    on PATH, else the `unmanagedBase` that build.sbt names."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    if shutil.which("spark-submit"):
        bin_dir = os.path.dirname(os.path.realpath(shutil.which("spark-submit")))
        candidates.append(os.path.join(os.path.dirname(bin_dir), "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        candidates += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    for jars in candidates:
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        sys.exit(f"perfbench: no engine sources under {ROOT}/src/main/scala")
    return engine + sorted(glob.glob(os.path.join(BENCH_DIR, "scala", "*.scala")))


def classpath():
    return os.path.join(build_dir(), "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.isdir(out) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [glob.glob(os.path.join(jars, f"scala-{m}-2.*.jar"))[0]
                for m in ("compiler", "library", "reflect")]
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    rc = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                         "-cp", os.pathsep.join(compiler),
                         "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                         "-classpath", os.path.join(jars, "*")] + srcs,
                        stdout=log, stderr=log).returncode
    if rc != 0:
        sys.exit(f"perfbench: compile failed (exit {rc})")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
