"""Builds the engine and the benchmark harness with the Scala compiler that
ships in Spark's jar directory: no sbt, no network, nothing written outside
the checkout.

    <build dir>/graft    classes of src/main/scala (the engine under test)
    <build dir>/harness  classes of perfbench/scala (this benchmark)

A stamp holding the hash of every compiled source skips the build when
nothing changed. The build dir is $CARGO_TARGET_DIR if set, else
.bench_build at the root of the checkout.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the engine's build.sbt uses."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) if os.path.isfile(sbt) else None
    if not m:
        raise SystemExit("build: set SPARK_HOME (no unmanagedBase in build.sbt)")
    return m.group(1)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(sources, classpath, out, jars):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = out + ".args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(sources))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath,
           "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(args_file)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac failed for {out}")


def classpath():
    """Ensures both class trees are current and returns the run classpath."""
    engine = _sources(os.path.join(ROOT, "src", "main", "scala"))
    harness = _sources(os.path.join(HERE, "scala"))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"build: Spark jars not found at {jars}")
    out = build_dir()
    graft, bench = os.path.join(out, "graft"), os.path.join(out, "harness")
    spark_cp = os.path.join(jars, "*")
    stamp = os.path.join(out, "stamp")
    want = _digest(engine) + _digest(harness)
    have = open(stamp).read() if os.path.isfile(stamp) else ""
    if have[:64] != want[:64] or not os.path.isdir(graft):
        sys.stderr.write("build: compiling engine sources\n")
        _scalac(engine, spark_cp, graft, jars)
        have = ""
    if have != want or not os.path.isdir(bench):
        sys.stderr.write("build: compiling benchmark harness\n")
        _scalac(harness, os.pathsep.join([graft, spark_cp]), bench, jars)
        with open(stamp, "w") as fh:
            fh.write(want)
    return os.pathsep.join([bench, graft, spark_cp])


if __name__ == "__main__":
    print(classpath())
