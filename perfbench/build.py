"""Build file of the benchmark harness.

Compiles the engine (`src/main/scala`) together with the harness
(`perfbench/harness`) into `<build dir>/classes` with the Scala compiler that
ships in Spark's jar directory, against Spark's jars: the same classpath the
engine's own sbt build compiles against. The output is keyed by a hash of
every source file, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py [--build-dir DIR]

Prints the classes directory. Exits non-zero when the engine's sources are
missing or do not compile.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("build: Spark not found (set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir):
    files = sources()
    digest = source_hash(files)
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(classes, ".source-sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    jars = spark_jars()
    compiler = [os.path.join(jars, f"scala-{p}-2.13.17.jar")
                for p in ("compiler", "library", "reflect")]
    if not all(os.path.exists(j) for j in compiler):
        compiler = sorted(glob.glob(os.path.join(jars, "scala-compiler-*.jar")) +
                          glob.glob(os.path.join(jars, "scala-library-*.jar")) +
                          glob.glob(os.path.join(jars, "scala-reflect-*.jar")))
    fresh = classes + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.path.join(jars, "*"), "-d", fresh, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(os.path.join(fresh, ".source-sha256"), "w") as fh:
        fh.write(digest)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    return classes, digest


def main():
    ap = argparse.ArgumentParser(description="Compile the engine and the benchmark harness.")
    ap.add_argument("--build-dir", default=os.path.join(ROOT, ".bench_build"))
    a = ap.parse_args()
    os.makedirs(a.build_dir, exist_ok=True)
    print(build(a.build_dir)[0])


if __name__ == "__main__":
    main()
