#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine sources (src/main/scala) together with the benchmark
sources (perfbench/src) into one class directory, with the Scala compiler
that ships in the Spark distribution. The output is reused while no source
file changes (a digest of every source is kept beside it).

Usage: python3 perfbench/build.py [OUT_DIR]   (default .bench_build/perfbench)
Prints the class directory on success.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler under {jars} (set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not engine:
        raise SystemExit(f"build: no engine sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not bench:
        raise SystemExit("build: no benchmark sources under perfbench/src")
    return engine + bench


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(out=DEFAULT_OUT):
    """Returns the class directory, compiling first if any source changed."""
    files = sources()
    stamp = digest(files)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.sha256")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes
    jars = spark_jars()

    def jar(name):
        return glob.glob(os.path.join(jars, f"{name}-2.13*.jar"))[0]

    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    os.makedirs(tmp)
    args_file = os.path.join(out, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    compiler_cp = os.pathsep.join(jar(n) for n in ("scala-compiler", "scala-library", "scala-reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
           "-cp", compiler_cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", os.path.join(jars, "*"), "@" + args_file]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-8000:])
        raise SystemExit(f"build: scalac failed with code {res.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else DEFAULT_OUT))
