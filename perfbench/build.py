"""Build file of the benchmark.

Compiles the repository's main Scala sources, then the benchmark's own
sources against them, with the Scala compiler that ships among the Spark
jars. Classes go to .bench_build/ under the checkout root. A stamp of the
source hashes skips a build whose sources have not changed.

Run on its own: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars() -> str:
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("build: neither SPARK_HOME nor spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"build: no scala-compiler jar in {jars}")
    return jars


def _sources(root: str) -> list:
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _scalac(jars: str, classpath: list, out: str, files: list, log: str) -> None:
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-cp", os.pathsep.join(classpath)]
    with open(log, "w") as fh:
        rc = subprocess.run(cmd + files, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit(f"build: scalac failed (log {log})")


def build() -> list:
    """Compile what changed; return the runtime classpath."""
    jars = spark_jars()
    main_files, bench_files = _sources(MAIN_SRC), _sources(BENCH_SRC)
    if not main_files:
        sys.exit(f"build: no Scala sources under {MAIN_SRC}")
    os.makedirs(BUILD, exist_ok=True)
    main_out, bench_out = os.path.join(BUILD, "main"), os.path.join(BUILD, "bench")
    # the bench classes depend on the main ones, so their stamp covers both
    for out, files, deps, stamped in ((main_out, main_files, [], main_files),
                                      (bench_out, bench_files, [main_out],
                                       main_files + bench_files)):
        stamp_file = out + ".stamp"
        stamp = _stamp(stamped)
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            continue
        _scalac(jars, deps, out, files, out + ".log")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return [bench_out, main_out, os.path.join(jars, "*")]


if __name__ == "__main__":
    print(os.pathsep.join(build()))
