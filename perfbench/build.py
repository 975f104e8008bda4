"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark (`perfbench/src`) with the Scala compiler that ships in
Spark's jar directory, into `.bench_build/classes`. A build is skipped
when no source or jar changed since the last one.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"build: no jars under {home}/jars")
    return jars


def sources(top):
    found = []
    for ext in ("*.scala", "*.java"):
        found += glob.glob(os.path.join(ROOT, top, "**", ext), recursive=True)
    return sorted(found)


def _stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(jars).encode())
    return h.hexdigest()


def _scalac(jars, classpath, out, files, log):
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) < 3:
        raise SystemExit("build: scala-compiler/library/reflect jars not found")
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.dirname(out), "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath",
           os.pathsep.join(classpath), "-d", out] + files
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"build: compiling into {out} failed (log: {log})")


def build(build_dir):
    """Returns the classpath that runs the benchmark, building if needed."""
    jars = spark_jars()
    program = sources("src/main")
    if not program:
        raise SystemExit("build: no program sources under src/main")
    bench = sources("perfbench/src")
    classes = os.path.join(build_dir, "classes")
    out_program = os.path.join(classes, "program")
    out_bench = os.path.join(classes, "bench")
    stamp_file = os.path.join(classes, "stamp")
    stamp = _stamp(program + bench, jars)
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        os.makedirs(classes, exist_ok=True)
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        _scalac(jars, jars, out_program, program,
                os.path.join(classes, "program.log"))
        _scalac(jars, [out_program] + jars, out_bench, bench,
                os.path.join(classes, "bench.log"))
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return [out_bench, out_program, os.path.join(os.path.dirname(jars[0]), "*")]


if __name__ == "__main__":
    print(os.pathsep.join(build(os.path.join(ROOT, ".bench_build"))))
