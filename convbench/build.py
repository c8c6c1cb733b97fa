"""Build file of the converter benchmark.

Compiles the program (src/main/scala) together with the benchmark's own
sources (convbench/src) into .bench_build/classes with the Scala compiler
that ships in the Spark distribution, the same jars the program's sbt
build compiles against. A build is reused while a digest of every input
source is unchanged.

Run from the repository root:  python3 convbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"
PROGRAM_SOURCES = os.path.join("src", "main", "scala")
PROGRAM_RESOURCES = os.path.join("src", "main", "resources")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the first
    distribution whose bin/ directory is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise BuildError("no Spark distribution found: set SPARK_HOME")


def sources(root):
    main = os.path.join(root, PROGRAM_SOURCES)
    if not os.path.isdir(main):
        raise BuildError(f"no program sources at {PROGRAM_SOURCES}: run from the repository root")
    files = glob.glob(os.path.join(main, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Returns (classpath entries, source digest); compiles when stale."""
    jars = spark_jars()
    files = sources(root)
    sha = digest(root, files)
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp = os.path.join(out, "SOURCE_SHA256")
    if not (os.path.exists(stamp) and open(stamp).read() == sha):
        compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))
                    for n in ("compiler", "library", "reflect")]
        if not all(compiler):
            raise BuildError(f"no Scala 2.13 compiler jars under {jars}")
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(root, BUILD_DIR, "scalac.args")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files))
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(c[0] for c in compiler),
               "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
               "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
        print(f"convbench: compiling {len(files)} sources", file=sys.stderr)
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            raise BuildError("scalac failed")
        with open(os.path.join(tmp, "SOURCE_SHA256"), "w") as fh:
            fh.write(sha)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return [out, os.path.join(root, PROGRAM_RESOURCES), os.path.join(jars, "*")], sha


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build(os.getcwd())[0]))
    except BuildError as e:
        sys.exit(f"convbench: build failed: {e}")
