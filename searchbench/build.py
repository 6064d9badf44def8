"""Build file of the search benchmark.

Compiles the engine (`src/main/scala` of the checkout) together with the
benchmark's own sources (`searchbench/src`) with the Scala compiler that
ships in the Spark distribution's `jars/` directory, so no dependency
resolution is needed. The classes go to a jar under `.bench_build/searchbench/`
in the checkout, named by a hash of every source file; an up-to-date build
is reused.

    python3 searchbench/build.py      # prints the jar
"""

import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT_DIR = os.path.join(ROOT, ".bench_build", "searchbench")


class BuildError(Exception):
    pass


def spark_jars():
    """`jars/` of the Spark distribution: $SPARK_HOME, else the first
    distribution whose `bin/spark-submit` is on PATH."""
    def has_compiler(jars):
        return os.path.isdir(jars) and any(j.startswith("scala-compiler") for j in os.listdir(jars))
    if os.environ.get("SPARK_HOME"):
        homes = [os.environ["SPARK_HOME"]]
    else:
        submits = [os.path.join(d, "spark-submit") for d in os.environ.get("PATH", "").split(os.pathsep)]
        homes = [os.path.dirname(os.path.dirname(os.path.realpath(f))) for f in submits if os.path.isfile(f)]
    for home in homes:
        if has_compiler(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise BuildError("no Spark distribution with a Scala compiler in its jars/; set SPARK_HOME")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")):
        raise BuildError(f"engine sources not found at {engine}; run from a checkout of the repository")
    found = []
    for top in (engine, os.path.join(BENCH_DIR, "src")):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(srcs, jars):
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()[:16]


def build():
    """Compile if needed; returns (jar, source stamp)."""
    jars = spark_jars()
    srcs = sources()
    key = stamp(srcs, jars)
    jar = os.path.join(OUT_DIR, f"searchbench-{key}.jar")
    if os.path.exists(jar):
        return jar, key
    tmp = os.path.join(OUT_DIR, f"compile-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"[searchbench] compiling {len(srcs)} sources", file=sys.stderr)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
        if r.returncode != 0:
            raise BuildError(f"compilation failed with exit code {r.returncode}")
        with zipfile.ZipFile(os.path.join(tmp, "out.jar"), "w") as z:
            for d, _, files in os.walk(classes):
                for f in sorted(files):
                    path = os.path.join(d, f)
                    z.write(path, os.path.relpath(path, classes))
        os.rename(os.path.join(tmp, "out.jar"), jar)
    except subprocess.TimeoutExpired:
        raise BuildError("compilation timed out")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return jar, key


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"searchbench: {e}", file=sys.stderr)
        sys.exit(1)
