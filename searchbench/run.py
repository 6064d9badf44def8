"""Run one search-benchmark workload and print its result.

    python3 searchbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Builds the engine plus the benchmark (see build.py) if needed, then runs
`searchbench.Main` in one JVM on `local[min(nproc, 4)]`. The last line of
standard output is the JSON result; the line before it holds the run's
environment (nproc, master, heap, corpus sizes, seed, source hash).
Everything the run writes stays under `.bench_build/searchbench/` in the
checkout and its scratch directory is removed at exit.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def git_commit():
    """HEAD of the checkout when it is a git repository of its own."""
    try:
        top = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "--show-toplevel"],
                             capture_output=True, text=True, timeout=10)
        if top.returncode != 0 or os.path.realpath(top.stdout.strip()) != os.path.realpath(build.ROOT):
            return "none"
        head = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10)
        return head.stdout.strip() or "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=["0", "1"])
    a = p.parse_args()

    try:
        jar, key = build.build()
    except build.BuildError as e:
        print(f"searchbench: {e}", file=sys.stderr)
        return 1

    work = os.path.join(build.OUT_DIR, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    heap = os.environ.get("SPARK_DRIVER_MEM", "3g")
    cmd = (["java", f"-Xmx{heap}", "-Xss4m", "-XX:-UsePerfData"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + [f"-Djava.io.tmpdir={work}/tmp", f"-Dsearchbench.work={work}",
              f"-Dsearchbench.source={key}", f"-Dsearchbench.commit={git_commit()}",
              "-cp", jar + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "searchbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=build.ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"searchbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        print(f"searchbench: run failed with exit code {proc.returncode}", file=sys.stderr)
        return proc.returncode or 1
    result = json.loads(lines[-1])
    if set(result) != RESULT_KEYS:
        print(f"searchbench: malformed result {lines[-1]}", file=sys.stderr)
        return 1
    for l in lines:
        print(l)
    return 0


if __name__ == "__main__":
    sys.exit(main())
