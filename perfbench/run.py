#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload cms_daily --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

The first run builds the program and the harness from source with sbt
(perfbench/build.sbt compiles ../src/main/scala with the harness); later
runs reuse the build while no source file changes. The measurement runs
in one JVM on local[nproc]. Generated inputs and outputs live under
--work (default: .perfbench-work in the checkout) and are removed after
each run; span traces of --trace 1 runs are kept in <work>/traces.

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics. The exit code is non-zero when a build
fails, an output check fails or an operation fails.
"""

import argparse
import hashlib
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["cms_daily", "corpus_release", "admission_stream"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, to decide whether to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def find_spark_home():
    """The first Spark distribution on PATH: a bin/spark-submit beside jars/."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(d))
        if (os.path.isfile(os.path.join(d, "spark-submit"))
                and os.path.isdir(os.path.join(home, "jars"))):
            return home
    return None


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{' '.join(cmd[:2])} timed out after {timeout} s", 3)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def classpath():
    """Builds if sources changed; returns the runtime classpath."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "perfbench-classpath.txt")
    stamp_file = os.path.join(target, "perfbench-stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    print("perfbench: building with sbt", file=sys.stderr)
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, stdout=subprocess.PIPE, text=True)
    if code != 0:
        sys.stderr.write(out)
        fail("sbt build failed", 4)
    lines = [l for l in out.splitlines() if os.pathsep in l and ".jar" in l
             and not l.startswith("[")]
    if not lines:
        fail("sbt printed no classpath", 4)
    os.makedirs(target, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def run_workload(cp, args, workload, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Fixed generation sizes, not pre-touched: the young generation's
    # pages are all touched early, so peak RSS moves with the old
    # generation's high-water mark (what the run retains and promotes)
    # and with memory outside the heap, not with the collector's
    # resizing. The throughput collector keeps concurrent GC threads off
    # the cores the tasks use.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn384m",
           "-XX:-UseAdaptiveSizePolicy", "-Xss4m", "-XX:+UseParallelGC",
           "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dlog4j2.level=error"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Bench", "--workload", workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work]
    # SPARK_LOCAL_DIRS would override spark.local.dir and move shuffle
    # files out of the work directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    code, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env)
    return code


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--work", default=os.path.join(ROOT, ".perfbench-work"))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"program sources not found under {ROOT}/src/main/scala")
    spark_home = os.environ.get("SPARK_HOME") or find_spark_home()
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("set SPARK_HOME to a Spark 4 distribution")
    os.environ["SPARK_HOME"] = spark_home
    cp = classpath()
    work = os.path.abspath(args.work)
    codes = [run_workload(cp, args, w, work)
             for w in (WORKLOADS if args.workload == "all" else [args.workload])]
    sys.exit(next((c for c in codes if c != 0), 0))


if __name__ == "__main__":
    main()
