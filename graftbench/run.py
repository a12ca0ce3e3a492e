#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 graftbench/run.py --selftest

Run from the repository root. The first call compiles graft's library sources
(src/main/scala, src/tools/scala) together with the benchmark's own sources into
graftbench/.build with the Scala compiler that ships in $SPARK_HOME/jars; later calls
reuse that build while no source changed. Each run then starts one JVM that
generates its inputs from the seed under graftbench/.work, runs the workload and
prints its metrics; the last line of standard output is the result JSON. Artifacts
(the run's detail record, traced spans, the JVM log) land in graftbench/out.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "src", "tools", "scala")]
LIB_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SOURCES = [os.path.join(HERE, "src")]
TEST_SOURCES = [os.path.join(HERE, "test")]
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
WORKLOADS = ["suite_scan", "suite_mixed", "incremental_ingest", "dedup_corpus"]
JVM_LIMIT_S = 170  # one run must end within 180 s
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit (the same list as the repository's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not jars:
        die("set SPARK_HOME to a Spark 4 distribution (its jars/ holds Spark and the Scala compiler)")
    return jars


def scala_files(dirs):
    files = []
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(with_tests):
    """Compile the library and the benchmark; returns the classes directory."""
    if not os.path.isdir(LIB_SOURCES[0]):
        die(f"graft's sources are missing ({os.path.relpath(LIB_SOURCES[0], ROOT)}); "
            "run from the root of a graft checkout")
    jars = spark_jars()
    files = scala_files([d for d in LIB_SOURCES if os.path.isdir(d)] + BENCH_SOURCES
                        + (TEST_SOURCES if with_tests else []))
    h = hashlib.sha256()
    for f in files + [os.path.basename(j) for j in jars]:
        h.update(f.encode())
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                h.update(fh.read())
    classes = os.path.join(BUILD, h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    os.makedirs(BUILD, exist_ok=True)
    tmp = classes + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, f"sources{os.getpid()}.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    compiler = [j for j in jars
                if os.path.basename(j).startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.pathsep.join(jars), "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-8000:])
        die("compilation failed")
    os.rename(tmp, classes)
    # keep the two newest builds (the benchmark's and the self-test's)
    builds = sorted((d for d in glob.glob(os.path.join(BUILD, "*")) if os.path.isdir(d) and ".tmp" not in d),
                    key=os.path.getmtime)
    for old in builds[:-2]:
        shutil.rmtree(old, ignore_errors=True)
    print(f"graftbench: compiled {len(files)} sources in {time.time() - t0:.0f} s", file=sys.stderr)
    return classes


def jvm(classes, main, args, log_path):
    """Run a JVM in its own process group; kill the group if it overruns."""
    cp = os.pathsep.join([classes, LIB_RESOURCES] + spark_jars())
    tmp = os.path.join(WORK, f"tmp{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, main] + args)
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its files in the run
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=JVM_LIMIT_S)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(tmp, ignore_errors=True)
            raise
    shutil.rmtree(tmp, ignore_errors=True)
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    if a.selftest:
        classes = build(with_tests=True)
        code, out = jvm(classes, "graftbench.SelfTest", [], os.path.join(OUT, "selftest.log"))
        sys.stdout.write(out)
        sys.exit(code)
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")

    classes = build(with_tests=False)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    root = os.path.join(WORK, f"{tag}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    log = os.path.join(OUT, f"{tag}.log")
    try:
        code, out = jvm(classes, "graftbench.Main",
                        ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                         "--trace", str(a.trace), "--root", root, "--out", OUT], log)
    except subprocess.TimeoutExpired:
        die(f"run exceeded {JVM_LIMIT_S} s; JVM log: {os.path.relpath(log, ROOT)}")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    if code != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"JVM exited with {code}; log: {os.path.relpath(log, ROOT)}")
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
