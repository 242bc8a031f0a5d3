#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload batch_sql --seed 1 --seconds 15 --trace 0

The first run compiles graft and the harness from source with the Scala
compiler among the jars the root build.sbt names (the classes are cached
under .bench_build/ and rebuilt when a source file changes). Each run gets its own index, Spark-local and temp directories
under .bench_run/, deleted afterwards. With --trace 1 the run records
Spark's listener events and writes a trace file under .bench_out/.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. Lines before it start with '#'
and carry the run's diagnostics: the seed's entry order, the host
calibration, other-process CPU and any failed output check.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_ROOT = os.path.join(ROOT, ".bench_run")
OUT_DIR = os.path.join(ROOT, ".bench_out")
DATA = os.path.join(HERE, "data", "sf0.01")
PINS = os.path.join(HERE, "pins.tsv")
# seconds a run may take; the first run of a checkout also builds
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
# A fixed heap and young generation keep peak RSS from following the
# collector's timing-driven sizing; the JVM writes no perf-data file.
# JIT compiler threads never exit, so the harness can leave their CPU
# out of the work it measures.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Xmn600m", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads"]

# Spark on JDK 17 needs these outside spark-submit (the same list the
# repository's build.sbt passes to forked runs).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]

# Inputs of the build: a change to any of them rebuilds.
SOURCE_ROOTS = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
SOURCE_FILES = [os.path.join(ROOT, "build.sbt")]
SOURCE_EXT = (".scala", ".java", ".sbt", ".properties")
# The root build takes Spark (and the Scala library and compiler that
# come with it) from one jar directory, named by this setting.
UNMANAGED_BASE = re.compile(r'^\s*unmanagedBase\s*:=\s*file\("([^"]+)"\)', re.M)
COMPILER_JARS = ("scala-compiler", "scala-library", "scala-reflect")


def die(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = [f for f in SOURCE_FILES if os.path.isfile(f)]
    for top in SOURCE_ROOTS:
        for d, dirs, names in os.walk(top):
            dirs.sort()
            files += [os.path.join(d, n) for n in names if n.endswith(SOURCE_EXT)]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    """The jar directory the root build compiles and runs graft against."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = UNMANAGED_BASE.search(fh.read())
    if m is None:
        die("build.sbt names no unmanagedBase jar directory", 3)
    jars = sorted(os.path.join(m.group(1), n) for n in os.listdir(m.group(1))
                  if n.endswith(".jar")) if os.path.isdir(m.group(1)) else []
    if not jars:
        die(f"no jars in {m.group(1)}, the build's unmanagedBase", 3)
    return jars


def scala_sources(top):
    return sorted(os.path.join(d, n) for d, _, names in os.walk(top)
                  for n in names if n.endswith(".scala"))


def classpath(deadline):
    """The harness classpath, compiling graft and the harness if stale.

    graft's src/main and the harness's src/main are compiled in one
    scalac run, with the Scala compiler among the build's own jars, so
    the build needs no build tool, dependency cache or network; their
    resources are copied next to the classes, as sbt does."""
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    stamp = source_stamp()
    jars = spark_jars()
    cp = os.pathsep.join([classes, *jars])
    if os.path.isfile(stamp_file) and os.path.isdir(classes):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return cp
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    building = os.path.join(BUILD_DIR, "classes.building")
    os.makedirs(building)
    compiler = [j for j in jars
                if os.path.basename(j).rsplit("-", 1)[0] in COMPILER_JARS]
    if len(compiler) != len(COMPILER_JARS):
        die("the build's jars hold no Scala compiler", 3)
    sources = scala_sources(os.path.join(ROOT, "src", "main", "scala")) + \
        scala_sources(os.path.join(HERE, "src", "main", "scala"))
    args_file = os.path.join(BUILD_DIR, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(["-classpath", os.pathsep.join(jars), "-d", building,
                            *sources]) + "\n")
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={BUILD_DIR}", "-cp", os.pathsep.join(compiler),
             "scala.tools.nsc.Main", f"@{args_file}"],
            cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        code = wait(proc, deadline)
    if code != 0:
        with open(log) as fh:
            sys.stderr.write("".join(l[:300] for l in fh.readlines()[-40:]))
        die(f"build failed (exit {code}); log in {os.path.relpath(log, ROOT)}", 3)
    for res in (os.path.join(ROOT, "src", "main", "resources"),
                os.path.join(HERE, "src", "main", "resources")):
        if os.path.isdir(res):
            shutil.copytree(res, building, dirs_exist_ok=True)
    os.rename(building, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def wait(proc, deadline):
    """Wait for proc; kill its whole process group at the deadline, or
    when this process is interrupted or terminated first."""
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        die("timed out", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def tool(cp, args):
    """Pin every entry, or check a Verify dump against the pins."""
    work = os.path.join(RUN_ROOT, f"tool-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    mode = (["pin", "--data", DATA] if args.pin
            else ["check", "--dump", os.path.abspath(args.check_dump)])
    env = dict(os.environ, SPARK_GRAFT_INDEX_DIR=os.path.join(work, "index"))
    try:
        return subprocess.call(
            ["java", *JVM_OPTS, *ADD_OPENS, f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
             "graft.perfbench.Main", *mode, "--work", work, "--pins", PINS],
            cwd=ROOT, env=env, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def tree_bytes(top):
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(top) for n in names
               if os.path.isfile(os.path.join(d, n)))


def report(values, trace):
    """The metrics BENCHMARK.json lists for this mode, with its units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if trace else "end_to_end"]
    missing = [m["name"] for m in spec
               if not isinstance(values.get(m["name"]), (int, float))
               or not math.isfinite(values[m["name"]])]
    if missing:
        die(f"no value measured for {missing}", 6)
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="print a pin line for every entry (for pins.tsv)")
    ap.add_argument("--check-dump", metavar="DIR",
                    help="compare a graft.Verify dump over the same tables to the pins")
    args = ap.parse_args()
    start = time.monotonic()
    signal.signal(signal.SIGTERM, lambda *_: die("terminated", 143))
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isdir(
            os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no graft sources next to perfbench/; run from a graft checkout", 2)
    if not os.path.isdir(DATA) or not os.path.isfile(PINS):
        die("benchmark inputs missing under perfbench/", 2)
    # the first run of a checkout builds, which may take minutes
    cp = classpath(start + FIRST_RUN_LIMIT_S - RUN_LIMIT_S)
    if args.pin or args.check_dump:
        sys.exit(tool(cp, args))
    if args.workload is None or args.seed is None or args.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    run_start = time.monotonic()

    run_dir = os.path.join(RUN_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "index"):
        os.makedirs(os.path.join(run_dir, d))
    result_file = os.path.join(run_dir, "result.json")
    trace_file = os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json")
    if args.trace:
        os.makedirs(OUT_DIR, exist_ok=True)
    env = dict(os.environ,
               SPARK_GRAFT_INDEX_DIR=os.path.join(run_dir, "index"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    cmd = ["java", *JVM_OPTS, *ADD_OPENS,
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-cp", cp, "graft.perfbench.Main", "run",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", DATA, "--work", run_dir, "--pins", PINS,
           "--result", result_file, "--trace-out", trace_file]
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        code = wait(proc, min(run_start + RUN_LIMIT_S, start + FIRST_RUN_LIMIT_S))
        if code != 0 or not os.path.isfile(result_file):
            die(f"harness exited with {code}", 5)
        with open(result_file) as fh:
            result = json.load(fh)
        # what the run left in its temp dir once the JVM and its shutdown
        # hooks are gone
        leftover = tree_bytes(os.path.join(run_dir, "tmp"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    values = dict(result["values"], **{"tmp.leftover_bytes": leftover})
    result["metrics"] = report(values, args.trace == 1)

    diag = result["diag"]
    print(f"# workload={diag['workload']} seed={diag['seed']} "
          f"passes={diag['passes']} measured_s={diag['measured_s']:.2f} "
          f"calib_s={diag['calib_start_s']:.3f}/{diag['calib_end_s']:.3f} "
          f"other_cpu_cores={diag['other_cpu_cores']:.2f} "
          f"tmp_leftover_bytes={leftover}")
    print(f"# order pass0={','.join(diag['orders'][0])}")
    print(f"# end_to_end {json.dumps(diag['end_to_end'], sort_keys=True)}")
    print(f"# latency {json.dumps(diag['latency'])}")
    print(f"# wall pass_s={diag['pass_s']:.4f} (not gated) passes_s={diag['pass_times_s']}")
    print(f"# work_cpu_s of each pass {diag['pass_cpu_s']} "
          f"calib_s around them {diag['pass_calib_s']}")
    for n in diag["notes"]:
        print(f"# note {n}")
    for f in result["failures"]:
        print(f"# failed {f}")
    if args.trace == 1:
        print(f"# trace written to {os.path.relpath(trace_file, ROOT)}")
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
