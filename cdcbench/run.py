#!/usr/bin/env python3
"""cdc-lake benchmark runner.

Builds the program (src/main) and the benchmark (cdcbench/src) from source
with the Scala compiler that ships in the Spark distribution, then runs one
workload in a single JVM and prints its result as the last stdout line.

    python3 cdcbench/run.py --workload cdc_stream --seed 1 --seconds 12 --trace 0
    python3 cdcbench/run.py --selftest

Everything it writes lives under `.bench_build/` in the checkout root
(or under $CARGO_TARGET_DIR when that is set).

Each build also records a class-data-sharing archive (JDK dynamic CDS) from
one short training run, so the measured JVMs load Spark's classes from it:
that cuts about 6 s of class loading from every run's set-up.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "cdcbench")
PROG_SRC = os.path.join(ROOT, "src", "main", "scala")
PROG_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
WORKLOADS = ("cdc_stream", "cdc_bulk", "lake_serve")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(d):
        d = os.path.join(ROOT, d)
    return os.path.join(d, "cdcbench")


def spark_home():
    """$SPARK_HOME, else the distribution of the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            die("set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def spark_jars():
    home = spark_home()
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not any("scala-compiler" in os.path.basename(j) for j in jars):
        die(f"no Spark distribution with a Scala compiler under {home}/jars")
    return jars


def sources(d, suffix=".scala"):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(suffix)]
    return sorted(out)


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(jars, cp, out, srcs):
    """Compile `srcs` into the jar `out` (jars, not directories: the JVM
    archives classes for class-data sharing only from jars)."""
    if os.path.exists(out):
        os.remove(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-cp", os.pathsep.join(cp), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        die(f"compilation failed for {out}")


def resources_jar(out):
    """The program's resources (data source registration) as a jar."""
    with zipfile.ZipFile(out, "w") as z:
        for base, _, files in os.walk(PROG_RES):
            for f in sorted(files):
                p = os.path.join(base, f)
                z.write(p, os.path.relpath(p, PROG_RES))


def build(jars):
    """Compile program then benchmark; each output is reused while the
    stamp of its inputs is unchanged. Returns the classpath and its stamp."""
    if not os.path.isdir(PROG_SRC) or not sources(PROG_SRC):
        die("program sources (src/main/scala) not found; run from a full checkout")
    bd = build_dir()
    os.makedirs(bd, exist_ok=True)
    prog_srcs, bench_srcs = sources(PROG_SRC), sources(BENCH_SRC)
    res_files = sources(PROG_RES, "")
    prog_out, bench_out = os.path.join(bd, "prog.jar"), os.path.join(bd, "bench.jar")
    res_out = os.path.join(bd, "resources.jar")
    prog_stamp = stamp(prog_srcs + res_files)
    bench_stamp = stamp(bench_srcs) + prog_stamp
    for out, srcs, st, cp in (
            (prog_out, prog_srcs, prog_stamp, jars),
            (bench_out, bench_srcs, bench_stamp, jars + [prog_out])):
        sf = out + ".stamp"
        if os.path.isfile(sf) and open(sf).read() == st:
            continue
        t0 = time.time()
        scalac(jars, cp, out, srcs)
        if out == prog_out:
            resources_jar(res_out)
        with open(sf, "w") as f:
            f.write(st)
        print(f"cdcbench: built {os.path.basename(out)} in {time.time() - t0:.1f}s",
              file=sys.stderr)
    return [bench_out, prog_out, res_out], bench_stamp


def train_archive(classpath, st):
    """Record the class-data-sharing archive of this build: one short
    cdc_stream run with -XX:ArchiveClassesAtExit. Without an archive (a JVM
    that cannot write one) the runs load classes as usual."""
    archive = os.path.join(build_dir(), "classes.jsa")
    sf = archive + ".stamp"
    if os.path.isfile(sf) and open(sf).read() == st:
        return archive if os.path.isfile(archive) else None
    if os.path.exists(archive):
        os.remove(archive)
    t0 = time.time()
    try:
        run_jvm(classpath, "cdcbench.Main",
                ["--workload", "cdc_stream", "--seed", "0", "--seconds", "1", "--trace", "0"],
                RUN_TIMEOUT_S, ["-XX:ArchiveClassesAtExit=" + archive])
    except SystemExit:
        print("cdcbench: no class-data-sharing archive; runs load classes as usual",
              file=sys.stderr)
    with open(sf, "w") as f:
        f.write(st)
    print(f"cdcbench: recorded class archive in {time.time() - t0:.1f}s", file=sys.stderr)
    return archive if os.path.isfile(archive) else None


def heap():
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{max(2, min(4, kb // (4 * 1024 * 1024)))}g"
    except (OSError, StopIteration):
        return "2g"


def run_jvm(classpath, main, args, timeout, jvm_flags=()):
    bd = build_dir()
    work = os.path.join(bd, "work")
    if os.path.isdir(work):
        shutil.rmtree(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result = os.path.join(work, "result.json")
    # -XX:-UsePerfData: no hsperfdata files outside the checkout
    cmd = (["java", f"-Xmx{heap()}", "-XX:+UseG1GC", "-Xss8m", "-XX:-UsePerfData"]
           + list(jvm_flags)
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties"),
              f"-Dderby.system.home={work}",
              "-cp", os.pathsep.join(classpath), main]
           + args + ["--work", work, "--result", result])
    # New session: a timeout kills the JVM and anything it spawned.
    p = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        code = p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"timed out after {timeout}s", 3)
    if code != 0:
        die(f"benchmark JVM exited with {code}", 4)
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    jars, st = build(spark_jars())
    classpath = jars + [os.path.join(spark_home(), "jars", "*")]
    if a.selftest:
        run_jvm(classpath, "cdcbench.SelfTest", [], RUN_TIMEOUT_S)
        print("cdcbench: selftest passed", file=sys.stderr)
        return
    archive = train_archive(classpath, st)
    # the measured JVM gets the whole time limit; building and recording
    # the archive happen once per checkout, before it
    result = run_jvm(
        classpath, "cdcbench.Main",
        ["--workload", a.workload, "--seed", str(a.seed),
         "--seconds", str(a.seconds), "--trace", str(a.trace)],
        RUN_TIMEOUT_S, ["-XX:SharedArchiveFile=" + archive] if archive else [])
    with open(result) as f:
        out = json.load(f)
    print(json.dumps(out["report"], sort_keys=True))
    print(json.dumps(out["result"]))


if __name__ == "__main__":
    main()
