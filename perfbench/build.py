#!/usr/bin/env python3
"""Build file of the pipeline benchmark.

Compiles the library sources (`src/main/scala` of the checkout) together
with the benchmark's own sources (`perfbench/src`) into
`.bench_build/perfbench/<digest>/bench.jar`, with the Scala compiler and
the Spark jars of the local Spark distribution: `$SPARK_HOME/jars`, else the
`unmanagedBase` dir that `build.sbt` names. No dependency is resolved and
nothing is written outside the checkout. `<digest>` covers every source
file, so an unchanged tree is not built twice; the build dir of the tree
built before is kept too, so switching between two trees rebuilds neither.

The build then records a class-data-sharing archive (`app.jsa`) from one
short training run, which takes 4-9 s of class loading off every benchmark
JVM (`batch_daily` set-up about 29 s with it, 35-37 s without, on 4 vCPUs).
Every benchmark JVM runs with it: a failed training run fails the build.

    python3 perfbench/build.py          # prints the jar
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
KEEP_BUILDS = 2


class BuildError(Exception):
    pass


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = os.path.isfile(sbt) and re.search(
            r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if not m:
            raise BuildError("SPARK_HOME unset and build.sbt names no unmanagedBase")
        jars = m.group(1)
    if not os.path.isdir(jars) or not any(
            f.startswith("scala-compiler") for f in os.listdir(jars)):
        raise BuildError(f"no Spark distribution with a Scala compiler at {jars}")
    return jars


def sources():
    if not os.path.isdir(LIB_SRC):
        raise BuildError(f"library sources not found: {LIB_SRC}")
    found = []
    for top in (LIB_SRC, BENCH_SRC):
        for dirpath, _, files in os.walk(top):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def archive(jar):
    """The class-data-sharing archive recorded beside `jar`."""
    return os.path.join(os.path.dirname(jar), "app.jsa")


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpus():
    return len(os.sched_getaffinity(0))


def java_cmd(jar, run_dir, main, args, cds=None):
    """`cds` is `-XX:ArchiveClassesAtExit=...` when training; otherwise the
    JVM maps the archive beside the jar."""
    jars = os.path.join(spark_jars(), "*")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties"),
             "-Dspark.sql.session.timeZone=UTC",
             cds or "-XX:SharedArchiveFile=" + archive(jar)] + opens +
            ["-cp", os.pathsep.join([jar, jars]), main] + args)


def workload_args(workload, seed, seconds, trace, run_dir):
    return ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--run-dir", run_dir,
            "--fixtures", os.path.join(BENCH_DIR, "fixtures"), "--cpus", str(cpus())]


def train(jar, jsa):
    """One short batch_daily run that dumps the classes it loaded to `jsa`."""
    run_dir = os.path.join(ROOT, ".bench_run", f"train-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        cmd = java_cmd(jar, run_dir, "graftbench.Main",
                       workload_args("batch_daily", 0, 0.001, 0, run_dir),
                       "-XX:ArchiveClassesAtExit=" + jsa)
        proc = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                              text=True, cwd=ROOT, timeout=600)
    except subprocess.TimeoutExpired:
        raise BuildError("class-data-sharing training run timed out")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0 or not os.path.isfile(jsa):
        raise BuildError(f"class-data-sharing training run exited {proc.returncode}:\n"
                         + proc.stderr[-4000:])


def build(log=sys.stderr):
    """Return the jar of this tree, building it (and training its archive)
    first when no build of the same sources exists."""
    jars = spark_jars()
    files = sources()
    out = os.path.join(OUT, digest(files)[:16])
    jar = os.path.join(out, "bench.jar")
    done = os.path.join(out, "done")
    if os.path.isfile(done):
        os.utime(out)
        return jar
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        compile_jar(jars, files, out, jar, log)
        print("[perfbench] recording the class-data-sharing archive", file=log, flush=True)
        train(jar, archive(jar))
    except BaseException:
        shutil.rmtree(out, ignore_errors=True)
        raise
    open(done, "w").close()
    older = sorted((d for d in os.listdir(OUT) if d != os.path.basename(out)),
                   key=lambda d: os.path.getmtime(os.path.join(OUT, d)))
    for d in older[:max(0, len(older) - (KEEP_BUILDS - 1))]:
        shutil.rmtree(os.path.join(OUT, d), ignore_errors=True)
    return jar


def compile_jar(jars, files, out, jar, log):
    fresh = os.path.join(out, "classes")
    os.makedirs(fresh)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", fresh,
           "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for dirpath, _, names in os.walk(fresh):
            for n in sorted(names):
                f = os.path.join(dirpath, n)
                z.write(f, os.path.relpath(f, fresh))
    shutil.rmtree(fresh)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
