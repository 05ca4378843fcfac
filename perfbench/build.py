#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the library (src/main/scala) and the benchmark's JVM program
(perfbench/src) with the Scala compiler that ships in Spark's jar
directory, packs them as lib.jar and bench.jar in
<build dir>/classes-<fingerprint>/, and records a class-data-sharing
archive (app.jsa) from a training run of both workloads at tiny scale,
which cuts JVM and Spark start-up of every benchmark run. A build whose
fingerprint (every source and fixture file's path and content, plus the
Spark jar list) already exists is reused.

    python3 perfbench/build.py            # build, print the classpath

The build directory is $CARGO_TARGET_DIR, else .bench_build, relative to
the checkout root (the current directory).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

LIB_SRC = os.path.join("src", "main", "scala")
LIB_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("perfbench", "src")
FIXTURES = os.path.join("perfbench", "fixtures")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def build_dir() -> str:
    return os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def spark_jars() -> str:
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside spark-submit on PATH, else the jars bundled with the
    pyspark package."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    try:
        import importlib.util
        spec = importlib.util.find_spec("pyspark")
        if spec and spec.origin:
            cands.append(os.path.join(os.path.dirname(spec.origin), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")) and glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise SystemExit("perfbench: no Spark jar directory with a Scala compiler found (set SPARK_HOME)")


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def heap_mb() -> int:
    """A quarter of physical memory, between 2 and 8 GiB."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return max(2048, min(8192, total_kb // 4 // 1024))


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm(tmpdir: str, cds: list) -> list:
    """java and its options for a benchmark JVM (the --add-opens set of
    build.sbt, which Spark needs on JDK 17 outside spark-submit)."""
    heap = heap_mb()
    return ([java(), f"-Xmx{heap}m", f"-Xms{heap}m", f"-Djava.io.tmpdir={tmpdir}"] + cds +
            [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS])


def sources(root: str, pattern: str = "*.scala") -> list:
    return sorted(f for f in glob.glob(os.path.join(root, "**", pattern), recursive=True) if os.path.isfile(f))


def pack(jar: str, dirs: list) -> None:
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d in dirs:
            for f in sources(d, "*"):
                z.write(f, os.path.relpath(f, d))


def train(out: str, cp: str) -> None:
    """Record the class-data-sharing archive from a tiny run of both
    workloads; a failed training run only leaves the archive out."""
    run_dir = os.path.join(out, "train")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cmd = jvm(os.path.join(run_dir, "tmp"), [f"-XX:ArchiveClassesAtExit={os.path.join(out, 'app.jsa')}"])
    cmd += ["-cp", cp, "graftbench.Main", "--workload", "train", "--seed", "1", "--seconds", "0",
            "--trace", "0", "--cores", str(cores()), "--run-dir", run_dir,
            "--out", os.path.join(run_dir, "result.json"), "--trace-out", os.path.join(run_dir, "spans.json"),
            "--fixtures", os.path.abspath(os.path.join(FIXTURES, "sf0.001"))]
    with open(os.path.join(out, "train.log"), "w") as log:
        subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=600)
    shutil.rmtree(run_dir, ignore_errors=True)


def fingerprint(files: list, jars: str) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()[:16]


def scalac(jars: str, classpath: str, out: str, files: list) -> None:
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = [java(), "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def ensure() -> tuple:
    """Build if needed; return (classpath, class-data-sharing options, fingerprint)."""
    if not os.path.isdir(LIB_SRC) or not os.path.isdir(BENCH_SRC):
        raise SystemExit(f"perfbench: {LIB_SRC} and {BENCH_SRC} must exist under the current "
                         "directory (run from the root of a graft checkout)")
    jars = spark_jars()
    lib, bench = sources(LIB_SRC), sources(BENCH_SRC)
    fp = fingerprint(lib + bench + sources(LIB_RES, "*") + sources(FIXTURES, "*"), jars)
    out = os.path.abspath(os.path.join(build_dir(), "classes-" + fp))
    jar_cp = os.path.join(jars, "*")
    cp = os.pathsep.join([jar_cp, os.path.join(out, "lib.jar"), os.path.join(out, "bench.jar")])
    if not os.path.exists(os.path.join(out, "ok")):
        shutil.rmtree(out, ignore_errors=True)
        tmp = os.path.join(out, "classes")
        scalac(jars, jar_cp, os.path.join(tmp, "lib"), lib)
        scalac(jars, os.pathsep.join([jar_cp, os.path.join(tmp, "lib")]), os.path.join(tmp, "bench"), bench)
        pack(os.path.join(out, "lib.jar"), [os.path.join(tmp, "lib"), LIB_RES])
        pack(os.path.join(out, "bench.jar"), [os.path.join(tmp, "bench")])
        shutil.rmtree(tmp)
        train(out, cp)
        open(os.path.join(out, "ok"), "w").close()
    jsa = os.path.join(out, "app.jsa")
    return cp, ([f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []), fp


if __name__ == "__main__":
    print(ensure()[0])
