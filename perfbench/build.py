"""Build file of the benchmark: compiles the engine (src/main) and the
benchmark (perfbench/src) with the Scala compiler that ships in Spark's
jars into engine.jar and bench.jar under <build dir>/perfbench, then
dumps a JVM class-data archive (AppCDS) from one self-test run, so every
benchmark JVM starts without re-parsing Spark's classes. No network, no
sbt.

    python3 perfbench/build.py

The build dir is $CARGO_TARGET_DIR if set, else .bench_build at the repo
root. Stamps over every source, resource and jar name skip rebuilds of an
unchanged tree. Spark is found through $SPARK_HOME, else through
spark-submit on the PATH.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


# C1 only: with tiered C2, per-op latency kept falling through a whole run
# (C2 compiling Catalyst's planning code), so medians depended on run length.
JVM_OPTS = ["-XX:TieredStopAtLevel=1", "-Xms3g", "-Xmx3g", "-Xss16m",
            "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=error:stderr"] + [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
LOG4J = os.path.join(HERE, "log4j2.properties")


def java_cmd(classpath, tmp, main, args=(), extra=()):
    """The benchmark's JVM command line (shared by runs and the CDS dump)."""
    return (["java"] + JVM_OPTS + list(extra) +
            ["-Djava.io.tmpdir=" + tmp, "-Dlog4j2.configurationFile=" + LOG4J,
             "-cp", os.pathsep.join(classpath), main] + list(args))


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
        raise SystemExit("perfbench: Spark not found; set SPARK_HOME")
    return home


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(REPO, base, "perfbench")


def sources():
    """(engine sources, engine resources, benchmark sources), sorted."""
    main = sorted(glob.glob(os.path.join(REPO, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    res_root = os.path.join(REPO, "src", "main", "resources")
    res = sorted(p for p in glob.glob(os.path.join(res_root, "**"), recursive=True)
                 if os.path.isfile(p))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not main or not bench:
        raise SystemExit("perfbench: engine or benchmark sources missing")
    return main, res, bench


def stamp(files, jars):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    """Compile `files` into the jar `out`."""
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    classes = out + ".classes"
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("-nowarn\n-d\n%s\n-classpath\n%s\n" % (classes, os.pathsep.join(classpath)))
        f.writelines(p + "\n" for p in files)
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compile failed")
    return classes


def jar(classes, extra_root, extra, out):
    with zipfile.ZipFile(out + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, classes))
        for p in extra:
            z.write(p, os.path.relpath(p, extra_root))
    os.replace(out + ".tmp", out)
    shutil.rmtree(classes)


def ensure():
    """Build what is stale; return (runtime classpath, JVM options). The
    engine and the benchmark carry separate stamps, so a benchmark edit
    does not recompile the engine."""
    jars = sorted(glob.glob(os.path.join(spark_home(), "jars", "*.jar")))
    main, res, bench = sources()
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    engine, harness = os.path.join(out, "engine.jar"), os.path.join(out, "bench.jar")
    classpath = [harness, engine, os.path.join(spark_home(), "jars", "*")]
    engine_stamp = stamp(main + res, jars)
    if not fresh(engine, engine_stamp):
        print("perfbench: building the engine", file=sys.stderr)
        jar(scalac(jars, jars, engine, main),
            os.path.join(REPO, "src", "main", "resources"), res, engine)
        mark(engine, engine_stamp)
    # build.py itself is stamped: its JVM flags shape the class-data archive
    bench_stamp = stamp(bench + [os.path.abspath(__file__)], [engine_stamp])
    if not fresh(harness, bench_stamp):
        print("perfbench: building the benchmark", file=sys.stderr)
        jar(scalac(jars, [engine] + jars, harness, bench), HERE, [], harness)
        mark(harness, bench_stamp)
    archive = os.path.join(out, "classes.jsa")
    if not fresh(archive, bench_stamp):
        print("perfbench: dumping the class-data archive", file=sys.stderr)
        tmp = os.path.join(out, "cds-run")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        try:
            done = subprocess.run(java_cmd(classpath, tmp, "perfbench.SelfTest", extra=[
                "-XX:ArchiveClassesAtExit=" + archive]), cwd=tmp, stdout=sys.stderr)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        if done.returncode != 0:
            raise SystemExit("perfbench: self-test failed")
        mark(archive, bench_stamp)
    return classpath, ["-XX:SharedArchiveFile=" + archive]


def fresh(out, want):
    try:
        with open(out + ".stamp") as f:
            return f.read() == want
    except OSError:
        return False


def mark(out, value):
    with open(out + ".stamp", "w") as f:
        f.write(value)


if __name__ == "__main__":
    ensure()
