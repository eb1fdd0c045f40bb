"""Build file of the benchmark package.

Compiles the repository's main Scala sources and then the benchmark's own
sources (perfbench/scala) with the Scala compiler that ships in Spark's
jars, packs each into a jar under .bench_build/ of the checkout, and
records a class-data-sharing archive of the classes a short training run
loads, which cuts JVM and Spark start-up for every run. A build is reused
while the hash of every source file it compiled is unchanged.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

OUT = ".bench_build"
MAIN_SRC = "src/main/scala"
RESOURCES = "src/main/resources"
BENCH_SRC = "perfbench/scala"
MAIN_JAR = os.path.join(OUT, "main.jar")
BENCH_JAR = os.path.join(OUT, "bench.jar")
ARCHIVE = os.path.join(OUT, "classes.jsa")
STAMP = os.path.join(OUT, "stamp")
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt names."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        sys.exit("perfbench: Spark jars not found (set SPARK_HOME)")
    return os.path.join(jars, "*")


def files_under(root, suffix=""):
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.join(d, f) for f in fs if f.endswith(suffix)]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(srcs, classpath, dest):
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    argfile = dest + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest,
           "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    if r.returncode != 0:
        sys.exit(f"perfbench: compiling {len(srcs)} sources failed")


def jar(dirs, dest):
    """Zip directory trees into a jar (class-data sharing needs jars)."""
    with zipfile.ZipFile(dest, "w") as z:
        for d in dirs:
            for p in files_under(d):
                z.write(p, os.path.relpath(p, d))


def java_cmd(work, archive=True):
    """The benchmark JVM's command line up to the main class."""
    cmd = ["java", "-Xmx3g", "-Xss16m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    if archive and os.path.exists(ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    cmd += [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return cmd + ["-cp", os.pathsep.join([BENCH_JAR, MAIN_JAR, spark_jars()]),
                  "perfbench.Main"]


def record_archive():
    """Run the training workload once and archive the classes it loads."""
    work = os.path.abspath(os.path.join(OUT, "training"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(work, archive=False)
    cmd.insert(1, f"-XX:ArchiveClassesAtExit={ARCHIVE}.tmp")
    r = subprocess.run(cmd + ["training", "1", "1", "0", work],
                       stdout=sys.stderr, stderr=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        sys.exit("perfbench: the training run failed")
    # a JVM that cannot write the archive still runs, only slower to start
    if os.path.exists(ARCHIVE + ".tmp"):
        os.replace(ARCHIVE + ".tmp", ARCHIVE)


def build():
    """Compile, pack and archive what changed; True if anything was built."""
    for p in (MAIN_SRC, RESOURCES, BENCH_SRC):
        if not os.path.isdir(p):
            sys.exit(f"perfbench: {p} is missing; run from a repository checkout")
    jars = spark_jars()
    main_srcs = files_under(MAIN_SRC, ".scala")
    bench_srcs = files_under(BENCH_SRC, ".scala")
    main_key = digest(main_srcs + files_under(RESOURCES))
    bench_key = digest(bench_srcs + [os.path.relpath(__file__)])
    old = open(STAMP).read().split() if os.path.exists(STAMP) else []
    if old == [main_key, bench_key]:
        return False
    os.makedirs(OUT, exist_ok=True)
    for f in (STAMP, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    main_cls = os.path.join(OUT, "main-classes")
    bench_cls = os.path.join(OUT, "bench-classes")
    if old[:1] != [main_key] or not os.path.exists(MAIN_JAR):
        scalac(main_srcs, jars, main_cls)
        jar([main_cls, RESOURCES], MAIN_JAR)
    scalac(bench_srcs, os.pathsep.join([MAIN_JAR, jars]), bench_cls)
    jar([bench_cls], BENCH_JAR)
    record_archive()
    with open(STAMP, "w") as f:
        f.write(f"{main_key} {bench_key}\n")
    return True


if __name__ == "__main__":
    build()
