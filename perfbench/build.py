"""Build file of the benchmark package.

Compiles graft's main sources (src/main/scala) together with the
benchmark's own (perfbench/src) with the Scala compiler that ships in
Spark's jars, packs the classes into one jar, and records a class-data
sharing archive of a short cdc_churn run so that every benchmark JVM
starts from the same pre-parsed classes (it halves JVM + session start
here).

The output lives under $CARGO_TARGET_DIR (default .bench_build) in a
directory named after a digest of every source file, so an unchanged
tree is built once and reused by every later run.

    python3 perfbench/build.py        # builds, prints the build directory
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these module openings
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else /opt/spark/jars."""
    for home in (os.environ.get("SPARK_HOME"), "/opt/spark"):
        if home and glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def target_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR")
                           or os.path.join(ROOT, ".bench_build"))


def sources():
    if not os.path.isdir(MAIN_SRC):
        raise SystemExit("perfbench: no program sources at src/main/scala")
    files = []
    for base in (MAIN_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def java_cmd(out, workdir, main_args, extra=()):
    """The one JVM command line of every benchmark process: fixed heap,
    the run's working directory as java.io.tmpdir, errors-only logging."""
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Xlog:cds=off",
           f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}",
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dperfbench.data=" + os.path.join(BENCH_DIR, "data", "sf0.001"), *extra]
    archive = os.path.join(out, "classes.jsa")
    if os.path.exists(archive) and not extra:
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cp = os.pathsep.join([os.path.join(out, "perfbench.jar")] + jars)
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    return cmd + ["-cp", cp, "perfbench.Main", "--workdir", workdir] + list(main_args)


def _compile(files, dest, log):
    cp = os.path.join(spark_jars(), "*")
    argfile = dest + ".sources"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-Ybackend-parallelism", "4", "-d", dest, "-cp", cp, "@" + argfile]
    code = subprocess.run(cmd, stdout=log, stderr=log).returncode
    os.remove(argfile)
    if code != 0:
        raise SystemExit(f"perfbench: compile failed ({code})")


def build(log=sys.stderr):
    """Returns the build directory, building it first if needed."""
    files = sources()
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__), os.path.join(BENCH_DIR, "log4j2.properties")]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(target_dir(), "build-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "BUILT")):
        return out
    # built in place (the archive records the jar's path); BUILT marks
    # a finished build, so an interrupted one is started over
    t0 = time.time()
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    _compile(files, classes, log)
    with zipfile.ZipFile(os.path.join(out, "perfbench.jar"), "w", zipfile.ZIP_STORED) as z:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    # class-data sharing: record the classes a short run loads (cdc_churn
    # takes both the fact and the dimension path); a failed recording
    # only costs start-up time, so it is not an error
    print("perfbench: recording the class-data archive", file=log, flush=True)
    work = os.path.join(out, "cds-run")
    cmd = java_cmd(out, work, ["--workload", "cdc_churn", "--seconds", "0"],
                   extra=[f"-XX:ArchiveClassesAtExit={os.path.join(out, 'classes.jsa')}"])
    try:
        subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=300)
    except subprocess.TimeoutExpired:
        pass
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(out, "BUILT"), "w") as fh:
        fh.write(f"built in {time.time() - t0:.1f} s\n")
    return out


if __name__ == "__main__":
    print(build())
