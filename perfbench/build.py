#!/usr/bin/env python3
"""Build file of the benchmark harness. Compiles graft (src/main/scala of
the checkout, with src/main/resources) and the harness (perfbench/harness)
with the Scala compiler that ships in Spark's jar directory, packs each
into a jar, and records a class-data-sharing archive of the classes a
benchmark JVM loads, so every run starts from the same archive.

Each step reruns only when a hash of its inputs changed. Usage:
    python3 perfbench/build.py   (prints the java command prefix of a run)
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(HERE, "harness")
# the module opens spark-submit passes on JDK 17
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
# Serial GC: its heap grows by free-ratio rules rather than G1's pause-time
# feedback, so peak RSS repeats run to run (G1 varied by a quarter on
# curate_batch); no perf-data file in /tmp
JVM_FLAGS = ["-Xmx3g", "-XX:+UseSerialGC", "-XX:-UsePerfData"]


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("no SPARK_HOME and no unmanagedBase in build.sbt")
    return m.group(1)


def files(root, ext=""):
    return sorted(p for p in glob.glob(f"{root}/**/*", recursive=True)
                  if os.path.isfile(p) and p.endswith(ext))


def digest(paths, salt=""):
    h = hashlib.sha256(salt.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def step(name, stamp, make):
    """Run make(tmp_dir) into BUILD/name unless BUILD/name/stamp == stamp."""
    out = os.path.join(BUILD, name)
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    make(tmp)
    with open(os.path.join(tmp, "stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def run_logged(cmd, log_path, what, cwd=None):
    with open(log_path, "w") as log:
        rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=cwd).returncode
    if rc != 0:
        raise BuildError(f"{what} failed; see {log_path}")


def scala_jar(jars, srcs, classpath, resources=None):
    """A step body: compile srcs against classpath, pack classes (and the
    resources directory) into <step>/classes.jar."""
    def make(tmp):
        classes = os.path.join(tmp, "classes")
        os.makedirs(classes)
        with open(os.path.join(tmp, "sources.txt"), "w") as f:
            f.write("\n".join(srcs))
        run_logged(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*",
                    "scala.tools.nsc.Main", "-d", classes, "-classpath", classpath,
                    "-nowarn", "-Ybackend-parallelism", "4",
                    "@" + os.path.join(tmp, "sources.txt")],
                   os.path.join(tmp, "compile.log"), "compiling")
        with zipfile.ZipFile(os.path.join(tmp, "classes.jar"), "w") as z:
            for root in [classes] + ([resources] if resources else []):
                for p in files(root):
                    z.write(p, os.path.relpath(p, root))
        shutil.rmtree(classes)
    return make


def build():
    """Build everything; return the java command prefix of a benchmark JVM."""
    program = files(PROGRAM_SRC, ".scala")
    if not program:
        raise BuildError(f"no Scala sources under {PROGRAM_SRC}")
    jars = spark_jars()
    spark_jar_files = files(jars, ".jar")
    if not spark_jar_files:
        raise BuildError(f"no Spark jars at {jars}")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        prog_stamp = digest(program + files(PROGRAM_RES))
        prog = step("program", prog_stamp,
                    scala_jar(jars, program, f"{jars}/*", PROGRAM_RES))
        harness_srcs = files(HARNESS_SRC, ".scala")
        harness_stamp = digest(harness_srcs, prog_stamp)
        harness = step("harness", harness_stamp,
                       scala_jar(jars, harness_srcs, f"{prog}/classes.jar:{jars}/*"))
        classpath = ":".join([f"{harness}/classes.jar", f"{prog}/classes.jar"] + spark_jar_files)
        base = ["java"] + JVM_OPENS + JVM_FLAGS + ["-cp", classpath]

        def archive(tmp):
            train = os.path.join(tmp, "train")
            run_logged(base[:1] + [f"-XX:ArchiveClassesAtExit={tmp}/classes.jsa",
                                   f"-Djava.io.tmpdir={tmp}"] + base[1:]
                       + ["graftbench.Train", train], os.path.join(tmp, "train.log"),
                       "class-data-sharing training run", cwd=tmp)
            shutil.rmtree(train, ignore_errors=True)
        cds = step("cds", harness_stamp + " ".join(JVM_FLAGS), archive)
    return base[:1] + [f"-XX:SharedArchiveFile={cds}/classes.jsa"] + base[1:]


if __name__ == "__main__":
    try:
        print(" ".join(build()))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
