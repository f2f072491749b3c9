"""Build file of the benchmark: compiles the program (`src/main/scala`) and
then the harness (`perfbench/scala`) with the Scala compiler that ships in
Spark's jar directory, into `.bench_build/` of the checkout.

Each of the two class directories is keyed by a digest of its sources (the
harness's also by the program's), so a later run over the same sources
reuses them and a harness edit recompiles the harness only. Run on its own
to build ahead of time:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
SCALA_VERSION = "2.13.17"

# Spark on JDK 17 outside spark-submit needs these (the same list as
# build.sbt's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# The harness JVM's flags beyond the module opens: the heap limit build.sbt's
# run sets (SPARK_DRIVER_MEM, default 8g), no hsperfdata file outside the
# checkout, and nothing that tunes the JIT, GC or codegen.
JVM_FLAGS = ["-XX:-UsePerfData", f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}"]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one build.sbt names."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            raise BuildError("no Spark jar directory: set SPARK_HOME")
    if not os.path.isdir(jars):
        raise BuildError(f"no Spark jar directory at {jars} (set SPARK_HOME)")
    return jars


def _scala_files(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _digest(paths, seed=""):
    d = hashlib.sha256(seed.encode())
    for path in paths:
        d.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            d.update(f.read())
    return d.hexdigest()[:16]


def _compile(srcs, classpath, out, log):
    """Compiles `srcs` into `out` unless it exists; `out` appears only
    complete."""
    if os.path.isdir(out):
        return
    jars = spark_jars()
    compiler = [os.path.join(jars, f"scala-{p}-{SCALA_VERSION}.jar")
                for p in ("compiler", "library", "reflect")]
    missing = [c for c in compiler if not os.path.isfile(c)]
    if missing:
        raise BuildError(f"Scala compiler jars not found: {missing}")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    proc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
         "-classpath", os.pathsep.join(classpath + [os.path.join(jars, "*")])] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("compilation failed:\n" + proc.stdout[-4000:])
    os.rename(tmp, out)


def ensure_built(log=sys.stderr):
    """Returns the classpath entries (program, harness), compiling first
    what changed. Older builds are removed."""
    program = _scala_files(os.path.join(ROOT, "src", "main", "scala"))
    if not program:
        raise BuildError("program sources src/main/scala not found in this checkout")
    harness = _scala_files(os.path.join(HERE, "scala"))
    pkey = _digest(program)
    prog_dir = os.path.join(BUILD_DIR, "program-" + pkey)
    harness_dir = os.path.join(BUILD_DIR, "harness-" + _digest(harness, pkey))
    os.makedirs(BUILD_DIR, exist_ok=True)
    for old in os.listdir(BUILD_DIR):
        if os.path.join(BUILD_DIR, old) not in (prog_dir, harness_dir):
            shutil.rmtree(os.path.join(BUILD_DIR, old), ignore_errors=True)
    _compile(program, [], prog_dir, log)
    _compile(harness, [prog_dir], harness_dir, log)
    return [prog_dir, harness_dir]


def java_command(classpath, main_args, work):
    """The JVM command line for the harness; temp files stay under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + JVM_FLAGS + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", os.pathsep.join(classpath + [os.path.join(spark_jars(), "*")]),
        "perfbench.Main"] + main_args)


if __name__ == "__main__":
    try:
        print(os.pathsep.join(ensure_built()))
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
