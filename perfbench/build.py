"""Build the benchmark: compile the project's sources together with the
benchmark's driver, and generate the fixed table set.

The project builds against the jars of a Spark distribution (the
``unmanagedBase`` directory of ``build.sbt``, or ``$SPARK_HOME/jars``), which
include the Scala compiler, so the build calls ``scala.tools.nsc.Main``
directly. Outputs go under ``.bench_build/`` in the checkout and are reused
while the sources are unchanged.

Usage: python3 perfbench/build.py     (from the root of a checkout)
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
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
TABLES = os.path.join(OUT, "tables")
TABLE_SF = 0.01


def spark_jars():
    """The jar directory the project compiles against."""
    jars = None
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m and m.group(1)
    except OSError:
        pass
    if not jars and "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no scala-compiler jar under {jars}")
    return jars


def sources():
    src = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                           recursive=True))
    if not src:
        raise SystemExit("build: no project sources under src/main/scala")
    return src + sorted(glob.glob(os.path.join(HERE, "src/main/scala/**/*.scala"),
                                  recursive=True))


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _fresh(stamp, value):
    try:
        with open(stamp) as f:
            return f.read() == value
    except OSError:
        return False


def compile_classes():
    jars, src = spark_jars(), sources()
    key = digest(src)
    stamp = os.path.join(OUT, "classes.stamp")
    if _fresh(stamp, key):
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(src) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           f"-Djava.io.tmpdir={OUT}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(key)


def generate_tables():
    sys.path.insert(0, HERE)
    import gen
    key = digest([os.path.join(HERE, "gen.py")]) + f":{TABLE_SF}"
    stamp = os.path.join(OUT, "tables.stamp")
    if _fresh(stamp, key):
        return
    shutil.rmtree(TABLES, ignore_errors=True)
    gen.write_tables(TABLES, TABLE_SF)
    with open(stamp, "w") as f:
        f.write(key)


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    os.makedirs(OUT, exist_ok=True)
    compile_classes()
    generate_tables()


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    build()
