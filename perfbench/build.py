"""Builds the benchmark from source.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) with the Scala compiler that ships in the
Spark distribution, into .bench_build/perfbench/classes, and packs them
into .bench_build/perfbench/perfbench.jar (a class-data-sharing archive
can only hold classes from jars; see run.py). A stamp of every source's
path and content skips the compile when nothing changed.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
OUT = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "perfbench.jar")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark distribution found "
                         "(set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("perfbench: no java found (set JAVA_HOME)")
    return exe


def _sources(top):
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compiles if needed; returns the runtime classpath."""
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(program, "graft", "wri")):
        raise SystemExit("perfbench: program sources not found under "
                         "src/main/scala; run from a checkout of the repo")
    sources = _sources(program) + _sources(os.path.join(HERE, "src"))
    resources = os.path.join(ROOT, "src", "main", "resources")
    digest = hashlib.sha256()
    for f in sources:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(OUT, ".stamp")
    jars = spark_jars()
    classpath = JAR + os.pathsep + os.path.join(jars, "*")
    if (os.path.exists(stamp) and os.path.exists(JAR)
            and open(stamp).read() == digest.hexdigest()):
        return classpath
    shutil.rmtree(OUT, ignore_errors=True)
    for f in os.listdir(BUILD) if os.path.isdir(BUILD) else []:
        if f == "perfbench.jar" or f.endswith(".jsa") or f.endswith(".jsa.tmp"):
            os.remove(os.path.join(BUILD, f))
    os.makedirs(OUT)
    tmp = os.path.join(ROOT, ".bench_build", "perfbench", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp, "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", OUT] + sources
    if subprocess.call(cmd, stdout=sys.stderr) != 0:
        raise SystemExit("perfbench: compile failed")
    if os.path.isdir(resources):
        shutil.copytree(resources, OUT, dirs_exist_ok=True)
    with zipfile.ZipFile(JAR + ".tmp", "w") as jar:
        for d, _, files in sorted(os.walk(OUT)):
            for f in sorted(files):
                if f != ".stamp":
                    path = os.path.join(d, f)
                    jar.write(path, os.path.relpath(path, OUT))
    os.replace(JAR + ".tmp", JAR)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classpath


if __name__ == "__main__":
    print(build())
