"""Build file of the benchmark: compiles the program (`src/main/scala`)
and the benchmark's JVM harness (`perfbench/src`) with the Scala
compiler that ships in Spark's jar directory, into
`.bench_build/classes`. A build is reused while no source changed.

    python3 perfbench/build.py        # build, print the classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def _sources():
    out = []
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            out += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the program's own
    `unmanagedBase` in build.sbt."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(sbt) and re.search(
        r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        raise BuildError("no Spark jar directory: set SPARK_HOME")
    return m.group(1)


def _stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build():
    """Return the classpath: the classes directory, compiled first if
    needed, and Spark's jars."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BuildError("no program sources under src/main/scala")
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise BuildError(f"no Spark jars at {jars}")
    files = _sources()
    stamp = _stamp(files, jars)
    cp = os.path.join(jars, "*")
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes + os.pathsep + cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
         "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-cp", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    return classes + os.pathsep + cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
