"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark's own
Scala sources (perfbench/src) into one class directory, next to a copy of
the program's resources (src/main/resources), with the Scala
compiler that ships in Spark's jar directory. It mirrors the repository's
build.sbt for the main sources: Scala 2.13, no extra scalac options, and
Spark's jars as the unmanaged classpath. The jar directory is build.sbt's
`unmanagedBase`, or $SPARK_HOME/jars when SPARK_HOME is set. sbt is not used because its start-up
alone costs more than this whole compile.

The output lives under perfbench/.build/<hash of every input source>, so a
changed source is rebuilt and an unchanged tree is compiled once.

    python3 perfbench/build.py          # prints the class directory
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


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("build: no unmanagedBase in build.sbt and no SPARK_HOME")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler under {jars}")
    return jars


RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def walk(base, pred=lambda name: True):
    return [os.path.join(d, n) for d, _, names in os.walk(base) for n in names if pred(n)]


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(main, "graft")):
        raise SystemExit(f"build: program sources missing at {main}")
    return sorted(walk(main, lambda n: n.endswith(".scala")) +
                  walk(os.path.join(HERE, "src"), lambda n: n.endswith(".scala")))


def build():
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files + sorted(walk(RESOURCES)) + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(HERE, ".build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.isdir(classes):
        return classes
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    compiler_cp = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{m}-*.jar"))[0]
        for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", os.path.join(tmp, "classes"), "-classpath", os.path.join(jars, "*")] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, os.path.join(tmp, "classes"), dirs_exist_ok=True)
    os.rename(tmp, out)
    return classes


if __name__ == "__main__":
    print(build())
