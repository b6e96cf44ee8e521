"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark
harness (perfbench/src) into one class directory under .bench_build/,
using the Scala compiler and libraries of the Spark distribution the
program builds against (the `unmanagedBase` the repo's build.sbt names,
else $SPARK_HOME/jars). No dependency
is resolved or downloaded. A build is reused while no source changes.

    python3 perfbench/build.py        # prints the class directory
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
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    dirs = []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            dirs.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in dirs:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")) and glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    raise SystemExit("build: no Spark distribution with a Scala compiler found "
                     "(set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not prog:
        raise SystemExit("build: program sources (src/main/scala) not found under " + ROOT)
    return prog + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build():
    """Returns the class directory, compiling first when sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + sorted(glob.glob(os.path.join(jars, "scala-compiler-*.jar"))):
        h.update(os.path.relpath(p, ROOT).encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("build: scalac failed")
    open(os.path.join(tmp, ".ok"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
