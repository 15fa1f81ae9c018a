"""Build file of the benchmark package: compiles the program's Scala
sources (src/main) together with the benchmark harness (perfbench/harness)
into one class directory with the Scala compiler shipped among the Spark
jars ($SPARK_HOME/jars, else the jar directory build.sbt names), so
neither sbt start-up nor compilation lands in any run.

A stamp over every source file's path and bytes, the jar list and the
compiler options skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (prints the class directory)
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
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


SCALAC_OPTS = ["-encoding", "UTF-8"]


def sources():
    found = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def jars():
    return sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repository's own
    build.sbt compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise RuntimeError("no Spark jars: set SPARK_HOME")
    return m.group(1)


def classes():
    """Compile if needed; return the class directory."""
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src", "main")) for s in srcs):
        raise RuntimeError("no program sources under src/main")
    cp = jars()
    if not cp:
        raise RuntimeError(f"no Spark jars under {spark_jars()}")
    h = hashlib.sha256()
    for part in SCALAC_OPTS + [os.path.basename(j) for j in cp]:
        h.update(part.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(f'"{s}"' for s in srcs) + "\n")
    cpath = os.pathsep.join(cp)
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cpath,
                    "scala.tools.nsc.Main", *SCALAC_OPTS, "-nowarn",
                    "-classpath", cpath, "-d", out, "@" + args_file],
                   check=True, stdout=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


def classpath():
    return os.pathsep.join([classes(), os.path.join(spark_jars(), "*")])


if __name__ == "__main__":
    print(classes())
