"""Compile the engine (src/main/scala) and the benchmark (perfbench/src)
into one class directory with the Scala compiler that ships among
Spark's jars. No sbt, no dependency resolution: the classpath is
Spark's jar directory.

    python3 perfbench/build.py        # prints the class directory

The class directory is keyed by a digest of every source file, so a
changed source tree builds afresh and an unchanged one is reused.
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark not found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("perfbench: java not found (set JAVA_HOME)")
    return exe


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    if not os.path.isdir(roots[0]):
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    out = []
    for r in roots:
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build():
    """Return the class directory for the current sources, compiling it
    first if it does not exist yet."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    os.makedirs(BUILD, exist_ok=True)
    tmp = classes + ".tmp-%d" % os.getpid()
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    args = os.path.join(BUILD, "scalac-args-%d" % os.getpid())
    with open(args, "w") as f:
        f.write("\n".join('"%s"' % s for s in srcs))
    try:
        subprocess.run([java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + args],
                       check=True, stdout=sys.stderr)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    finally:
        os.remove(args)
    os.rename(tmp, classes)
    for old in os.listdir(BUILD):
        if old.startswith("classes-") and os.path.join(BUILD, old) != classes:
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(build())
