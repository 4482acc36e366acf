"""Build file of the benchmark package: compiles the program's sources
(`src/main/scala` of the checkout) together with the harness
(`perfbench/src`) into `.bench_build/classes`, with the Scala compiler and
the Spark jars of the directory the project's `build.sbt` names as its
`unmanagedBase`. A stamp of the source contents skips the compile when
nothing changed.

Run it alone with `python3 perfbench/build.py` from the checkout root.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase directory")
    return m.group(1)


def _sources(root):
    srcs = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not srcs:
        raise RuntimeError(f"no program sources under {root}/src/main/scala")
    return srcs + sorted(glob.glob(os.path.join(BENCH_DIR, "src", "*.scala")))


def ensure(root):
    """Compile if needed; return (classes directory, Spark jars directory)."""
    jars = spark_jars(root)
    out = os.path.join(root, ".bench_build")
    classes = os.path.join(out, "classes")
    srcs = _sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes, jars
    cp = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    if not cp:
        raise RuntimeError(f"no Spark jars in {jars}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    done = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
                           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                           "-classpath", cp, "@" + argfile],
                          stdout=sys.stderr, timeout=850)
    if done.returncode != 0:
        raise RuntimeError(f"scalac exited with {done.returncode}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes, jars


if __name__ == "__main__":
    print(ensure(os.getcwd())[0])
