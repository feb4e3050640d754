"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark harness (perfbench/scala) with the Scala compiler that ships among
the Spark jars, into .bench_build/ at the repository root.

The jar directory is the one build.sbt names as `unmanagedBase`, so the
benchmark compiles against exactly the jars the library builds with. A build
is reused while a digest of every source file is unchanged.

Run from the repository root:  python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = ".bench_build"
SOURCES = ["src/main/scala", "perfbench/scala"]
RESOURCES = "src/main/resources"


class BuildError(Exception):
    pass


def spark_jars(root):
    """The jar directory build.sbt compiles against."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        raise BuildError("no build.sbt: run from the repository root")
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def _files(root, d, ext):
    out = []
    for base, _, names in os.walk(os.path.join(root, d)):
        out += [os.path.join(base, n) for n in names if n.endswith(ext)]
    return sorted(out)


def _digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(jars, classpath, dest, files):
    os.makedirs(dest, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", dest]
    if classpath:
        cmd += ["-cp", classpath]
    p = subprocess.run(cmd + files, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])


def build(root="."):
    """Compile if needed; return the runtime classpath (list of entries)."""
    jars = spark_jars(root)
    lib = _files(root, SOURCES[0], ".scala")
    bench = _files(root, SOURCES[1], ".scala")
    if not lib:
        raise BuildError("no library sources under src/main/scala")
    out = os.path.join(root, OUT)
    stamp = os.path.join(out, "stamp")
    digest = _digest(root, lib + bench + [os.path.abspath(__file__)])
    main_cls, bench_cls = os.path.join(out, "main"), os.path.join(out, "bench")
    if not (os.path.exists(stamp) and open(stamp).read() == digest):
        shutil.rmtree(out, ignore_errors=True)
        _scalac(jars, None, main_cls, lib)
        _scalac(jars, main_cls, bench_cls, bench)
        with open(stamp, "w") as f:
            f.write(digest)
    return [bench_cls, main_cls, os.path.join(root, RESOURCES), os.path.join(jars, "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        sys.exit(f"build: {e}")
