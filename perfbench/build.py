#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the library under test (``src/main/scala`` of the checkout) and the
benchmark driver (``perfbench/src``) with the Scala compiler that ships among
Spark's jars, into ``.bench_build/classes``. A step is skipped when its
sources and class path are unchanged since it last ran.

Usage, from the root of a checkout::

    python3 perfbench/build.py
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
LIB_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = pathlib.Path(__file__).resolve().parent / "src"


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the
    repository's build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (pathlib.Path(home) / "jars").is_dir():
        return pathlib.Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and pathlib.Path(m.group(1)).is_dir():
            return pathlib.Path(m.group(1))
    raise BuildError("no Spark jar directory found: set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    if home and (pathlib.Path(home) / "bin" / "java").is_file():
        return str(pathlib.Path(home) / "bin" / "java")
    exe = shutil.which("java")
    if not exe:
        raise BuildError("no java found: set JAVA_HOME")
    return exe


def _digest(sources, extra):
    h = hashlib.sha256(extra.encode())
    for s in sources:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    return h.hexdigest()


def _compile(name, sources, classpath, jars):
    out = BUILD / "classes" / name
    stamp = BUILD / "classes" / f"{name}.stamp"
    digest = _digest(sources, classpath + str(jars))
    if out.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    argfile = BUILD / "classes" / f"{name}.args"
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(out)]
    if classpath:
        cmd += ["-classpath", classpath]
    proc = subprocess.run(cmd + [f"@{argfile}"], cwd=ROOT,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError(f"compiling {name} failed:\n{proc.stdout[-4000:]}")
    stamp.write_text(digest)
    return out


def build():
    """Compile what changed; return the class path to run the driver with."""
    lib_sources = sorted(LIB_SRC.rglob("*.scala")) if LIB_SRC.is_dir() else []
    if not lib_sources:
        raise BuildError(f"no library sources under {LIB_SRC.relative_to(ROOT)}")
    bench_sources = sorted(BENCH_SRC.rglob("*.scala"))
    jars = spark_jars()
    lib = _compile("lib", lib_sources, "", jars)
    bench = _compile("bench", bench_sources, str(lib), jars)
    return os.pathsep.join([str(bench), str(lib), str(jars / "*")])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
