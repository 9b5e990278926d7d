"""Build step of the benchmark: compiles the program's main sources and the
benchmark's own Scala sources with the Scala compiler that ships among the
Spark jars, into `.bench_build/` at the root of the checkout.

The program's build file is not used or edited: the program's sources are
compiled as they stand, and the benchmark is compiled against them. Each
half is rebuilt only when a hash of its sources changes.

    python3 perfbench/build.py      # build (or confirm the build is current)
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(ROOT, ".bench_build")
COMPILE_TIMEOUT_S = 780


class BuildError(Exception):
    pass


def spark_jars():
    """The directory of Spark's jars: $SPARK_HOME/jars, else the one next
    to the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found: set JAVA_HOME or PATH")
    return exe


def _sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(name, files, classpath, extra_key=""):
    """Compile `files` into .bench_build/<name>; skip when the stamp
    matches. Returns the class directory."""
    out = os.path.join(BUILD, name)
    stamp = os.path.join(BUILD, name + ".stamp")
    key = _digest(files, extra_key)
    if os.path.exists(stamp) and open(stamp).read() == key:
        return out
    if not files:
        raise BuildError("no sources under " + name)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, name + ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-classpath", classpath, "-d", out, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         timeout=COMPILE_TIMEOUT_S)
    if res.returncode != 0:
        sys.stderr.write(res.stdout.decode(errors="replace")[-4000:])
        raise BuildError("scalac failed for " + name)
    with open(stamp, "w") as fh:
        fh.write(key)
    return out


def build():
    """Compile program then benchmark; returns the runtime classpath."""
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError("program sources not found at src/main/scala")
    jars = os.path.join(spark_jars(), "*")
    os.makedirs(BUILD, exist_ok=True)
    program = _compile("program", _sources(PROGRAM_SRC), jars)
    bench = _compile("bench", _sources(BENCH_SRC), program + os.pathsep + jars,
                     extra_key=open(os.path.join(BUILD, "program.stamp")).read())
    return os.pathsep.join([bench, program, jars])


if __name__ == "__main__":
    try:
        print(build())
    except (BuildError, subprocess.TimeoutExpired) as e:
        sys.stderr.write("build failed: %s\n" % e)
        sys.exit(2)
