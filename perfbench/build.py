"""Build file of the perfbench package.

Compiles the program under test (`src/main/scala`) together with the
benchmark's own Scala sources (`perfbench/src`) into one class directory,
with the Scala compiler that ships in Spark's `jars/` directory. Spark is
found through `SPARK_HOME`, else through the `spark-submit` on `PATH`.

The class directory is rebuilt only when a source file changed: a digest of
every compiled file is kept next to it.

    python3 perfbench/build.py          # build (or reuse) and print the dir
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.sha256")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise BuildError("no Spark install: set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        raise BuildError("no program sources under src/main/scala: run from a checkout of the repo")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return program + own


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Return (class dir, Spark jars dir, seconds spent compiling)."""
    jars = spark_jars()
    files = sources()
    want = digest(files)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == want:
        return CLASSES, jars, 0.0
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    compiler = [glob.glob(os.path.join(jars, f"scala-{m}-2.13.*.jar"))
                for m in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"no Scala 2.13 compiler in {jars}")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD}",
           "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", CLASSES, "@" + argfile]
    t0 = time.monotonic()
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise BuildError("scalac failed:\n" + done.stdout[-4000:])
    with open(STAMP, "w") as fh:
        fh.write(want)
    return CLASSES, jars, time.monotonic() - t0


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"build: {e}")
