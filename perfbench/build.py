#!/usr/bin/env python3
"""Build the engine and the benchmark harness from source, for the benchmark.

    python3 perfbench/build.py      # prints the runtime classpath

Compiles `src/main/scala` (the engine) and `perfbench/src/main/scala` (the
harness) in one call of the Scala compiler that ships with the engine's Spark
jars, into `.bench_build/perfbench/classes`. The build reads only the sources
and that jar directory and writes only under `.bench_build/`: it needs no sbt,
no dependency cache, no network and nothing under the home directory. A
SHA-256 of the sources keys the result, so later calls reuse it until a
source changes.

The jar directory is the engine build's `unmanagedBase` (root `build.sbt`).
"""
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")]
COMPILE_TIMEOUT_S = 600


class BuildError(Exception):
    pass


def jar_dir():
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'^\s*unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read(), re.M)
    if not m:
        raise BuildError("root build.sbt sets no unmanagedBase")
    d = os.path.join(ROOT, m.group(1))
    if not glob.glob(os.path.join(d, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark jars with a Scala compiler in {d}")
    return d


def sources():
    return sorted(f for d in SOURCE_DIRS
                  for f in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def stamp(srcs, jars):
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def build():
    """Returns (classpath, source stamp), compiling when the sources changed."""
    jars = sorted(glob.glob(os.path.join(jar_dir(), "*.jar")))
    srcs = sources()
    key, cp_file = stamp(srcs, jars), os.path.join(WORK, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == key:
            return cached["classpath"], key
    classes, tmp = os.path.join(WORK, "classes"), os.path.join(WORK, "tmp")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    os.makedirs(tmp, exist_ok=True)
    compiler = [j for j in jars if re.match(r"scala-(compiler|library|reflect)-",
                                            os.path.basename(j))]
    args_file = os.path.join(WORK, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-nowarn", "-d", classes, "-classpath", os.pathsep.join(jars)]
                          + srcs) + "\n")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                 "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "@" + args_file],
                cwd=ROOT, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=COMPILE_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            raise BuildError(f"compile timed out after {COMPILE_TIMEOUT_S} s; see {log}")
    if rc != 0:
        with open(log) as f:
            tail = f.readlines()[-20:]
        raise BuildError(f"compile failed (exit {rc}); see {log}:\n" + "".join(tail))
    cp = os.pathsep.join([classes] + jars)
    with open(cp_file, "w") as f:
        json.dump({"stamp": key, "classpath": cp}, f)
    return cp, key


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
