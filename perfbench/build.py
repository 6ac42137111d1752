#!/usr/bin/env python3
"""Build the benchmark harness with the Scala compiler alone.

    python3 perfbench/build.py        # from the root of a graft checkout

compiles graft's sources (src/main/scala) and the harness's
(perfbench/src/main/scala) into perfbench/target/classes and prints the
runtime classpath. The Spark jars, and with them the Scala compiler, come
from the directory the library's own build.sbt names as `unmanagedBase`
(or $SPARK_HOME/jars). No sbt is involved, so the build reads nothing but
the checkout, the JDK and those jars, and writes only under
perfbench/target. The output is reused while the sources are unchanged.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
SOURCE_DIRS = (os.path.join("src", "main", "scala"),
               os.path.join("perfbench", "src", "main", "scala"))


class BuildError(Exception):
    pass


def spark_jars(root):
    """The Spark jar directory: the library build's unmanagedBase, else $SPARK_HOME/jars."""
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    candidates = ([m.group(1)] if m else []) + (
        [os.path.join(os.environ["SPARK_HOME"], "jars")] if "SPARK_HOME" in os.environ else [])
    for d in candidates:
        if os.path.isdir(d):
            return d
    raise BuildError(f"no Spark jar directory found (tried {candidates})")


def sources(root):
    return sorted(os.path.join(d, f) for top in SOURCE_DIRS
                  for d, _, fs in os.walk(os.path.join(root, top))
                  for f in fs if f.endswith(".scala"))


def stamp(root, files, jars):
    """Content hash of every input of the build."""
    h = hashlib.sha256()
    for p in [os.path.abspath(__file__), os.path.join(root, "build.sbt")] + files:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(jars).encode())
    return h.hexdigest()


def build(root, log=None):
    """Compile if the inputs changed; return the runtime classpath."""
    jar_dir = spark_jars(root)
    jars = sorted(os.path.join(jar_dir, j) for j in os.listdir(jar_dir) if j.endswith(".jar"))
    files = sources(root)
    key = stamp(root, files, jars)
    target = os.path.join(BENCH, "target")
    classes = os.path.join(target, "classes")
    cp = os.pathsep.join([classes] + jars)
    done = os.path.join(target, "build.stamp")
    if os.path.exists(done):
        with open(done) as fh:
            if fh.read().strip() == key:
                return cp
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[^/]*\.jar$", j)]
    if len(compiler) != 3:
        raise BuildError(f"no Scala compiler among the jars of {jar_dir}")
    if log:
        log(f"compiling {len(files)} Scala sources")
    tmp = os.path.join(target, "tmp")
    if os.path.exists(done):
        os.remove(done)
    shutil.rmtree(classes, ignore_errors=True)
    for d in (classes, tmp):
        os.makedirs(d, exist_ok=True)
    args = os.path.join(target, "scalac.args")
    with open(args, "w") as fh:
        # one quoted argument a line, so paths may hold spaces
        fh.write("".join(f'"{a}"\n' for a in
                         ["-nowarn", "-d", classes, "-classpath", os.pathsep.join(jars)] + files))
    build_log = os.path.join(target, "build.log")
    with open(build_log, "w") as out:
        rc = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "@" + args],
            cwd=root, stdout=out, stderr=subprocess.STDOUT, timeout=840).returncode
    if rc != 0:
        with open(build_log, errors="replace") as fh:
            raise BuildError(f"scalac exited with {rc}:\n{fh.read()[-3000:]}")
    with open(done, "w") as fh:
        fh.write(key + "\n")
    return cp


if __name__ == "__main__":
    try:
        print(build(os.getcwd(), log=lambda m: print(m, file=sys.stderr)))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
