#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark's JVM side (perfbench/scala) with the Scala compiler that
ships in Spark's jar directory, into .bench_build/classes.

A build is skipped when the sources hash to the stamp of the last one.

    python3 perfbench/build.py          # build (or confirm up to date)
"""
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
QUERIES = os.path.join(BUILD, "queries.json")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]

# Spark 4.x on JDK 17 outside spark-submit needs these (the engine's
# build.sbt passes the same list).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the engine's build.sbt
    declares as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            raise BuildError("SPARK_HOME is unset and build.sbt names no unmanagedBase")
        d = m.group(1)
    if not os.path.isdir(d):
        raise BuildError(f"Spark jar directory not found: {d}")
    return d


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"source directory missing: {os.path.relpath(d, ROOT)}")
        for dirpath, _, names in os.walk(d):
            found += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    if not found:
        raise BuildError("no Scala sources found")
    return sorted(found)


def source_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    return f"{CLASSES}:{spark_jars()}/*"


def java_cmd(main_args, heap="3g", tmpdir=None):
    """The JVM command line that runs the benchmark's JVM side."""
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if tmpdir:
        cmd.append(f"-Djava.io.tmpdir={tmpdir}")
    return cmd + ["-cp", classpath(), "graft.perfbench.Main"] + main_args


def build(quiet=False):
    """Compile if the sources changed; return the source hash."""
    paths = sources()
    digest = source_hash(paths)
    if os.path.exists(STAMP) and os.path.exists(QUERIES):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return digest
    os.makedirs(BUILD, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(paths) + "\n")
    jars = f"{spark_jars()}/*"
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-cp", jars, "-d", tmp, "@" + argfile]
    if not quiet:
        print(f"[build] compiling {len(paths)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    r = subprocess.run(java_cmd(["list"], heap="1g"), stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=120)
    if r.returncode != 0:
        raise BuildError("listing the registered queries failed:\n" + r.stderr[-4000:])
    groups = json.loads(r.stdout.strip().splitlines()[-1])
    with open(QUERIES, "w") as f:
        json.dump(groups, f, indent=1, sort_keys=True)
    with open(STAMP, "w") as f:
        f.write(digest + "\n")
    return digest


def registry():
    with open(QUERIES) as f:
        return json.load(f)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(1)
