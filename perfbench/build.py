#!/usr/bin/env python3
"""Build file of the pipeline benchmark.

Compiles the engine (`src/main/scala` of the checkout) together with the
benchmark's own sources (`perfbench/src`) with the Scala compiler that ships
in the Spark distribution's jar directory (`$SPARK_HOME/jars`, else the
directory build.sbt declares), so the build needs no network and no sbt. The classes are packed into `<build dir>/perfbench/perfbench.jar` (a
jar, not a directory, so the JVM can keep them in a class-data-sharing
archive); a stamp holding a hash of every source file makes a rebuild happen
only when a source changed. A rebuild deletes the archives of the old jar.

    python3 perfbench/build.py            # build (or confirm up to date)

The build directory is `$CARGO_TARGET_DIR` when set, else `.bench_build`, both
relative to the checkout root.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the `unmanagedBase`
    the project's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME (no Spark jar directory found)")
    return m.group(1)


SPARK_JARS = spark_jars()


def build_root():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def out_dir():
    return os.path.join(build_root(), "perfbench")


def jar_path():
    return os.path.join(out_dir(), "perfbench.jar")


def classpath():
    return jar_path() + os.pathsep + os.path.join(SPARK_JARS, "*")


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH_DIR, "src")]
    out = []
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"perfbench: source directory {r} is missing")
        for d, _, files in os.walk(r):
            out.extend(os.path.join(d, f) for f in files if f.endswith((".scala", ".java")))
    return sorted(out)


def resources():
    """Engine resources (service registrations) copied next to the classes."""
    r = os.path.join(ROOT, "src", "main", "resources")
    if not os.path.isdir(r):
        return []
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)


def digest(paths):
    h = hashlib.sha256()
    for p in paths + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def ensure_built(log=sys.stderr):
    """Compile when the stamp does not match the sources; return the classpath."""
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"perfbench: Spark jar directory {SPARK_JARS} is missing")
    srcs = sources()
    res = resources()
    stamp = digest(srcs + res)
    out = out_dir()
    stamp_file = os.path.join(out, "stamp")
    if os.path.isfile(jar_path()) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classpath()
    shutil.rmtree(out, ignore_errors=True)
    staging = os.path.join(out, "classes")
    os.makedirs(staging)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", staging, "@" + args_file]
    rc = subprocess.run(cmd, stdout=log, stderr=log).returncode
    if rc != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed ({rc})")
    base = os.path.join(ROOT, "src", "main", "resources")
    tmp_jar = jar_path() + ".tmp"
    with zipfile.ZipFile(tmp_jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(staging):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, staging))
        for p in res:
            z.write(p, os.path.relpath(p, base))
    shutil.rmtree(staging)
    os.replace(tmp_jar, jar_path())
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classpath()


if __name__ == "__main__":
    ensure_built(sys.stdout)
    print(jar_path())
