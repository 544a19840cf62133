#!/usr/bin/env python3
"""Pipeline benchmark: one named workload, one seed, one result line.

    python3 perfbench/run.py --workload scd2_cdc --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark from source when needed (see build.py),
then runs the workload in one JVM on local[N], N = min(4, cpus). Every file the
run makes (the lake, Spark's scratch space, JVM temp files) lives in a fresh
directory under the build directory and is removed when the run ends. The last
line of standard output is the result object; everything else goes to
standard error.

The first run of a workload after a build also writes a class-data-sharing
archive of the classes it loaded (next to the jar); later runs of that
workload map it instead of loading and verifying those classes again.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("scd2_cdc", "lake_reads", "dedup_admit")
# Spark 4 on JDK 17 needs these when SparkSession is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def heap_mb():
    """A quarter of physical memory, clamped to [1, 3] GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        kb = 8 << 20
    return max(1024, min(3072, kb // 4096))


def cpus():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="show that every output check rejects a corrupted result")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")

    cp = build.ensure_built()
    os.makedirs(build.build_root(), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=build.build_root())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    jvm = ["java", f"-Xmx{heap_mb()}m", "-XX:-UsePerfData", "-Xss4m",
           f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
           "-Dlog4j.configurationFile=" + os.path.join(build.BENCH_DIR, "log4j2.properties")]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cds = dump = None
    if not a.selftest:
        cds = os.path.join(build.out_dir(), f"cds-{a.workload}.jsa")
        if os.path.isfile(cds):
            jvm.append(f"-XX:SharedArchiveFile={cds}")
        else:
            dump = cds + ".tmp"
            jvm.append(f"-XX:ArchiveClassesAtExit={dump}")
    jvm += ["-cp", cp]
    if a.selftest:
        cmd = jvm + ["perfbench.SelfTest"]
    else:
        cmd = jvm + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--cpus", str(cpus()), "--work", work]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, cwd=work, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if dump and os.path.isfile(dump):
        if proc.returncode == 0:
            os.replace(dump, cds)
        else:
            os.remove(dump)

    lines = out.splitlines()
    result = None
    for i in range(len(lines) - 1, -1, -1):
        if lines[i].startswith('{"correct"'):
            result = lines.pop(i)
            break
    for l in lines:
        print(l, file=sys.stderr)
    if a.selftest:
        return proc.returncode
    if proc.returncode != 0 or result is None:
        print(f"perfbench: workload exited {proc.returncode} without a result",
              file=sys.stderr)
        return proc.returncode or 4
    json.loads(result)
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
