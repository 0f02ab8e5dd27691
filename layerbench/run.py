#!/usr/bin/env python3
"""Run one layerbench workload.

    python3 layerbench/run.py --workload dash_read --seed 1 --seconds 12 --trace 0

Builds the library (src/main/scala) and the benchmark
(layerbench/src/main/scala) from source with the Scala compiler that
ships among the Spark jars, caching the classes (and a class data
sharing archive of a run's loaded classes) under the build directory
($CARGO_TARGET_DIR, default .bench_build) until a source file changes.
Then runs the workload in a fresh JVM under a per-run
directory, deletes that directory, and prints the JVM's result line as
the last line of standard output. Exits non-zero, printing no result,
when the library sources are missing, the build fails or the run fails.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
WORKLOADS = ("dash_read", "ingest_mutate", "stream_follow")
RUN_TIMEOUT_S = 170


def fail(msg):
    print("layerbench: " + msg, file=sys.stderr)
    sys.exit(2)


def scala_sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def add_opens():
    """The --add-opens flags listed in conf/add-opens.txt."""
    with open(os.path.join(HERE, "conf", "add-opens.txt")) as f:
        pkgs = [ln.strip() for ln in f if ln.strip() and not ln.startswith("#")]
    return [x for p in pkgs for x in ("--add-opens", p + "=ALL-UNNAMED")]


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the unmanagedBase
    the repo's build.sbt names."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    build = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(build):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
        if m:
            cands.append(m.group(1))
    for c in cands:
        if os.path.isdir(c) and any(f.startswith("spark-sql_") for f in os.listdir(c)):
            return c
    fail("no Spark jar directory found (set SPARK_HOME)")


def cds_archive(bdir):
    return os.path.join(bdir, "classes.jsa")


def build(bdir, jars):
    """Compile into bdir/classes.jar (a jar, not a directory, because
    class data sharing refuses non-empty directories on the class path)
    unless the sources and the jar list match the last build's stamp."""
    srcs = scala_sources(LIB_SRC) + scala_sources(BENCH_SRC)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    out = os.path.join(bdir, "classes.jar")
    stamp_file = os.path.join(bdir, "classes.stamp")
    if os.path.isfile(out) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return out
    tmp = os.path.join(bdir, "classes.tmp.jar")
    argfile = os.path.join(bdir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join('"%s"' % s for s in srcs))
    print("layerbench: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        if os.path.exists(tmp):
            os.remove(tmp)
        fail("build failed")
    if os.path.exists(cds_archive(bdir)):
        os.remove(cds_archive(bdir))
    os.replace(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(LIB_SRC, "graft", "boostql", "BoostQL.scala")):
        fail("library sources not found under " + LIB_SRC)
    bd = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    bdir = os.path.join(bd if os.path.isabs(bd) else os.path.join(ROOT, bd), "layerbench")
    os.makedirs(bdir, exist_ok=True)
    jars = spark_jars()
    classes = build(bdir, jars)

    run_dir = os.path.join(bdir, "runs", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Class data sharing: the first run after a build dumps the classes
    # it loaded, and later runs map that archive instead of loading
    # Spark's classes from the jars again
    jsa = cds_archive(bdir)
    cds = (["-XX:SharedArchiveFile=" + jsa] if os.path.isfile(jsa)
           else ["-XX:ArchiveClassesAtExit=" + jsa + ".tmp"])
    # C1 only: C2 finishing at a different point in each short run made
    # the follow latency spread 111% across seeds (README, "JIT")
    cmd = ["java"] + add_opens() + cds + [
            "-Xlog:disable", "-Xmx2g", "-Xss8m", "-XX:TieredStopAtLevel=1",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "conf", "log4j2.properties"),
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "graft.layerbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--run-dir", run_dir]
    if a.trace:
        cmd += ["--trace-out",
                os.path.join(bdir, "traces", "%s-seed%d.jsonl" % (a.workload, a.seed))]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail("run exceeded %d s" % RUN_TIMEOUT_S)
    shutil.rmtree(run_dir, ignore_errors=True)
    if os.path.exists(run_dir):
        fail("could not delete the run directory " + run_dir)
    lines = out.rstrip("\n").split("\n")
    result = lines[-1] if lines else ""
    if proc.returncode != 0 or not result.startswith('{"correct"'):
        sys.stderr.write(out)
        fail("run failed (exit %d)" % proc.returncode)
    if os.path.isfile(jsa + ".tmp"):
        os.replace(jsa + ".tmp", jsa)
    for ln in lines[:-1]:
        print(ln)
    print(result)


if __name__ == "__main__":
    main()
