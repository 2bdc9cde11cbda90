#!/usr/bin/env python3
"""Run one perfbench workload from the root of a checkout.

    python3 perfbench/run.py --workload jira_ingest --seed 1 --seconds 10 --trace 0

Builds the program (src/main) and the benchmark driver (perfbench/src)
from source into .bench_build/ with the Scala compiler that ships in
the Spark jars, rebuilding whenever a source changes, then runs the
driver JVM and prints its result JSON as the last line of stdout.
Exits non-zero without a result line when anything fails.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The jars of $SPARK_HOME, else of the first `spark-submit` on PATH
    whose installation ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    return ""


SPARK_JARS = spark_jars()
WORKLOADS = ("jira_ingest", "curation", "corpus_build", "jira_scrape")
HEAP = "3g"
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files]
    return sorted(out)


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(out, classpath, files):
    """Compiles `files` into `out`; the stamp is written by the caller."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={BUILD}",
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath] + files
    t0 = time.time()
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        fail(f"compile failed for {out}")
    print(f"perfbench: compiled {len(files)} files into "
          f"{os.path.relpath(out, ROOT)} in {time.time() - t0:.1f}s", file=sys.stderr)


def build():
    """Program and driver classes, rebuilt when a source differs from
    the one its classes were compiled from (content stamp)."""
    os.makedirs(BUILD, exist_ok=True)
    jars = os.path.join(SPARK_JARS, "*")
    prog_src = sources(os.path.join(ROOT, "src/main/scala"))
    prog_res = os.path.join(ROOT, "src/main/resources")
    prog_stamp = stamp(prog_src + sources(prog_res), "scalac-" + jars)
    prog = os.path.join(BUILD, "program")
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if read(os.path.join(prog, "STAMP")) != prog_stamp:
            scalac(os.path.join(prog, "classes"), jars, prog_src)
            shutil.copytree(prog_res, os.path.join(prog, "classes"), dirs_exist_ok=True)
            write(os.path.join(prog, "STAMP"), prog_stamp)
        prog_classes = os.path.join(prog, "classes")
        drv_src = sources(os.path.join(BENCH, "src"))
        drv_stamp = stamp(drv_src, prog_stamp)
        drv = os.path.join(BUILD, "driver")
        if read(os.path.join(drv, "STAMP")) != drv_stamp:
            scalac(os.path.join(drv, "classes"), f"{prog_classes}:{jars}", drv_src)
            write(os.path.join(drv, "STAMP"), drv_stamp)
    return [os.path.join(drv, "classes"), prog_classes, jars]


def read(path):
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return None


def write(path, text):
    with open(path, "w") as f:
        f.write(text + "\n")


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src/main/scala")):
        fail("no program sources under src/main/scala: run from the root of a checkout")
    if not SPARK_JARS:
        fail("no Spark installation with a Scala compiler: set SPARK_HOME")
    classpath = build()

    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + ADD_OPENS +
           [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", ":".join(classpath), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--cores", str(cores()),
            "--data", os.path.join(BENCH, "data", "sf0.01"),
            "--certified", os.path.join(BENCH, "certified.json")])
    child = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)

    def stop(*_):
        child.kill()
        child.wait()
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    signal.signal(signal.SIGALRM, stop)
    signal.alarm(JVM_TIMEOUT_S)
    result = None
    e2e = {}
    for line in child.stdout:
        line = line.rstrip("\n")
        if line.startswith("{"):
            result = line
        else:
            print(line, flush=True)
            m = re.match(r"# e2e +(\S+) +(\S+) ", line)
            if m and m.group(1) != "failed_share":
                e2e[m.group(1)] = float(m.group(2))
    code = child.wait()
    signal.alarm(0)

    untraced = os.path.join(BUILD, "untraced", f"{a.workload}-seed{a.seed}.json")
    if code == 0 and not a.trace:
        os.makedirs(os.path.dirname(untraced), exist_ok=True)
        with open(untraced, "w") as f:
            json.dump(e2e, f)
    if code == 0 and a.trace:
        base = json.loads(read(untraced) or "{}")
        for k in sorted(set(base) & set(e2e)):
            d = e2e[k] - base[k]
            share = f" ({d / base[k]:+.1%})" if base[k] else ""
            print(f"# tracing overhead {k}: {d:+.4f}{share} against the last untraced run")
        if not base:
            print("# tracing overhead: no untraced run of this workload and seed to compare")
    if a.trace:
        trace = os.path.join(work, "trace.json")
        if os.path.exists(trace):
            keep = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}-{int(time.time())}.json")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            shutil.move(trace, keep)
            print(f"# spans written to {os.path.relpath(keep, ROOT)}")
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or result is None:
        fail(f"driver exited with code {code}" + ("" if result else " and no result"))
    json.loads(result)
    print(result, flush=True)


if __name__ == "__main__":
    main()
