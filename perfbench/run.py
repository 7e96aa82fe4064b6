#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --record perfbench/batch_suite.tsv

Run it from the root of a graft checkout. The first run compiles graft and the
harness with sbt (the build in this directory depends on the checkout's own
build) and keeps the runtime classpath and the root build's JVM options under
`.bench_build/perfbench/`; later runs launch the JVM directly. The last line of
standard output is the JSON result (see BENCHMARK.json); everything else goes
before it or to stderr.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(OUT, "classpath.txt")
JAVAOPTS = os.path.join(OUT, "javaopts.txt")
WORKLOADS = ("cdc_ingest", "monitor_fanout", "batch_suite")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_newer_than(stamp):
    t = os.path.getmtime(stamp)
    for top in (os.path.join(ROOT, "src", "main"), HERE):
        for d, _, files in os.walk(top):
            for f in files:
                if f.endswith((".scala", ".sbt", ".properties")) and \
                        os.path.getmtime(os.path.join(d, f)) > t:
                    return True
    return os.path.getmtime(os.path.join(ROOT, "build.sbt")) > t


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} did not finish within {timeout} s", 3)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources at {ROOT}: run from the root of a graft checkout")
    if os.path.exists(CLASSPATH) and os.path.exists(JAVAOPTS) \
            and not sources_newer_than(CLASSPATH):
        return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_DRIVER_MEM"] = heap()  # the root build's -Xmx
    t0 = time.time()
    code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr,
                        stdin=subprocess.DEVNULL)
    if code != 0 or not (os.path.exists(CLASSPATH) and os.path.exists(JAVAOPTS)):
        fail(f"build failed (sbt exit {code})", 3)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)


def heap():
    """Driver heap of the repo's test command: half of RAM, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for checking the harness")
    ap.add_argument("--record", metavar="FILE",
                    help="write the batch suite's expected row counts and hashes")
    a = ap.parse_args()
    if a.record is None and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    build()
    name = a.workload or "record"
    work = os.path.join(OUT, f"work-{name}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    with open(JAVAOPTS) as f:
        opts = f.read().split()
    cmd = [java] + opts + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", work, "--bench-dir", HERE]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.smoke:
        cmd.append("--smoke")
    code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                          stdin=subprocess.DEVNULL, text=True)
    lines = out.splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if not l.startswith('{"correct"'):
            print(l)
    if a.record:
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(code)
    if code != 0 or not result:
        fail(f"workload {a.workload} exited {code} without a result", 1)
    if not a.trace:
        shutil.rmtree(work, ignore_errors=True)
    print(result[-1])


if __name__ == "__main__":
    main()
