#!/usr/bin/env python3
"""Run one workload of the store benchmark and print its result line.

Usage, from the root of a checkout:

    python3 storebench/run.py --workload point_read --seed 1 --seconds 12 --trace 0

The first run in a checkout compiles the engine and the benchmark with
sbt (the benchmark's own build in this directory pulls the engine in from
the checkout's sources) and records the JVM arguments that start it;
later runs reuse them while the sources are unchanged. Build outputs and run scratch
stay inside the checkout. The last stdout line is the JSON result; the
exit code is non-zero, and no result is printed, when the build or the
run fails.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "storebench")
WORKLOADS = ("point_read", "point_ingest", "doc_serve")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# a fixed heap and young generation, so the collector makes no sizing
# decisions from measured pause times (which follow the host's load).
# Nothing is pre-touched: resident memory is the young generation plus
# what the engine keeps in the old one and natively
HEAP = "2g"
YOUNG = "320m"


def log(msg):
    print(f"storebench: {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the engine's and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so nothing it started outlives the call."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return proc.returncode, out


def build():
    """Compile if the sources changed; return the JVM arguments (flags and
    classpath) that start the benchmark."""
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    args_file = os.path.join(BUILD_DIR, "launch-args")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(args_file):
        with open(stamp_file) as s:
            if s.read() == stamp:
                with open(args_file) as a:
                    return a.read().splitlines()
    if not os.path.exists(os.path.join(ROOT, "src", "main")):
        raise RuntimeError("no engine sources next to the benchmark: nothing to build")
    log("building engine and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchArgs"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    sys.stderr.write(out)
    produced = os.path.join(HERE, "target", "launch-args")
    if code != 0 or not os.path.exists(produced):
        raise RuntimeError(f"sbt build failed (exit {code})")
    os.makedirs(BUILD_DIR, exist_ok=True)
    shutil.copyfile(produced, args_file)
    with open(stamp_file, "w") as s:
        s.write(stamp)
    with open(args_file) as a:
        return a.read().splitlines()


def check_result(line):
    res = json.loads(line)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert isinstance(res["failed"], int)
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    try:
        launch = build()
    except (RuntimeError, subprocess.TimeoutExpired, OSError) as e:
        log(f"build failed: {e}")
        return 2

    work = os.path.join(BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + launch + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp",
        "storebench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out)
        log(f"run failed (exit {code})")
        return 4
    try:
        check_result(lines[-1])
    except (ValueError, AssertionError) as e:
        sys.stderr.write(out)
        log(f"malformed result line: {e}")
        return 5
    print("\n".join(lines), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
