#!/usr/bin/env python3
"""Runs one benchmark workload of the graft engine and prints its result.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 10 --trace 0

The first run builds the engine and the benchmark with sbt (offline); later
runs reuse the build while the sources are unchanged. The measuring JVM runs
with its scratch directory under perfbench/scratch/, which is removed when
the run ends; scratch left by a run that was killed is swept at the next
start. The last line of standard output is the result as one JSON object.
With --trace 1 the spans of the traced run are written to perfbench/out/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_TIMEOUT = 850
# The measuring JVM is stopped MARGIN seconds after --seconds have run out:
# the margin covers JVM start and set-up (about 15 s), the operation that
# starts just before the closed loop ends (a crawl takes about 45 s) and, with
# --trace 1, the traced layers and kernel loops after it (about 45 s more).
MARGIN = 160
JVM_HEAP = "3g"
WORKLOADS = ("crawl_wide", "query_surface")

SCRATCH = os.path.join(HERE, "scratch")
DATA = os.path.join("perfbench", "data", "sf0.01")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(HERE, "target", "launch.stamp")


def fingerprint():
    """Hash of the names, sizes and mtimes of everything the build reads."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def ensure_built():
    fp = fingerprint()
    if os.path.isfile(LAUNCH) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == fp:
                return
    print("perfbench: building engine and benchmark with sbt ...", file=sys.stderr, flush=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"]
    try:
        proc = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                                start_new_session=True)
    except FileNotFoundError:
        sys.exit("perfbench: sbt not found on PATH")
    try:
        rc = proc.wait(timeout=BUILD_TIMEOUT)
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0 or not os.path.isfile(LAUNCH):
        sys.exit(f"perfbench: build failed ({rc})")
    with open(STAMP, "w") as f:
        f.write(fp + "\n")


def java_command(root, main_args):
    with open(LAUNCH) as f:
        lines = [l.rstrip("\n") for l in f]
    sep = lines.index("--")
    opts, cp = lines[:sep], lines[sep + 1:]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ([java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}"] + opts +
            ["-cp", os.pathsep.join(cp), "perfbench.Main", "--root", root] + main_args)


def pid_alive(pid):
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def sweep_stale():
    """Removes scratch roots whose owning process is gone."""
    if not os.path.isdir(SCRATCH):
        return
    for name in os.listdir(SCRATCH):
        parts = name.split("-")
        if len(parts) >= 2 and parts[0] == "run" and parts[1].isdigit() and not pid_alive(int(parts[1])):
            shutil.rmtree(os.path.join(SCRATCH, name), ignore_errors=True)


class Child:
    """A JVM in its own process group, killed at the deadline and reaped on
    every exit path."""

    def __init__(self, cmd, deadline):
        self.proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                                     text=True, start_new_session=True)
        self.timer = threading.Timer(max(0.0, deadline - time.monotonic()), self.stop)
        self.timer.start()

    def lines(self):
        for line in self.proc.stdout:
            yield line.rstrip("\n")

    def stop(self):
        self.timer.cancel()
        if self.proc.poll() is None:
            try:
                os.killpg(self.proc.pid, signal.SIGTERM)
                self.proc.wait(timeout=10)
            except (ProcessLookupError, subprocess.TimeoutExpired):
                try:
                    os.killpg(self.proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        self.proc.wait()


def run_jvm(root, main_args, deadline, tag):
    """Runs one JVM, echoing its output; returns the payload of its `tag` line."""
    child = Child(java_command(root, main_args + ["--launch-ms", str(int(time.time() * 1000))]), deadline)
    payload = None
    try:
        for line in child.lines():
            if line.startswith(tag + " "):
                payload = line[len(tag) + 1:]
            else:
                print(line, flush=True)
    finally:
        child.stop()
    if time.monotonic() >= deadline:
        raise RuntimeError("benchmark JVM stopped at the time limit")
    if child.proc.returncode != 0 or payload is None:
        raise RuntimeError(f"benchmark JVM failed (exit {child.proc.returncode})")
    return payload


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("perfbench: the engine sources (build.sbt, src/main/scala/graft) are not here; "
                 "run from the root of a full checkout")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ensure_built()
    deadline = time.monotonic() + a.seconds + MARGIN

    os.makedirs(SCRATCH, exist_ok=True)
    sweep_stale()
    root = os.path.join(SCRATCH, f"run-{os.getpid()}-{time.time_ns()}")
    try:
        args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", DATA, "--goldens", os.path.join("perfbench", "goldens")]
        if a.trace:
            args += ["--spans", os.path.join("perfbench", "out", f"spans-{a.workload}-{a.seed}.jsonl")]
        result = run_jvm(root, args, deadline, "PERFBENCH_RESULT")
    except RuntimeError as e:
        sys.exit(f"perfbench: {e}")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(result, flush=True)


if __name__ == "__main__":
    main()
