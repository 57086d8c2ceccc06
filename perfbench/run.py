#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <etl_daily|query_mix> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (offline) and reuses the build until a source
file changes. Each run starts one JVM, writes only under .bench_build/, and
prints the result as the last line of standard output (see README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
WORKLOADS = ("etl_daily", "query_mix")
# the read-only sf0.1 test tables the query mix runs over (TESTDATA.md)
SF_DIR = "/root/testdata/sf0.1"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha256(ROOT.encode())
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    print("[perfbench] building with sbt", file=sys.stderr)
    t0 = time.time()
    # sbt's log goes to stderr: stdout carries only the result
    code = supervise(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                     HERE, env, BUILD_TIMEOUT_S, capture=False)[0]
    if code != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed (sbt exit {code})", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)


def supervise(cmd, cwd, env, timeout, capture):
    """Run cmd in its own process group; kill the group on timeout. Returns
    (exit code, captured stdout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else sys.stderr,
                         stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException as e:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            fail(f"{cmd[0]} did not finish within {timeout} s; killed", 4)
        raise
    return p.returncode, out or ""


def main():
    # a terminated run stops its JVM too (supervise kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; expected one of {', '.join(WORKLOADS)}")
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    for p in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"the program's sources are missing ({p} not found under {ROOT})")
    if not os.path.isdir(SF_DIR):
        fail(f"test tables missing: {SF_DIR}")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH")
    os.makedirs(BUILD_DIR, exist_ok=True)
    build()

    with open(LAUNCH) as f:
        entries = [line.rstrip("\n").split("=", 1) for line in f if "=" in line]
    cp = next(v for k, v in entries if k == "classpath")
    opts = [v for k, v in entries if k == "javaopt"]
    work = os.path.join(BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # opts are the program's own JVM options (its heap size among them)
    cmd = (["java"] + opts +
           [f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--sf", SF_DIR,
            "--mix", os.path.join(HERE, "query_mix.json")])
    try:
        code, out = supervise(cmd, ROOT, dict(os.environ), RUN_TIMEOUT_S, capture=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [line for line in out.splitlines() if line.strip()]
    for line in lines[:-1]:
        print(line)
    if not lines:
        fail(f"no result (exit {code})", code or 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}", 1)
    print(json.dumps(result), flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
