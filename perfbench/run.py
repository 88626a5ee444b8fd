#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the engine and the harness
from source with sbt (once per source state; the launch arguments are cached
under .bench_build/), generates the seeded inputs in one JVM (cached per
seed), then starts a second JVM that sets up, measures for --seconds and
checks every output. The last line on
stdout is the JSON result; progress and a readable summary go to stderr.
Everything it writes stays under .bench_build/ and the sbt target
directories of the checkout.

Workloads: radolan_hourly, surface (see perfbench/README.md).
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, ".bench_build")
# the engine sources and build this harness compiles against
REQUIRED = ["build.sbt", "project/build.properties", "src/main/scala/graft/api/RadoHydro.scala",
            "perfbench/build.sbt"]
SOURCE_DIRS = ["src/main", "perfbench/src/main", "project", "perfbench/project"]
BUILD_FILES = ["build.sbt", "perfbench/build.sbt"]
BUILD_TIMEOUT_S = 700  # with the run after it, within 900 s
RUN_TIMEOUT_S = 170  # input generation and the measured run together
# heap ceiling only: the heap grows with what the program keeps, so peak RSS
# can move with it; it comes after the engine's options and overrides theirs
HEAP_MAX = "-Xmx2g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    paths = list(BUILD_FILES)
    for d in SOURCE_DIRS:
        for base, dirs, files in os.walk(os.path.join(ROOT, d)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.relpath(os.path.join(base, f), ROOT) for f in files]
    for p in sorted(set(paths)):
        h.update(p.encode())
        with open(os.path.join(ROOT, p), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_child(cmd, cwd, timeout, env=None):
    """Run cmd in its own process group; kill the whole group on timeout or
    interrupt, and always wait for it. Returns (returncode, stdout)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except BaseException as e:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            raise SystemExit(f"{cmd[0]} did not finish within {timeout} s; stopped it")
        raise


def build():
    """Compile engine + harness; return the JVM arguments that put the
    harness on its classpath with the engine build's JVM options."""
    os.makedirs(WORK, exist_ok=True)
    stamp = os.path.join(WORK, "launch.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["digest"] == digest:
            return cached["jvm_args"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g")
    log("building engine and harness with sbt")
    code, out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"], BENCH, BUILD_TIMEOUT_S, env)
    cp = [l.split("=", 1)[1] for l in out.splitlines() if l.startswith("perfbench.classpath=")]
    opts = [l.split("=", 1)[1] for l in out.splitlines() if l.startswith("perfbench.javaOption=")]
    if code != 0 or len(cp) != 1:
        sys.stderr.write(out)
        raise SystemExit(f"build failed (sbt exit {code})")
    jvm_args = opts + ["-cp", cp[0]]
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "jvm_args": jvm_args}, f)
    return jvm_args


def main():
    # on SIGTERM unwind through run_child, which stops the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        raise SystemExit(f"not the root of an engine checkout (missing {', '.join(missing)})")
    jvm_args = build()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = ["java"] + jvm_args + [HEAP_MAX, f"-Djava.io.tmpdir={tmp}", "perfbench.Main",
                                  "--workload", a.workload, "--seed", str(a.seed), "--work", WORK]
    # inputs are generated in a JVM of their own, so the measured one starts cold
    deadline = time.monotonic() + RUN_TIMEOUT_S
    code, _ = run_child(java + ["--prepare"], ROOT, RUN_TIMEOUT_S)
    if code != 0:
        raise SystemExit(f"input generation failed (exit {code})")
    code, out = run_child(java + ["--seconds", str(a.seconds), "--trace", a.trace], ROOT,
                          max(1.0, deadline - time.monotonic()))
    lines = out.splitlines()
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if code != 0 or not lines:
        raise SystemExit(f"benchmark failed (exit {code})")
    json.loads(lines[-1])
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
