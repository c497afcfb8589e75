#!/usr/bin/env python3
"""graft's benchmark launcher.

Builds graft and the benchmark package (graftbench/) from source with sbt,
then runs one workload, or all of them, in a single JVM:

    python3 graftbench/run.py --workload federated_read --seed 1 --seconds 10 --trace 0
    python3 graftbench/run.py --workload all          # every workload, one process
    python3 graftbench/run.py --selftest              # the benchmark's own unit tests

Run it from the root of a graft checkout. The last line of standard output
is one JSON object with the keys correct, attempted, failed and metrics
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1). The
full per-layer map and the span tree go to .bench_build/artifacts/.
Everything the run writes stays under .bench_build/ and the sbt target
directories.
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
BUILD = os.path.join(ROOT, ".bench_build")
BENCH_DIR = os.path.join(ROOT, "graftbench")
JVM_TIMEOUT_S = 170  # per workload; a single-workload run must end within 180 s
BUILD_TIMEOUT_S = 840

def fail(msg, code=2):
    print(f"[graftbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout} s", 3)
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return p.returncode, out


def sbt(*tasks, timeout=BUILD_TIMEOUT_S):
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true"] + opts + list(tasks)
    code, _ = run_group(cmd, timeout, cwd=BENCH_DIR, env=env, stdout=sys.stderr,
                        stderr=sys.stderr)
    return code


def launch_files():
    """Compile when the sources changed since the last build; return the
    runtime classpath and the JVM options (graft's own, from its build)."""
    stamp = source_hash()
    cp_file = os.path.join(BUILD, "classpath.txt")
    opts_file = os.path.join(BUILD, "jvm_options.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    fresh = all(os.path.isfile(f) for f in (cp_file, opts_file, stamp_file))
    if fresh:
        with open(stamp_file) as f:
            fresh = f.read().strip() == stamp
    if not fresh:
        for f in (cp_file, opts_file, stamp_file):
            if os.path.exists(f):
                os.remove(f)
        code = sbt("graftbench/compile", "graftbench/benchLaunch")
        if code != 0:
            fail(f"build failed (sbt exit {code})", 4)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(cp_file) as f:
        cp = f.read().strip()
    with open(opts_file) as f:
        opts = [l for l in f.read().splitlines() if l]
    return cp, opts, stamp


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", default="all",
                    help="federated_read, remote_write, local_analytics or all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own unit tests and exit")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("graftbench", "build.sbt")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a graft checkout: {need} is missing under {ROOT}")
    if a.selftest:
        sys.exit(sbt("graftbench/test"))

    t0 = time.time()
    cp, jvm_opts, stamp = launch_files()
    print(f"[graftbench] build ready in {time.time() - t0:.1f} s", file=sys.stderr)
    result = os.path.join(BUILD, f"result-{os.getpid()}.json")
    if os.path.exists(result):
        os.remove(result)
    cmd = (["java", f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"] + jvm_opts
           + ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--result-file", result])
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, GRAFTBENCH_COMMIT=commit(), GRAFTBENCH_SOURCE_HASH=stamp)
    workloads = 3 if a.workload == "all" else 1
    code, _ = run_group(cmd, JVM_TIMEOUT_S * workloads, cwd=ROOT, env=env, stdout=sys.stderr,
                        stderr=sys.stderr)
    if code != 0:
        fail(f"benchmark JVM exited with {code}", code or 1)
    with open(result) as f:
        line = f.read().strip()
    os.remove(result)
    parsed = json.loads(line)
    if set(parsed) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 5)
    sys.stdout.flush()
    print(line, flush=True)


if __name__ == "__main__":
    main()
