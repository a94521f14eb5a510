#!/usr/bin/env python3
"""Run the trail-matching benchmark from the root of a source checkout.

    python3 trailbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with sbt (only when the
sources changed since the last build), then runs one JVM that generates the
workload's inputs from the seed, measures for the given number of seconds and
checks every output against its oracle. The last line of standard output is
the result JSON; the exit code is 0 only when every output was correct.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD_DIR = os.path.join(BENCH, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "bench-classpath.txt")
WORKLOADS = ("perftest1", "prepared_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 needs these outside spark-submit (the same list as the
# root build's javaOptions and Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"trailbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    (the sbt launcher starts a JVM of its own) and wait for it."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, ""
    return proc.returncode, out


def source_files():
    """Every file the build reads, relative to the checkout root."""
    out = []
    for top in ("src/main", "trailbench/src/main"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in sorted(files)]
    builds = ["build.sbt", "project/build.properties",
              "trailbench/build.sbt", "trailbench/project/build.properties"]
    return out + [b for b in builds if os.path.exists(os.path.join(ROOT, b))]


def source_digest():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def commit_id(digest):
    """The git commit of the checkout, or a digest of its sources outside git."""
    def git(*args):
        out = subprocess.run(["git", "-C", ROOT, *args], capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else ""
    try:
        if os.path.realpath(git("rev-parse", "--show-toplevel") or "/nonexistent") == os.path.realpath(ROOT):
            return git("rev-parse", "HEAD")
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "source-sha256:" + digest[:16]


def build(digest):
    """Compile with sbt and record the runtime classpath, keyed by digest."""
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            stamp, _, cp = f.read().partition("\n")
        if stamp == digest and cp.strip():
            return cp.strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        # resolve from the local caches only, through the user's repository
        # file when there is one
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    code, out = run_group(
        [sbt, "-batch", "-Dsbt.log.noformat=true", "export trailbench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stderr=sys.stderr)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out)
        fail("build failed" if code is not None else f"build exceeded {BUILD_TIMEOUT_S} s")
    cp = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(digest + "\n" + cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    for rel in ("build.sbt", "src/main/scala/graft", "trailbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            fail(f"{rel} is missing: run from the root of a full source checkout")

    digest = source_digest()
    cp = build(digest)
    work = os.path.join(BUILD_DIR, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", cp, "trailbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", work, "--commit", commit_id(digest),
              "--spans", os.path.join(BUILD_DIR, "spans", f"{args.workload}-{args.seed}.jsonl")])
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stderr=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out)
        fail(f"no result line (exit code {code})")
    print("\n".join(lines), flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
