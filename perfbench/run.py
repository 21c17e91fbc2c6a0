#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--smoke]
    python3 perfbench/run.py --golden        # regenerate golden/counts.json

Run from the repository root. The first call builds the engine and the
benchmark from source with sbt (offline) and caches the classpath under
`.bench_build/`, keyed by a hash of the sources; later calls start the
benchmark JVM directly. The seed-independent query corpus is generated once
per build under `.bench_build/cache/`. Each run gets a fresh scratch
directory, which is deleted afterwards; its result, and with `--trace 1` its spans and
per-layer summary, stay in `.bench_build/results/<workload>-seed<N>-trace<T>/`.
The last line on stdout is the result object.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("corpus-pipeline", "live-upsert")
BUILD_INPUTS = ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700  # a build plus one run stays under 15 minutes
JVM_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha1()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def classpath(sources):
    """Builds once per source state; returns the runtime classpath."""
    cached = os.path.join(BUILD, f"classpath-{sources}.txt")
    if os.path.exists(cached):
        with open(cached) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        try:
            code = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            code = -1
    with open(log_path) as fh:
        lines = fh.read().splitlines()
    cp = [l for l in lines if "scala-2.13" in l and os.pathsep in l and not l.startswith("[")]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (log: {log_path})", 3)
    with open(cached, "w") as fh:
        fh.write(cp[-1])
    return cp[-1]


def java(cp, main, args, stderr_path):
    """Runs a benchmark JVM in its own process group; returns (code, stdout)."""
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m", "-Duser.timezone=UTC",
           f"-Dperfbench.golden={os.path.join(HERE, 'golden', 'counts.json')}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    with open(stderr_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            fail(f"{main} did not finish within {RUN_TIMEOUT_S} s", 4)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 inputs and a tiny load (see smoke.py)")
    ap.add_argument("--golden", action="store_true",
                    help="regenerate golden/counts.json instead of running a workload")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        fail("the engine's sources are missing: run from a full checkout of the repository")
    if not a.golden and not a.workload:
        ap.error("--workload is required")
    sources = source_hash()
    cp = classpath(sources)

    tag = "golden" if a.golden else f"{a.workload}-seed{a.seed}-trace{a.trace}" + (
        "-smoke" if a.smoke else "")
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    out = os.path.join(BUILD, "results", tag)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        if a.golden:
            code, _ = java(cp, "perfbench.Golden",
                           [work, os.path.join(HERE, "golden", "counts.json")],
                           os.path.join(out, "stderr.log"))
            sys.exit(code)
        # inputs that do not depend on the seed are generated once per build
        cache = os.path.join(BUILD, "cache", sources)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", a.trace, "--work", work, "--out", out, "--cache", cache] + (
                    ["--smoke"] if a.smoke else [])
        code, stdout = java(cp, "perfbench.Main", args, os.path.join(out, "stderr.log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        ok = code == 0 and set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError):
        ok = False
    if not ok:
        with open(os.path.join(out, "stderr.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"{a.workload} exited with code {code} and no result", 1)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
