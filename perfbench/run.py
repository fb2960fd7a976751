#!/usr/bin/env python3
"""Runs one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload dedup_batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --record     # re-record the output fingerprints

Run from the root of the checkout. The first call builds the engine together
with the benchmark (sbt, offline) into .bench_build/; later calls reuse that
build while the sources are unchanged. The inputs are perfbench/data/sf0.01,
the tables the workloads read from the engine's seed-42 test fixtures. Progress
and engine logs go to stderr; the last line of stdout is one JSON object with
the keys correct, attempted, failed and metrics.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
EXPECTED = os.path.join(BENCH, "expected.tsv")
WORKLOADS = ("dedup_batch", "airline_api")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
# Overrides the engine's own -Xmx: several benchmark JVMs may share a host.
HEAP = "3g"
DATA = os.path.join(BENCH, "data", "sf0.01")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest(*dirs, files=()):
    h = hashlib.sha256()
    paths = list(files)
    for d in dirs:
        for base, _, names in os.walk(d):
            paths += [os.path.join(base, n) for n in names]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # also the JVMs the sbt script starts on its own: no perf data under /tmp
    env.setdefault("JAVA_TOOL_OPTIONS", "-XX:-UsePerfData")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles engine + benchmark; returns the benchmark JVM's options and
    classpath. One stamp records the sources of the last build: any change,
    a checkout of another commit too, rebuilds (sbt compiles incrementally)."""
    digest = sources_digest(
        os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
        files=[p for d in (ROOT, BENCH) for p in (os.path.join(d, "build.sbt"),
               os.path.join(d, "project", "build.properties")) if os.path.isfile(p)])
    stamp = os.path.join(BUILD, "build.stamp")
    launch = os.path.join(BUILD, "target", "launch.txt")
    fresh = False
    if os.path.isfile(stamp) and os.path.isfile(launch):
        with open(stamp) as f:
            fresh = f.read().strip() == digest
    if not fresh:
        log("building engine and benchmark (sbt)")
        if os.path.exists(stamp):
            os.remove(stamp)
        tmp = os.path.join(BUILD, "sbt-tmp")
        os.makedirs(tmp, exist_ok=True)
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
             f"-Djna.tmpdir={tmp}", "-Dsbt.boot.lock=false", "-J-XX:-UsePerfData", "launchFile"],
            cwd=BENCH, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr,
            timeout=BUILD_TIMEOUT_S)
        if out.returncode != 0:
            raise SystemExit(f"[perfbench] build failed (exit {out.returncode})")
        with open(stamp, "w") as f:
            f.write(digest)
    with open(launch) as f:
        return [l for l in f.read().splitlines() if l]


def java(launch, mode, args, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    home = os.environ.get("JAVA_HOME")
    cmd = [os.path.join(home, "bin", "java") if home else "java"]
    # the options the build wrote come first: a later -Xmx wins
    cmd += launch[:-2] + [f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
                          f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}"]
    cmd += launch[-2:] + ["perfbench.Main", mode] + args + ["--work", work]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"[perfbench] {mode} exceeded {timeout}s and was stopped")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0:
        raise SystemExit(f"[perfbench] {mode} failed (exit {code})")


def main():
    # a terminated benchmark stops the JVM it started (see java())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--record", action="store_true",
                    help="write every output fingerprint to perfbench/expected.tsv")
    a = ap.parse_args()
    if not a.record and not a.workload:
        ap.error("--workload is required")
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(BENCH, "build.sbt"))):
        raise SystemExit("[perfbench] run from the root of a checkout of the engine "
                         "(src/main/scala and perfbench/build.sbt are missing)")
    cpus = str(len(os.sched_getaffinity(0)))
    launch = build()
    work = os.path.join(BUILD, "run")
    shutil.rmtree(work, ignore_errors=True)
    if a.record:
        java(launch, "record", ["--fixture", DATA, "--cpus", cpus, "--expected", EXPECTED],
             work, BUILD_TIMEOUT_S)
        log(f"wrote {EXPECTED}")
        return
    result = os.path.join(work, "result.json")
    java(launch, "run", ["--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", a.trace, "--cpus", cpus,
                         "--fixture", DATA, "--expected", EXPECTED, "--result", result],
         work, RUN_TIMEOUT_S)
    with open(result) as f:
        line = f.read().strip()
    # keep the spans of traced runs; everything else of the run is scratch
    traces = os.path.join(work, "traces")
    if os.path.isdir(traces):
        shutil.copytree(traces, os.path.join(BUILD, "traces"), dirs_exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    print(line, flush=True)


if __name__ == "__main__":
    main()
