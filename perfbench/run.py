#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload nyt_k10 --seed 1 --seconds 10 --trace 0

Builds the repository and the harness from source with sbt on first use
(or when a source file changed), then launches one JVM that generates the
seeded inputs, sets up Spark on local[N] (N = usable cores), runs the
workload's passes and checks every output. The run record (all metrics,
noise evidence, failures) is printed before the result line and kept in
perfbench/.work/. Exits non-zero without a result line if the build or
the run fails.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
LAUNCH = os.path.join(WORK, "launch.txt")
STAMP = os.path.join(WORK, "launch.sha256")
WORKLOADS = ("nyt_k10", "ops_sample")
HEAP = "4g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def sources():
    """Every file the build reads: the repository's main sources and build
    definition, and the harness's own."""
    roots = [os.path.join(REPO, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(REPO, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for root in roots:
        for d, subdirs, names in os.walk(root):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group.
    Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    if not (os.path.isfile(os.path.join(REPO, "build.sbt"))
            and os.path.isdir(os.path.join(REPO, "src", "main"))):
        sys.exit("perfbench: no repository sources next to the benchmark; nothing to build")
    fp = fingerprint()
    if os.path.isfile(LAUNCH) and os.path.isfile(STAMP) and open(STAMP).read() == fp:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    log = open(os.path.join(WORK, "build.log"), "w")
    rc = run_group(["sbt", "--batch", "compile", "writeLaunch"], BUILD_TIMEOUT_S,
                   cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                   stdin=subprocess.DEVNULL)
    log.close()
    if rc != 0 or not os.path.isfile(LAUNCH):
        sys.stderr.write(open(os.path.join(WORK, "build.log")).read()[-4000:])
        sys.exit("perfbench: build failed (see perfbench/.work/build.log)")
    with open(STAMP, "w") as fh:
        fh.write(fp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    os.makedirs(WORK, exist_ok=True)
    build()

    lines = open(LAUNCH).read().splitlines()
    classpath, jvm_opts = lines[0], [l for l in lines[1:] if l]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(WORK, f"result-{a.workload}-{os.getpid()}.json")
    n = cores()
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
           + jvm_opts + ["-cp", classpath, "perfbench.Main",
                         "--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                         "--cores", str(n), "--work", WORK, "--bench", BENCH,
                         "--result", result])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(n))
    sys.stdout.flush()
    rc = run_group(cmd, RUN_TIMEOUT_S, cwd=WORK, env=env, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.isfile(result):
        sys.exit(f"perfbench: run failed (exit {rc})")
    with open(result) as fh:
        line = fh.read().strip()
    os.remove(result)
    print(line)


if __name__ == "__main__":
    main()
