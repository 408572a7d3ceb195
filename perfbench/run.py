#!/usr/bin/env python3
"""Benchmark of the graft engine's production entry points.

Usage (from the repository root):

    python3 perfbench/run.py --workload kg_bulk --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source with sbt (once per source
state; the launch line is cached in .bench_build/), then runs one benchmark
JVM.  The JVM generates the seeded inputs (untimed, cached per seed under
.bench_work/data/), times the workload's entry point for --seconds seconds,
checks every output, and prints one JSON result line, which this script
repeats as the last line of its standard output.  Workloads, metrics and
the layer predictions are described in perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

WORKLOADS = ("kg_bulk", "clean_stream")
HEAP = "3g"
JVM_TIMEOUT_S = 165


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def kill_group(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def evict_inputs(data_dir, keep):
    """Keeps the cached inputs of the `keep` most recently used seeds."""
    if not os.path.isdir(data_dir):
        return
    seeds = sorted((os.path.getmtime(os.path.join(data_dir, d)), d)
                   for d in os.listdir(data_dir))
    for _, d in seeds[:-keep] if len(seeds) > keep else []:
        shutil.rmtree(os.path.join(data_dir, d), ignore_errors=True)


def source_digest(root):
    """Digest of every file the build reads, so a changed source rebuilds."""
    files = []
    for top in ("src", os.path.join("perfbench", "src")):
        for d, _, names in os.walk(os.path.join(root, top)):
            files += [os.path.join(d, n) for n in names]
    for rel in ("build.sbt", "project", "perfbench/build.sbt", "perfbench/project"):
        path = os.path.join(root, rel)
        if os.path.isdir(path):
            files += [os.path.join(path, n) for n in os.listdir(path)
                      if n.endswith((".sbt", ".properties"))]
        elif os.path.isfile(path):
            files.append(path)
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compiles program + benchmark; returns (classpath, jvm options)."""
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main"))):
        fail("no program sources next to perfbench/ (build.sbt, src/main)")
    launch = os.path.join(build_dir, "launch.txt")
    stamp = os.path.join(build_dir, "launch.digest")
    digest = source_digest(root)
    fresh = (os.path.isfile(launch) and os.path.isfile(stamp)
             and open(stamp).read() == digest)
    if not fresh:
        os.makedirs(build_dir, exist_ok=True)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        log = os.path.join(build_dir, "sbt.log")
        tmp = os.path.join(build_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        with open(log, "w") as out:
            rc = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false", f"-J-Djava.io.tmpdir={tmp}",
                 "-J-XX:-UsePerfData", "writeLaunch"],
                cwd=os.path.join(root, "perfbench"), env=env,
                stdout=out, stderr=subprocess.STDOUT, timeout=850)
        if rc != 0 or not os.path.isfile(launch):
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"sbt build failed (exit {rc}); log in {log}")
        with open(stamp, "w") as fh:
            fh.write(digest)
    lines = open(launch).read().splitlines()
    return lines[0], [x for x in lines[1:] if x]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "perfbench", "run.py")):
        fail("run from the repository root")
    classpath, jvm_opts = build(root, os.path.join(root, ".bench_build"))

    work = os.path.join(root, ".bench_work")
    evict_inputs(os.path.join(work, "data"), keep=12)
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
           + jvm_opts + ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--cores", str(cores)])
    log_path = os.path.join(work, "jvm.log")
    result = None
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        # A hung JVM must not outlive the run's time limit.
        watchdog = threading.Timer(JVM_TIMEOUT_S, kill_group, (proc,))
        watchdog.start()
        try:
            for line in proc.stdout:
                line = line.rstrip("\n")
                if line.startswith("{"):
                    result = line
                else:
                    print(line, flush=True)
            rc = proc.wait()
        finally:
            watchdog.cancel()
            if proc.poll() is None:
                kill_group(proc)
                proc.wait()
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or result is None:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"benchmark JVM exited {rc} without a result")
    parsed = json.loads(result)
    print(json.dumps(parsed))
    sys.exit(0 if parsed["correct"] and parsed["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
