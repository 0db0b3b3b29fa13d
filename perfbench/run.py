#!/usr/bin/env python3
"""Run one workload of the repository benchmark in a fresh JVM.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first call builds the program and the harness from source with sbt
(perfbench/build.sbt depends on the root build); later calls reuse the
build while no source or build file has changed. Each run then starts
one JVM with the root build's javaOptions on local[nproc], writes its
files under .bench_work/ and prints, as its last stdout line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are BENCHMARK.json's end_to_end list, with --trace 1 its
per_layer list. The line before it is the run record (environment,
per-workload metrics, checks); a traced run also leaves
.bench_work/<workload>/spans.jsonl.
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
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
WORK_DIR = os.path.join(ROOT, ".bench_work")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # the root build bakes -Xmx from this into javaOptions
    env.setdefault("SPARK_DRIVER_MEM", "4g")
    return env


def build():
    """Compile (incrementally) and return (javaOptions, classpath)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources at src/main/scala: run from a checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the benchmark")
    digest = source_digest()
    stamp = os.path.join(BUILD_DIR, "stamp")
    launch = os.path.join(HERE, "target", "launch.txt")
    fresh = (os.path.isfile(stamp) and os.path.isfile(launch)
             and open(stamp).read() == digest)
    if not fresh:
        os.makedirs(BUILD_DIR, exist_ok=True)
        log = os.path.join(BUILD_DIR, "build.log")
        with open(log, "w") as fh:
            rc = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                 "launchSpec"],
                cwd=HERE, env=sbt_env(), stdout=fh, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        if rc != 0 or not os.path.isfile(launch):
            with open(log) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail(f"build failed (sbt exit {rc}); log in {log}")
        with open(stamp, "w") as fh:
            fh.write(digest)
    with open(launch) as fh:
        opts_line, cp = fh.read().split("\n")[:2]
    return [o for o in opts_line.split("\u0001") if o], cp


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(opts, cp, jargs, work, nproc):
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(nproc)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + opts + ["-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
                              "-cp", cp, "graft.perfbench.Main"] + jargs
           + ["--work", work, "--cores", str(nproc)])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; log in {work}/jvm.log")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload!r}; one of {names}")

    opts, cp = build()
    nproc = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        nproc = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_DIR, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t0 = time.time()
    rc = run_jvm(opts, cp, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace)], work, nproc)
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(result_path):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"run failed (exit {rc}); log in {work}/jvm.log")
    with open(result_path) as fh:
        res = json.load(fh)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None or got["value"] is None:
            fail(f"the run did not measure {m['name']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    record = dict(res["record"])
    record.update({"git_sha": git_sha(), "source_digest": source_digest(),
                   "run_wall_s": time.time() - t0})
    # the record is this run's environment, checks and per-workload
    # metrics; the result is the last line
    print(json.dumps({"record": record}, sort_keys=True))
    for d in ("ods", "hybrid", "spark-local", "tmp", "warehouse", "hadoop-tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    # correct: every output check passed and no timed call failed
    correct = bool(res["correct"]) and int(res["failed"]) == 0
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
