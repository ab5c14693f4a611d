#!/usr/bin/env python3
"""Build and run one benchmark workload of the graft engine.

    python3 perfbench/run.py --workload ingest|table_rw|curate \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the program (the
root sbt build) and the benchmark with sbt, offline; later runs reuse the
build while no source changed. Inputs and outputs of
a run live under .bench_work/ and are deleted when it ends; each run's
result and, for a traced run, its spans stay in .bench_work/results/.

The last line of standard output is the result object; the line before it
holds the run context, input sizes and per-workload figures with their
sample counts. Exit code 0 only when the run completed and printed it.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(BENCH, "target")
BUILD_INFO = os.path.join(TARGET, "perfbench-build.json")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("ingest", "table_rw", "curate")
RUN_TIMEOUT_S = 170
HEAP = "3g"


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = [os.path.join(d, "build.sbt") for d in (ROOT, BENCH)] + [
        os.path.join(d, "project", "build.properties") for d in (ROOT, BENCH)]
    for top in (os.path.join(BENCH, "src"), PROGRAM_SOURCES):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(src_stamp):
    """Compile with sbt unless the recorded build matches the sources;
    returns the runtime classpath and the root build's JVM options."""
    try:
        with open(BUILD_INFO) as fh:
            info = json.load(fh)
        if info["stamp"] == src_stamp and all(
                os.path.exists(p) for p in info["classpath"].split(os.pathsep)):
            return info["classpath"], info["java_options"]
    except (OSError, ValueError, KeyError):
        pass
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = [env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Dsbt.override.build.repos=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath",
         "show Runtime/javaOptions"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[")]
    # `show` prints a list one "[info] * <item>" line per element
    java_options = [l[len("[info] * "):].strip() for l in proc.stdout.splitlines()
                    if l.startswith("[info] * ")]
    if proc.returncode != 0 or not lines or not java_options:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed", 3)
    classpath = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(BUILD_INFO, "w") as fh:
        json.dump({"stamp": src_stamp, "classpath": classpath, "java_options": java_options}, fh)
    return classpath, java_options


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, stdin=subprocess.DEVNULL, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else ""
    except (OSError, subprocess.SubprocessError):
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(PROGRAM_SOURCES):
        fail(f"program sources {PROGRAM_SOURCES} not found; run from a checkout", 2)

    src_stamp = stamp()
    classpath, java_options = build(src_stamp)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time() * 1000)}"
    work = os.path.join(WORK, tag)
    results = os.path.join(WORK, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    # the root build's options (module opens for Spark on JDK 17, session
    # settings) with a fixed heap in place of its -Xmx
    cmd = ["java"] + [o for o in java_options if not o.startswith(("-Xmx", "-Xms"))] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work, "--commit", git_commit(), "--stamp", src_stamp,
        "--results", os.path.join(results, tag + ".spans.jsonl")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(out[-4000:])
        fail(f"no result line (exit code {proc.returncode})")
    if proc.returncode != 0:
        fail(f"benchmark exited with code {proc.returncode}")
    with open(os.path.join(results, tag + ".json"), "w") as fh:
        fh.write("\n".join(lines[-2:]) + "\n")
    print("\n".join(lines[-2:]), flush=True)


if __name__ == "__main__":
    main()
