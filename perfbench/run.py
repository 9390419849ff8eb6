#!/usr/bin/env python3
"""Benchmark entry point for graft.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_stream --seed 1 --seconds 10 --trace 0

Builds the engine together with the benchmark program (perfbench/build.sbt)
the first time, then starts one fresh JVM with a fresh java.io.tmpdir,
warehouse and checkpoint directories, runs the workload and relays its
output. The last line of stdout is the JSON result. `--trace 1` attaches
the Spark listeners and reports the per-layer metrics instead.

    python3 perfbench/run.py --self-test

checks that one seed reproduces identical inputs (text files byte for
byte, parquet tables by content) and another seed other inputs, and that
removing one ingest source file after the ground truth is made shows as
failed messages.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ingest_stream", "query_suite", "serve_mixed")
JVM_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit (the same list the
# root build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources under src/main/scala: run from the root of a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=840)
        log.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed", 1)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def jvm(cp, work, args):
    """Run the benchmark program in a fresh JVM; returns (exit code, stdout lines)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", work] + args
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        return 124, []
    return p.returncode, out.splitlines()


def fresh_work():
    work = os.path.join(BUILD, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    return work


def git_commit():
    """The commit, or in a checkout that is not a repository the digest of
    the sources the run was built from."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return "sources-" + source_digest()[:16]


def run_workload(cp, workload, seed, seconds, trace, extra=()):
    work = fresh_work()
    try:
        code, lines = jvm(cp, work, ["--workload", workload, "--seed", str(seed),
                                     "--seconds", str(seconds), "--trace", str(trace),
                                     "--commit", git_commit(), *extra])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return code, lines


def self_test(cp):
    ok = True
    digests = []
    for seed in (7, 7, 8):
        work = fresh_work()
        try:
            code, lines = jvm(cp, work, ["--generate", "all", "--seed", str(seed)])
        finally:
            shutil.rmtree(work, ignore_errors=True)
        found = [l for l in lines if l.startswith("[perfbench] inputs ")]
        if code != 0 or not found:
            fail("input generation failed", 1)
        digests.append(found[-1])
    same = digests[0] == digests[1]
    differs = digests[0] != digests[2]
    print(f"self-test: same seed gives identical inputs: {same}")
    print(f"self-test: another seed gives other inputs: {differs}")
    ok &= same and differs
    code, lines = run_workload(cp, "ingest_stream", 7, 1, 0, ["--drop-file", "1"])
    result = json.loads(lines[-1]) if code == 0 and lines else {}
    caught = result.get("failed", 0) > 0
    print(f"self-test: a dropped source file counts as failed messages: {caught} "
          f"({result.get('failed')} of {result.get('attempted')})")
    ok &= caught
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record-pins", action="store_true",
                    help="rewrite perfbench/pins/query_suite.json from this commit")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    cp = build()
    if a.self_test:
        sys.exit(0 if self_test(cp) else 1)
    extra = ["--record-pins", os.path.join(BENCH, "pins", "query_suite.json")] \
        if a.record_pins else []
    code, lines = run_workload(cp, a.workload, a.seed, a.seconds, a.trace, extra)
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if code != 0 or not lines or not lines[-1].startswith("{"):
        fail(f"workload {a.workload} exited with code {code} and no result", 1)
    print(lines[-1])


if __name__ == "__main__":
    main()
