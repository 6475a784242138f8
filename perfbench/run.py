#!/usr/bin/env python3
"""Streaming and browse benchmark for the graft engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --light-rate R1 --heavy-rate R2 \
        --workload {stream_window,stream_avro_enrich,browse_mix} \
        --seed N --seconds S --trace {0,1}

Builds the engine and the benchmark from source with sbt on first use
(outputs under perfbench/target and .bench_build/), then runs one workload
in a single JVM on local[nproc]. Human-readable lines start with '#'; the
last line of standard output is the JSON result. Exits non-zero without a
result when the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
STAMP = os.path.join(WORK, "build.stamp")
XMX = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(digest):
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log = os.path.join(WORK, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
                                 "compile", "benchClasspath"], cwd=HERE, env=env, stdout=out,
                                stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed ({rc}); see {log}")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")
    print(f"# built in {time.time() - t0:.1f} s", flush=True)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["stream_window", "stream_avro_enrich", "browse_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--light-rate", type=float, required=True)
    ap.add_argument("--heavy-rate", type=float, required=True)
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from the root of a full checkout")
    os.makedirs(WORK, exist_ok=True)
    digest = source_digest()
    build(digest)
    with open(CLASSPATH) as f:
        cp = f.read().strip()

    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(scratch)
    try:
        run(a, cp, digest, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def relay(stream, out):
    """Echo the JVM's '#' lines as they come and keep every line in out."""
    for line in stream:
        line = line.rstrip("\n")
        out.append(line)
        if not line.startswith("{"):
            print(line, flush=True)


def run(a, cp, digest, scratch):
    cmd = ["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={scratch}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--light-rate", str(a.light_rate),
            "--heavy-rate", str(a.heavy_rate), "--root", ROOT, "--scratch", scratch, "--xmx", XMX,
            "--commit", f"{git_commit()}/src-{digest[:12]}"]
    log = os.path.join(WORK, f"run-{a.workload}.log")
    lines = []
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
        # Read stdout on a thread so that the deadline holds even when the
        # JVM hangs without printing.
        reader = threading.Thread(target=relay, args=(p.stdout, lines), daemon=True)
        reader.start()
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
        reader.join(timeout=10)
    result = next((l for l in reversed(lines) if l.startswith("{")), None)
    if rc != 0 or result is None:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"run failed (exit {rc}); see {log}")
    parsed = json.loads(result)
    assert set(parsed) == {"correct", "attempted", "failed", "metrics"}, parsed
    print(result, flush=True)


if __name__ == "__main__":
    main()
