#!/usr/bin/env python3
"""Benchmark entry point: builds the program and the benchmark from source, runs
one workload in a fresh JVM, and prints the result object as the last line
of stdout.

    python3 perfbench/run.py --workload import|minutely --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run it from the root of a checkout. Build outputs and run scratch space go
under .bench_build/ in the checkout; the run's scratch space is removed when
the run ends.
"""
import argparse
import hashlib
import json
import os
import signal
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "perfbench.classpath")
STAMP = os.path.join(BUILD, "perfbench.stamp")
RUN_LIMIT_S = 175          # one run stays under three minutes
BUILD_LIMIT_S = 850        # the first run in a checkout also builds
HEAP = "3g"
WORKLOADS = ["import", "minutely"]

# Spark on JDK 17 needs these when it is started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the program's and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout or
    exit so nothing it started outlives it. Returns (code, stdout)."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout:.0f} s: {cmd[0]}")
        out = b""
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    return p.returncode, out.decode("utf-8", "replace")


def build(deadline):
    """Compile the program and the benchmark with sbt unless the sources are
    unchanged since the last build; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                with open(CLASSPATH) as fh:
                    return fh.read().strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log("building the program and the benchmark with sbt")
    t = time.time()
    # keep sbt's temporary files and sockets inside the checkout
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "-Dsbt.server.forcestart=false", f"-Djna.tmpdir={tmp}",
         f"-J-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
         "export perfbench/Runtime/fullClasspath"],
        deadline - time.time(), cwd=HERE, stdin=subprocess.DEVNULL,
        env=dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData"))
    lines = [l for l in out.splitlines() if l.startswith("/") and ".jar" in l]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as fh:
        fh.write(cp)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t:.0f} s")
    return cp


def java_cmd(cp, work, args):
    return (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "perfbench.Bench"] + args)


def report(a):
    """Run every workload untraced and print each end-to-end metric with its
    unit, then the share of failed operations and checks."""
    failed = 0
    for w in WORKLOADS:
        code, out = run_group(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", "0"],
            BUILD_LIMIT_S + RUN_LIMIT_S, stdin=subprocess.DEVNULL)
        lines = [l for l in out.splitlines() if l.strip()]
        if code != 0 or not lines:
            raise SystemExit(f"{w} run failed with code {code}")
        r = json.loads(lines[-1])
        for name, m in r["metrics"].items():
            print(f"{w:9} {name:12} {m['value']:>16.6g} {m['unit']}")
        print(f"{w:9} {'failed_frac':12} {r['failed'] / r['attempted']:>16.6g} "
              f"ratio ({r['failed']} of {r['attempted']} operations and checks)")
        failed += r["failed"]
    if failed:
        raise SystemExit(1)


def main():
    # a terminated run still reaches the finally blocks that kill the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    if a.workload == "all":
        return report(a)
    start = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("no program sources next to perfbench/: run from a full checkout")
    cp = build(start + BUILD_LIMIT_S)
    run_start = time.time()

    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(BUILD, "work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if a.selftest:
        args = ["--selftest"]
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--mapping", os.path.join(HERE, "mapping.yml")]
    # start from a flushed page cache, so that files earlier runs wrote or
    # deleted are not written back during this run's measurement
    os.sync()
    try:
        code, out = run_group(java_cmd(cp, work, args), run_start + RUN_LIMIT_S - time.time(),
                              cwd=work, stdin=subprocess.DEVNULL)
        if a.trace and not a.selftest and os.path.exists(os.path.join(work, "trace.jsonl")):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "trace.jsonl"),
                        os.path.join(BUILD, "traces", f"{name}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        os.sync()
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if code != 0 or not lines:
        raise SystemExit(f"benchmark JVM exited with code {code}")
    result = json.loads(lines[-1])
    if not a.selftest:
        missing = {"correct", "attempted", "failed", "metrics"} - set(result)
        if missing:
            raise SystemExit(f"result lacks {sorted(missing)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
