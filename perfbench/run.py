#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload upload_save --seed 1 --seconds 12 --trace 0

Run from the root of the checkout. The first run builds the engine and
the harness from source (sbt, into perfbench/target); later runs reuse
the build while the sources are unchanged. Each run starts one JVM at
Spark local[nproc] with the heap sized from MemTotal, writes its inputs
under perfbench/work (wiped before and after), keeps its log, result and
spans under perfbench/results, prints the metrics by name with their
units, and prints one JSON object as the last line of standard output.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
STAMP = os.path.join(TARGET, "perfbench.stamp")
WORK = os.path.join(BENCH, "work")
RESULTS = os.path.join(BENCH, "results")
WORKLOADS = ("upload_save", "crawl_batch", "crawl_stream")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 840

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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every build input: engine sources, harness sources, build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
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
    return env


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode


def build():
    """Compile engine + harness unless the stamp says the build is current."""
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return open(CLASSPATH).read().strip()
    os.makedirs(TARGET, exist_ok=True)
    log_path = os.path.join(TARGET, "build.log")
    with open(log_path, "w") as log:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=BENCH, env=sbt_env(),
                         stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = open(log_path).read().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log_path}")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(cp + "\n")
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp


def heap():
    """Driver heap from MemTotal: half the memory, clamped to 2..8 GiB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def print_metrics(res, trace):
    print(f"workload {res['workload']} seed {res['seed']} trace {trace}: "
          f"{res['ops']} ops, attempted {res['attempted']}, failed {res['failed']}")
    for e in res["errors"]:
        print(f"  check failed: {e}")
    n = res["noise"]
    print(f"noise: nproc {n['nproc']} heap_mb {n['heap_mb']} "
          f"load_start {n['load_start']} load_end {n['load_end']}")
    for group in ("end_to_end", "named"):
        for name, m in res[group].items():
            print(f"metric {name} {m['value']:.6g} {m['unit']}")


def main():
    # a terminated run still stops its JVM (run_bounded kills on any exit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src/main/scala; "
             "run from the root of a full checkout")
    started = time.monotonic()
    cp = build()
    budget = RUN_TIMEOUT_S - (time.monotonic() - started)
    if budget < 60:
        budget = RUN_TIMEOUT_S  # the build ran in this call; the first run may take longer

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.makedirs(RESULTS, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = os.path.join(RESULTS, f"{tag}.result.json")
    spans = os.path.join(RESULTS, f"{tag}.spans.jsonl")
    log_path = os.path.join(RESULTS, f"{tag}.log")
    for p in (out, spans):
        if os.path.exists(p):
            os.remove(p)
    cmd = (["java", f"-Xmx{heap()}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", WORK, "--out", out]
           + (["--spans", spans] if args.trace == "1" else []))
    try:
        with open(log_path, "w") as log:
            rc = run_bounded(cmd, budget, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {budget:.0f} s; log in {log_path}")
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    if rc != 0 or not os.path.isfile(out):
        sys.stderr.write("".join(open(log_path).readlines()[-40:]))
        fail(f"benchmark JVM exited {rc}; log in {log_path}")

    res = json.load(open(out))
    print_metrics(res, args.trace)
    if args.trace == "1":
        import summarize
        summarize.report(res, spans, os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace0.result.json"))
    metrics = res["per_layer"] if args.trace == "1" else res["end_to_end"]
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
