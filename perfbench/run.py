#!/usr/bin/env python3
"""Benchmark command for the graft engine (willaspark).

Run from the root of a checkout:

    python3 perfbench/run.py --workload batch_queries --seed 1 --seconds 16 --trace 0

It builds the program and the benchmark from source (first run only),
generates the seeded inputs, runs one workload in a fresh JVM, checks the
outputs, and prints every metric by name and unit. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}. `--trace 0` reports the end-to-end metrics; `--trace 1`
reports the per-layer metrics and writes the full trace (spans,
per-query and per-batch rows, tracing overhead, memo-subsidy deltas,
the local[1] baseline) under .bench_build/perfbench/traces/.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("batch_queries", "stream_events")
BUILD = os.path.join(".bench_build", "perfbench")
# after the build, the whole command must end within 180 s: the JVM gets
# this long, the oracle check the rest
DEADLINE_S = 150
ORACLE_TIMEOUT_S = 25


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads, so an edited checkout rebuilds."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties",
             "perfbench/src/main"]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile program + benchmark with sbt once per source state and
    return (runtime classpath, the program's JVM options)."""
    os.makedirs(BUILD, exist_ok=True)
    saved = os.path.join(BUILD, "build.json")
    stamp = source_stamp()
    if os.path.exists(saved):
        with open(saved) as f:
            b = json.load(f)
        if b["stamp"] == stamp:
            return b["classpath"], b["java_options"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath", "print perfbench/javaOptions"],
            cwd="perfbench", env=sbt_env(), stdout=out, stderr=subprocess.STDOUT)
    with open(log) as f:
        lines = f.read().splitlines()
    # `export` prints the classpath as one plain line, `print` the
    # options as "* <option>" lines
    cps = [l for l in lines if ".jar" in l and not l.startswith(("[", "* "))]
    opts = [l[2:].strip() for l in lines if l.startswith("* ")]
    if rc != 0 or not cps or not opts:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed", 3)
    b = {"stamp": stamp, "classpath": cps[-1].strip(), "java_options": opts}
    with open(saved, "w") as f:
        json.dump(b, f)
    return b["classpath"], b["java_options"]


def data(seed):
    """Seeded inputs, cached per (generator version, seed)."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        ver = hashlib.sha256(f.read()).hexdigest()[:12]
    base = os.path.join(BUILD, "data", f"{ver}-{seed}")
    return {s: os.path.abspath(gen.write(seed, s, os.path.join(base, s)))
            for s in ("small", "large")}


def bench_cores():
    """Spark's local cores: half the CPUs this process may use. On a
    shared host a run that keeps every CPU busy measures the scheduler:
    each slice of CPU time taken by a neighbour stalls one of its
    threads. Half leaves room for the JVM's own threads and for them."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def run_jvm(built, args, dirs, work, deadline):
    """Run the benchmark JVM and return its result, with `setup_s`: the
    time from spawning the process to its session being ready (JVM
    start, class loading, the first session, the input schemas read)."""
    cp, java_options = built
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = bench_cores()
    # the benchmark's heap follows the program's options: the last -Xmx
    # wins. The JVM sizes its JIT and GC thread pools for `cores` CPUs.
    cmd = (["java"] + java_options
           + ["-Xmx3g", "-XX:-UsePerfData", f"-XX:ActiveProcessorCount={cores}",
              f"-Djava.io.tmpdir={tmp}",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--small", dirs["small"], "--large", dirs["large"],
              "--work", work, "--out", out, "--cores", str(cores)])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        t0 = time.time()
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        die(f"benchmark JVM failed ({rc})", 4)
    with open(out) as f:
        result = json.load(f)
    result["setup_s"] = result["ready_epoch_s"] - t0
    return result


def oracle_check(small_dir, verify_dir, names):
    """Compare the warm-up outputs with DuckDB through the project's own
    checker (scripts/check.py: canonical column/row sort, value hash,
    type lint). Returns (queries checked, queries that failed)."""
    p = subprocess.run(
        [sys.executable, os.path.join("scripts", "check.py"), small_dir,
         verify_dir] + names, capture_output=True, text=True, timeout=ORACLE_TIMEOUT_S)
    status = {}
    for line in p.stdout.splitlines():
        m = re.match(r"^(OK|FAIL|ERR)\s+(\S+?):", line)
        if m:
            status[m.group(2)] = m.group(1)
    bad = [n for n in names if status.get(n) != "OK"]
    for n in bad:
        print(f"perfbench: oracle mismatch on {n}", file=sys.stderr)
    if bad:
        sys.stderr.write(p.stdout[-4000:])
    return len(names), len(bad)


def summary_line(result, checks, check_failed):
    attempted = int(result["attempted"]) + checks
    failed = int(result["failed"]) + check_failed
    metrics = {k: {"value": float(v["value"]), "unit": v["unit"]}
               for k, v in result["metrics"].items()}
    bad = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
    if bad:
        die(f"non-finite metric values: {', '.join(sorted(bad))}", 5)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        die("--seconds must be at least 1")
    if not (os.path.isfile("build.sbt") and os.path.isdir(os.path.join("src", "main"))
            and os.path.isfile(os.path.join("scripts", "check.py"))):
        die("run from the root of a willaspark checkout (build.sbt, src/main, "
            "scripts/check.py not found)")
    built = build()
    deadline = time.monotonic() + DEADLINE_S
    dirs = data(args.seed)
    work = os.path.abspath(os.path.join(
        BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run_jvm(built, args, dirs, work, deadline)
        if not args.trace:
            result["metrics"]["setup_s"] = {"value": result["setup_s"], "unit": "s"}
        checks = check_failed = 0
        check = result.get("check", {})
        if check.get("kind") == "oracle":
            with open(os.path.join(check["dir"], "oracle_sql.json")) as f:
                names = sorted(json.load(f))
            checks, check_failed = oracle_check(check["small"], check["dir"], names)
        report = result.get("report", {})
        trace = report.get("trace_file")
        if trace:
            dest = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            shutil.copy(trace, dest)
            report["trace_file"] = dest
        line = summary_line(result, checks, check_failed)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{line['attempted']} attempted, {line['failed']} failed "
          f"({checks} oracle checks, {check_failed} mismatched)")
    for k, v in sorted(line["metrics"].items()):
        print(f"  {k:28s} {v['value']:.6g} {v['unit']}")
    print("report " + json.dumps(report, sort_keys=True))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
