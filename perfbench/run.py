#!/usr/bin/env python3
"""Run one matchyspark benchmark workload and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload route_fixture --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source on first use (sbt, offline),
starts one JVM that generates the seeded inputs, runs the workload and checks
its outputs, then prints a readable summary followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics (a layer the workload does not exercise reads
0). Everything the run writes stays under perfbench/.work/.

    python3 perfbench/run.py --record-digests

re-records perfbench/query_digests.json (two recordings of all queries).
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "build.stamp")
JAVA_TIMEOUT_S = 165

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# The workload-specific figures of each run, printed with the gated metrics.
REPORT = [
    ("setup_s", "s"), ("turns_per_s", "turns/s"), ("scaling_eff", "ratio"),
    ("suite_s", "s"), ("query_p50_s", "s"), ("query_p90_s", "s"),
    ("out_bytes_per_in_byte", "ratio"), ("heap_peak_mb", "MB"),
    ("pass_cpu_s", "s"),
    ("failed_frac", "ratio"),
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("perfbench: " + msg)
    sys.exit(code)


def sources():
    """Every file the build depends on, relative to the checkout root."""
    out = ["build.sbt", "project/build.properties",
           "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src/main"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(out)


def source_digest():
    h = hashlib.sha256()
    for rel in sources():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(digest):
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    "-Dsbt.repository.config=" + repos] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building the library and the benchmark with sbt")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "writeClasspath"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=880)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail("build failed (sbt exit %d)" % r.returncode)
    with open(STAMP, "w") as f:
        f.write(digest)
    log("perfbench: built in %.0f s" % (time.time() - t0))


def mem_total_mb():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return 0


def heap_mb():
    # a quarter of the host's memory, between 2 and 4 GiB: the inputs are
    # sized so that this is ample, and the host is shared
    return max(2048, min(4096, mem_total_mb() // 4))


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=20).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        return None


def java(args, heap, timeout=JAVA_TIMEOUT_S):
    java_bin = "java"
    if os.environ.get("JAVA_HOME"):
        java_bin = os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = [java_bin, "-Xms%dm" % heap, "-Xmx%dm" % heap,
           "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dderby.system.home=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--root", ROOT, "--work", WORK] + args
    try:
        r = subprocess.run(cmd, cwd=WORK, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=timeout)
    except subprocess.TimeoutExpired:
        fail("benchmark process timed out after %d s" % timeout, 3)
    if r.returncode != 0:
        fail("benchmark process exited with %d" % r.returncode, 3)


def fmt(v):
    return "n/a" if v is None else "%.6g" % v


def main():
    # turn SIGTERM into an exception, so that subprocess.run kills and reaps
    # the JVM before this process exits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()

    for rel in ("build.sbt", "src/main/scala", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            fail("run from the root of a matchyspark checkout: %s is missing"
                 % rel)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if not a.record_digests and a.workload not in names:
        fail("--workload must be one of %s" % ", ".join(names))

    digest = source_digest()
    build(digest)
    os.makedirs(WORK, exist_ok=True)
    heap = heap_mb()

    if a.record_digests:
        java(["--record-digests",
              os.path.join(HERE, "query_digests.json")], heap, timeout=1800)
        return

    result_file = os.path.join(WORK, "result.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    t0 = time.time()
    java(["--workload", a.workload, "--seed", str(a.seed),
          "--seconds", str(a.seconds), "--trace", str(a.trace),
          "--result", result_file], heap)
    with open(result_file) as f:
        res = json.load(f)
    res["host"].update({
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_total_mb(),
        "heap_flag_mb": heap,
        "git_commit": git_commit(),
        "source_sha256": digest,
    })
    res["run_wall_s"] = time.time() - t0
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps(res, sort_keys=True) + "\n")

    attempted, failed = int(res["attempted"]), int(res["failed"])
    correct = failed == 0 and all(c["ok"] for c in res["checks"])
    if a.trace:
        source, wanted = res["layers"], spec["per_layer"]
    else:
        source, wanted = res["e2e"], spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"], 0.0)
        if v is None or v != v:
            correct = False
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    figures = dict(res["report"])
    figures.update(res["e2e"])
    figures["failed_frac"] = failed / attempted if attempted else None
    h = res["host"]
    print("workload=%s seed=%d trace=%d nproc=%d mem_total_mb=%d heap_mb=%d "
          "jvm=%r spark=%s commit=%s inputs=%s" % (
              a.workload, a.seed, a.trace, h["nproc"], h["mem_total_mb"],
              h["driver_heap_mb"], h["jvm"], h["spark"], h["git_commit"],
              json.dumps(res["inputs"], sort_keys=True)))
    for name, unit in REPORT:
        print("  %-24s %12s %s" % (name, fmt(figures.get(name)), unit))
    for c in res["checks"]:
        print("  check %-40s %s" % (c["name"], "ok" if c["ok"] else "FAILED"))
    if res.get("trace_file"):
        print("  trace file %s" % os.path.relpath(res["trace_file"], ROOT))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
