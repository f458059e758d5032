#!/usr/bin/env python3
"""Outside-in benchmark of the graft engine.

Usage (from the repository root):
    python3 perfbench/run.py --workload <registry|feed_pipeline|dedup_state>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark program from source with sbt (only
when a source file changed), runs one workload in a fresh JVM on
local[nproc], and prints the workload's named metrics followed, as the
last line, by one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are BENCHMARK.json's end_to_end
metrics, with --trace 1 its per_layer metrics.
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
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
WORKLOADS = ("registry", "feed_pipeline", "dedup_state")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads from the checkout, in a fixed order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", "compile"]
    try:
        p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        die("build timed out")
    if p.returncode != 0 or not os.path.isdir(CLASSES):
        die(f"build failed (sbt exit {p.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")


def memory_flag():
    """JVM heap: a quarter of physical memory, between 2 and 6 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        gb = max(2, min(6, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gb = 2
    return f"-Xmx{gb}g"


def run_jvm(args, work, out, deadline):
    spark_home = os.environ["SPARK_HOME"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [memory_flag(), f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out,
            "--digests", os.path.join(BENCH, "registry_digests.tsv")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    p = subprocess.Popen(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, 9)
        p.wait()
        die("workload run timed out")
    if rc != 0:
        die(f"workload JVM exited with {rc}")


def inputs_fingerprint(work):
    """SHA-256 over the generated JSON input files, so equal seeds can be
    seen to give byte-identical inputs. The registry's parquet fixture is
    left out: parquet-mr writes each column's encodings from a hash set,
    so equal data gives footers that differ in order. Its content is
    checked instead by the recorded output digests."""
    h = hashlib.sha256()
    found = False
    for sub in ("corpus", "feed"):
        for d, dirs, names in sorted(os.walk(os.path.join(work, sub))):
            dirs.sort()
            for n in sorted(names):
                if n.endswith(".json") and not n.startswith("."):
                    found = True
                    h.update(n.encode() + b"\0")
                    with open(os.path.join(d, n), "rb") as fh:
                        h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16] if found else None


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7] if len(f) > 7 else 0, sum(f[:8])
    except (OSError, ValueError):
        return 0, 0


def box_stamp(load1_start, ticks_start):
    def first_line(path):
        try:
            with open(path) as fh:
                return fh.readline().strip()
        except OSError:
            return "unknown"
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    steal, total = (b - a for a, b in zip(ticks_start, cpu_ticks()))
    return {"nproc": os.cpu_count(), "mem_gb": round(mem_kb / 2**20, 1),
            "load1_start": load1_start, "load1_end": os.getloadavg()[0],
            # CPU time the hypervisor gave to other guests during the run
            "steal_frac": round(steal / total, 4) if total > 0 else None,
            "java": java.splitlines()[0] if java else "unknown",
            "spark": first_line(os.path.join(os.environ["SPARK_HOME"], "RELEASE"))}


def report(result, spec, trace):
    """The final line: the contract metrics of this run."""
    # A layer the workload does not run, or one without samples, reports
    # 0. An end-to-end metric without samples (every operation failed) is
    # null in the result; it reads 0 here, and the run is not correct.
    if trace:
        values = {k: v["value"] for k, v in result["layer"].items()}
        wanted = spec["per_layer"]
    else:
        values = result["e2e"]
        wanted = spec["end_to_end"]
    metrics = {}
    missing = False
    for m in wanted:
        v = values.get(m["name"])
        missing |= v is None and not trace
        metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
    return {"correct": result["failed"] == 0 and result["attempted"] >= 1 and not missing,
            "attempted": result["attempted"], "failed": result["failed"],
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    start = time.time()
    load1_start = os.getloadavg()[0]
    ticks_start = cpu_ticks()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no engine sources under src/main/scala/graft; run from the repository root")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(
            os.path.join(os.environ["SPARK_HOME"], "jars")):
        die("SPARK_HOME must point at a Spark distribution")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    build(start + BUILD_LIMIT_S)
    run_start = time.time()
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        run_jvm(args, work, out, run_start + RUN_LIMIT_S)
        with open(out) as fh:
            result = json.load(fh)
        box = dict(box_stamp(load1_start, ticks_start), inputs_sha256=inputs_fingerprint(work))
        if args.trace:
            spans = out + ".spans.jsonl"
            kept = os.path.join(BUILD, "traces")
            os.makedirs(kept, exist_ok=True)
            shutil.copy(spans, os.path.join(kept, f"{args.workload}-{args.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    named = " ".join(f"{k}={v['value']:.6g}{v['unit']}" for k, v in result["named"].items())
    print(f"{args.workload} seed={args.seed} {named}")
    print("notes " + json.dumps(result["notes"], sort_keys=True))
    print("box " + json.dumps(box, sort_keys=True))
    for f in result["failures"]:
        print(f"FAILED {f}")
    print(json.dumps(report(result, spec, args.trace)))


if __name__ == "__main__":
    main()
