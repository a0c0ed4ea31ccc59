"""Benchmark entry point. From the root of a checkout:

    python3 perfbench/run.py --workload wordcount_zipf --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --capture-manifest   # maintenance: re-hash the registry

Builds the engine and the harness (perfbench/build.py), runs one JVM with
a fresh java.io.tmpdir that is deleted afterwards, and prints the host
facts and then, as the last line, the result JSON. With --trace 1 the
per-layer spans and counts are also written to
<build dir>/trace/<workload>-seed<seed>.json. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("wordcount_zipf", "mapreduce_highcard", "registry_sf0.001")
JVM_TIMEOUT_S = 170
# hashing all registry queries takes minutes, not a benchmark run's seconds
CAPTURE_TIMEOUT_S = 1800
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
MANIFEST = os.path.join(DATA, "sf0.001.manifest.json")
# Spark 4 on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return " ".join(f.read().split()[:3])
    except OSError:
        return "unavailable"


def cpu_max():
    try:
        with open("/sys/fs/cgroup/cpu.max") as f:
            return f.read().strip()
    except OSError:
        return "absent"


def run_jvm(classes, tmp, main, args, timeout=JVM_TIMEOUT_S):
    # A fixed, pre-touched heap: timings do not depend on when the collector
    # chose to grow the heap, and native_peak_mb is VmHWM minus this heap.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]), main] + args
    # JVM output goes to stderr: stdout carries only the benchmark's lines
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=tmp)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: JVM exceeded {timeout} s", file=sys.stderr)
        return 1
    finally:  # also on SIGTERM (see main): never leave the JVM running
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def capture_manifest(classes, tmp, threads):
    """Hashes every registry query in two separate runs; a query whose hash
    differs between them is listed as unhashed, with the reason."""
    runs = []
    for i in (1, 2):
        out = os.path.join(tmp, f"capture-{i}.json")
        rc = run_jvm(classes, tmp, "perfbench.Registry", [
            "--tables", os.path.join(DATA, "sf0.001"), "--work", os.path.join(tmp, f"tables-{i}"),
            "--threads", str(threads), "--out", out], timeout=CAPTURE_TIMEOUT_S)
        if rc != 0:
            return rc
        with open(out) as f:
            runs.append(json.load(f))
    a, b = runs
    hashes, unhashed = {}, {}
    for q in sorted(set(a["hashes"]) | set(a["failed"]) | set(b["hashes"]) | set(b["failed"])):
        if q in a["failed"] or q in b["failed"]:
            unhashed[q] = a["failed"].get(q) or b["failed"][q]
        elif a["hashes"].get(q) != b["hashes"].get(q):
            unhashed[q] = "result hash differs between two runs of one commit"
        else:
            hashes[q] = a["hashes"][q]
    with open(MANIFEST, "w") as f:
        json.dump({"hashes": hashes, "unhashed": unhashed}, f, indent=1, sort_keys=True)
    print(f"perfbench: {len(hashes)} hashed, {len(unhashed)} unhashed -> {MANIFEST}", file=sys.stderr)
    return 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--capture-manifest", action="store_true",
                    help="hash every registry query twice and rewrite the manifest")
    a = ap.parse_args()
    if not (a.selftest or a.capture_manifest) and (
            a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load_before = loadavg()
    classes = build.build()
    threads = len(os.sched_getaffinity(0))
    tmp = os.path.join(build.build_dir(), "tmp", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(tmp)
    try:
        if a.selftest:
            return run_jvm(classes, tmp, "perfbench.SelfTest", [os.path.join(tmp, "work"), MANIFEST])
        if a.capture_manifest:
            return capture_manifest(classes, tmp, threads)
        result_file = os.path.join(tmp, "result.json")
        trace_file = os.path.join(build.build_dir(), "trace", f"{a.workload}-seed{a.seed}.json")
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
        rc = run_jvm(classes, tmp, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--threads", str(threads), "--data", DATA,
            "--work", os.path.join(tmp, "work"), "--result", result_file,
            "--trace-out", trace_file])
        if rc != 0 or not os.path.exists(result_file):
            print(f"perfbench: run failed (exit code {rc})", file=sys.stderr)
            return rc or 1
        with open(result_file) as f:
            out = json.load(f)
        host = dict(out["host"], nproc=threads, cgroup_cpu_max=cpu_max(),
                    loadavg_before=load_before, loadavg_after=loadavg(),
                    workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace)
        print(json.dumps({"info": out["info"]}))
        if a.trace:
            with open(trace_file) as f:
                trace = json.load(f)
            trace["host"] = host
            with open(trace_file, "w") as f:
                json.dump(trace, f)
            print(f"perfbench: trace written to {trace_file}", file=sys.stderr)
        print(json.dumps({"host": host}))
        print(json.dumps(out["result"]))
        return 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
