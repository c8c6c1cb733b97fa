"""Converter benchmark: touch2parquet and neuron_lookup.

Run from the repository root:

    python3 convbench/run.py --workload touch2parquet --seed 1 --seconds 10 --trace 0

Builds the program from source when needed (convbench/build.py), runs one
workload in one JVM with a local[nproc] Spark session, and prints two
JSON lines on stdout: the full run record, then the result line
{"correct", "attempted", "failed", "metrics"} with every end_to_end
metric of BENCHMARK.json (--trace 0) or every per_layer metric
(--trace 1). Spark's logs go to stderr. Working files live under
.bench_build/work and are removed when the run ends; the spans of a
traced run are kept in .bench_build/traces.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("touch2parquet", "neuron_lookup")
RUN_LIMIT_S = 170
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-Xss4m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [arg for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
) for arg in ("--add-opens", f"{pkg}=ALL-UNNAMED")]


def commit(root):
    """HEAD of the checkout, or None outside a git checkout."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    try:
        classpath, source_sha = build.build(root)
    except build.BuildError as e:
        sys.exit(f"convbench: build failed: {e}")

    started = time.monotonic()
    cpus = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(root, build.BUILD_DIR, "work", f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "record.json")
    spans = os.path.join(root, build.BUILD_DIR, "traces", f"{tag}.jsonl")
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}",
        "-Dlog4j2.configurationFile=" + os.path.join(build.BENCH_DIR, "log4j2.properties"),
        "-cp", os.pathsep.join(classpath), "graft.bench.ConvBench",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--cpus", str(cpus),
        "--work", work, "--out", out, "--spans-out", spans]
    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("convbench: terminated"))
    proc = None
    try:
        proc = subprocess.Popen(cmd, stdout=sys.stderr, cwd=work,
                                env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))
        rc = proc.wait(timeout=RUN_LIMIT_S)
        if rc != 0:
            sys.exit(f"convbench: benchmark JVM exited with {rc}")
        with open(out) as fh:
            record = json.load(fh)
    except subprocess.TimeoutExpired:
        sys.exit(f"convbench: run exceeded {RUN_LIMIT_S} s")
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    for m in wanted:
        v = record["metrics"].get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            sys.exit(f"convbench: metric {m['name']} missing or not finite: {v}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    record.update(commit=commit(root), source_sha256=source_sha,
                  run_s=time.monotonic() - started,
                  page_cache="every input fits in the page cache: times are CPU and JVM time, "
                             "not disk time")
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": record["correct"], "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
