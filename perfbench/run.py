#!/usr/bin/env python3
"""Streaming benchmark for graft: one workload per invocation.

Run from the repository root:

    python3 perfbench/run.py --workload validate_backlog --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source (perfbench/build.sh, into
.bench_build/), runs the workload in its own JVM on local[nproc], and prints
as the last stdout line one JSON object with `correct`, `attempted`, `failed`
and `metrics`: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. A traced run also writes spans.jsonl and layers.txt under
.bench_build/logs/. See perfbench/README.md.
"""
import argparse
import glob
import json
import math
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("validate_backlog", "dedup_backlog", "live_tail", "curation_stream")

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "source.scan_s": "s",
    "source.list_ms": "ms",
    "source.backlog_turns_max": "count",
    "source.generator_late_ms": "ms",
    "engine.batches": "count",
    "engine.add_batch_ms": "ms",
    "engine.query_planning_ms": "ms",
    "engine.wal_commit_ms": "ms",
    "engine.commit_offsets_ms": "ms",
    "engine.trigger_ms_p95": "ms",
    "validate.decide_s": "s",
    "validate.parse_ns_per_turn": "ns",
    "validate.eval_ns_per_turn": "ns",
    "validate.valid_share": "ratio",
    "validate.rejected_share": "ratio",
    "validate.webdata_rows": "count",
    "state.update_ms": "ms",
    "state.commit_ms": "ms",
    "state.commit_ms_median": "ms",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.dropped_late_rows": "count",
    "state.dup_drop_ratio": "ratio",
    "shuffle.write_bytes": "bytes",
    "shuffle.task_skew": "ratio",
    "sink.write_batch_s": "s",
    "sink.bytes_per_turn": "bytes",
    "sink.files": "count",
    "sink.read_s": "s",
    "sink.manifest_write_s": "s",
    "kernels.minhash_sig_s": "s",
    "kernels.lang_pred_s": "s",
    "curation.verdicts_s": "s",
    "curation.drop_ratio": "ratio",
    "jvm.gc_s": "s",
    "jvm.exit_crash": "count",
    "trace.overhead_share": "ratio",
}

# Per-run wall-clock limit for the workload JVM (the run must end in 180 s).
JVM_TIMEOUT_S = 165
JVM_HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def crash_frames(work):
    """The problematic-frame lines of any hs_err file the JVM left."""
    lines = []
    for path in glob.glob(os.path.join(work, "hs_err_pid*.log")):
        with open(path, errors="replace") as f:
            text = f.read().splitlines()
        for i, line in enumerate(text):
            if line.startswith("# Problematic frame:"):
                lines += text[i:i + 2]
            if line.startswith("Current thread"):
                lines.append(line)
    return lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    bench = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: the program sources (src/main/scala/graft) are missing")

    build = subprocess.run(["bash", os.path.join(bench, "build.sh")], cwd=root,
                           stdout=sys.stderr, stderr=sys.stderr)
    if build.returncode != 0:
        fail(f"build failed with exit code {build.returncode}")

    spark_jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(root, ".bench_build", "runs", name)
    logs = os.path.join(root, ".bench_build", "logs", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(logs, exist_ok=True)

    # a fixed, pre-touched heap keeps peak RSS from following the
    # collector's heap-growth decisions from run to run
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-XX:ErrorFile={work}/hs_err_pid%p.log",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.path.join(root, ".bench_build", "classes") + os.pathsep + spark_jars + "/*",
            "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    log_path = os.path.join(logs, "run.log")
    try:
        rc, wall, crashed, res = run_jvm(cmd, work, logs, log_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(args, root, rc, wall, crashed, res, logs, log_path)


def run_jvm(cmd, work, logs, log_path):
    """Runs the workload JVM; returns (exit code, wall s, crashed, result)."""
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                env={**os.environ, "SPARK_LOCAL_DIRS": f"{work}/spark-local"})
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"workload JVM exceeded {JVM_TIMEOUT_S} s; log: {log_path}")
    wall = time.time() - t0

    # a JVM killed by a signal (exit code 128+n, or -n from the OS) is a
    # crash; it is recorded as it happened, never retried
    crashed = rc < 0 or rc >= 128
    frames = crash_frames(work)
    if frames:
        with open(log_path, "a") as log:
            log.write("\n[perfbench] hs_err:\n" + "\n".join(frames) + "\n")
    if rc != 0:
        print(f"perfbench: workload JVM exited with code {rc}"
              + (f" ({'; '.join(frames)})" if frames else ""), file=sys.stderr)

    result_path = os.path.join(work, "result.json")
    if not os.path.exists(result_path):
        tail = open(log_path, errors="replace").read().splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"workload JVM (exit code {rc}) wrote no result; log: {log_path}")
    with open(result_path) as f:
        res = json.load(f)
    for extra in ("spans.jsonl", "layers.txt"):
        if os.path.exists(os.path.join(work, extra)):
            shutil.copy(os.path.join(work, extra), logs)
    return rc, wall, crashed, res


def report(args, root, rc, wall, crashed, res, logs, log_path):
    """Prints the run summary and, last, the result line."""
    wanted = PER_LAYER if args.trace else END_TO_END
    got = dict(res["metrics"])
    if args.trace:
        got["jvm.exit_crash"] = 1.0 if crashed else 0.0
    missing = [k for k in wanted if k not in got or not math.isfinite(got[k])]
    if missing:
        fail(f"metrics missing or not finite: {missing}")

    print(f"workload {args.workload} seed {args.seed}: input {json.dumps(res['input'])}")
    print(f"drains {res['drains']}, latency samples {res['latency_samples']}, "
          f"jvm exit code {rc}, wall {wall:.1f} s, log {os.path.relpath(log_path, root)}")
    if args.trace:
        print("per-layer self time (spans):")
        print(open(os.path.join(logs, "layers.txt")).read())
    else:
        print(f"latency over {res['latency_samples']} files: p50 {res['latency_p50_ms']:.1f} ms,"
              f" p{res['latency_tail_pct']:g} {res['latency_tail_ms']:.1f} ms;"
              f" route read-back {res['metrics']['read_s']:.3f} s")
    failed = int(res["failed"])
    out = {
        "correct": failed == 0,
        "attempted": int(res["attempted"]),
        "failed": failed,
        "metrics": {k: {"value": got[k], "unit": u} for k, u in wanted.items()},
    }
    print(json.dumps(out))
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
