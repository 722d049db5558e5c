#!/usr/bin/env python3
"""graft benchmark: one command for every workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1 [--cores N]

Run from the root of a graft checkout. The first run builds the program and
the benchmark into .bench_build/. Each run generates its inputs from the
seed, runs the workload for S seconds in a fresh directory, checks the
program's outputs, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics; with --trace 1 the per-layer metrics (the
traced run's end-to-end figures go to stderr, for the tracing overhead).
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "latency_p90_ms": "ms", "mb_per_s": "MB/s",
         "mb_per_ref_job": "MB/ref_job", "ops_per_s": "1/s"}
# BENCHMARK.json gates the two drains; README.md says why the other three
# are left out. A drain run holds 5-35 drains, too few for a tail
# percentile. The drains report MB drained in the wall time of a fixed
# Spark reference job run beside them, which cancels the host's speed
# drift; their plain wall-clock MB/s goes to stderr only.
END_TO_END = {
    "drain_text": ("setup_s", "mb_per_ref_job"),
    "drain_thrift": ("setup_s", "mb_per_ref_job"),
    "tail_thrift": ("setup_s", "latency_p50_ms", "latency_p90_ms", "mb_per_s"),
    "curate_stream": ("setup_s", "latency_p50_ms", "latency_p90_ms", "ops_per_s"),
    "search_bm25": ("setup_s", "latency_p50_ms", "latency_p90_ms", "ops_per_s"),
}
SPARK_LAYERS = {
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count", "spark.tasks_per_op": "count",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms", "spark.idle_share": "ratio",
    "spark.gc_ms": "ms", "spark.codegen_compiles": "count", "spark.codegen_compile_ms": "ms",
    "jvm.heap_peak_mb": "MB",
}
PER_LAYER = dict({
    "sources.latest_offset_ms": "ms", "sources.files_listed": "count",
    "sources.backlog_bytes": "bytes", "sources.decode_s": "s",
    "operators.transform_s": "s", "operators.envelope_s": "s", "streaming.sink_write_s": "s",
    "streaming.batches": "count", "streaming.rows_per_batch_p50": "count",
    "streaming.trigger_ms_p50": "ms", "streaming.trigger_ms_p90": "ms",
    "streaming.query_planning_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms", "streaming.audit_record_ms": "ms",
    "streaming.sink_bytes": "ratio",
}, **SPARK_LAYERS)
SHUFFLE_LAYERS = {"spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes"}
PER_LAYER_STANDING = {
    "curate_stream": dict({
        "streaming.curate_batch_ms_p50": "ms", "streaming.curate_judge_ms_p50": "ms",
        "streaming.curate_state_rows": "count", "functions.quality_s": "s",
        "operators.exact_dedup_s": "s", "operators.lsh_pairs_s": "s",
        "operators.clusters_s": "s", "operators.decontam_s": "s",
        "operators.lsh_candidate_pairs": "count", "operators.lsh_verified_pairs": "count",
        "operators.lsh_yield": "ratio",
    }, **SPARK_LAYERS, **SHUFFLE_LAYERS),
    "search_bm25": dict({
        "streaming.bm25_epochs": "count", "streaming.append_p50_ms": "ms",
        "operators.bm25_topk_s": "s", "spark.input_bytes_per_query": "bytes",
    }, **SPARK_LAYERS, **SHUFFLE_LAYERS),
}
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# time a run may take beyond --seconds: the session, set-up, the operation in
# flight when the time is up and, traced, the ladder rungs and layer probes.
# A 20 s run of an ingestion workload then ends within 180 s; the
# standing-store ones (curate_stream, search_bm25) may take longer.
JVM_ALLOWANCE_S = 120
JVM_ALLOWANCE_STANDING_S = 870


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def run_jvm(cp, args, run_dir, timeout):
    """perfbench.Main with the JVM options build.sbt gives forked runs (heap
    4g instead of 8g, to stay small on a shared host). The JVM runs in its
    own process group so a timeout also stops the producer it started."""
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Xmx4g",
            "-XX:ReservedCodeCacheSize=1g", "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-cp", cp, "perfbench.Main"] + args
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=list(END_TO_END))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 1),
                    help="local[N] master; at most the host's cores")
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout: build.sbt or src/main/scala/graft is missing")
    try:
        cp = build.ensure_built(root)
    except (RuntimeError, OSError) as e:
        fail("build failed: %s" % e, 3)
    t_built = time.time()

    run_dir = os.path.join(root, build.BUILD_DIR, "runs",
                           "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, out_dir = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    os.makedirs(out_dir)
    try:
        t0 = time.time()
        expect = gen.generate(a.workload, in_dir, a.seed)
        t1 = time.time()
        allowance = (JVM_ALLOWANCE_STANDING_S if a.workload in PER_LAYER_STANDING
                     else JVM_ALLOWANCE_S)
        code = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--in", in_dir, "--out", out_dir, "--cores", str(a.cores),
                            "--producer", os.path.join(HERE, "tail_producer.py"),
                            "--python", sys.executable or "python3"],
                       run_dir, a.seconds + allowance - (time.time() - t_built))
        if code != 0:
            with open(os.path.join(run_dir, "jvm.log"), errors="replace") as fh:
                sys.stderr.write(fh.read()[-6000:])
            fail("workload run %s" % ("timed out" if code is None else "exited %d" % code), 4)
        with open(os.path.join(out_dir, "result.json")) as fh:
            result = json.load(fh)
        t2 = time.time()
        failures, derived = checks.CHECKS[a.workload](in_dir, out_dir, expect, result)
        print("perfbench: wall seconds: inputs %.1f, workload %.1f, checks %.1f"
              % (t1 - t0, t2 - t1, time.time() - t2), file=sys.stderr)
        for f in failures:
            print("perfbench: check failed: " + f, file=sys.stderr)
        print("perfbench: set-up seconds: session %.3f, set-ups %s"
              % (result["session_s"], " ".join("%.3f" % x for x in result["setup_reps_s"])),
              file=sys.stderr)
        if "drain_s" in result:
            print("perfbench: drain seconds: " + " ".join("%.3f" % x for x in result["drain_s"]),
                  file=sys.stderr)
            print("perfbench: reference job seconds: "
                  + " ".join("%.3f" % x for x in result["reference_s"]), file=sys.stderr)
            print("perfbench: wall-clock mb_per_s %.3f" % derived["mb_per_s"], file=sys.stderr)
        e2e = dict(derived, setup_s=result["setup_s"])
        e2e = {k: e2e[k] for k in END_TO_END[a.workload]}
        if a.trace:
            units = PER_LAYER_STANDING.get(a.workload, PER_LAYER)
            layers = dict(result["layers"], **derived["layers"])
            metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in units.items()}
            print("perfbench: traced end-to-end " + json.dumps(e2e), file=sys.stderr)
            spans = os.path.join(out_dir, "spans.jsonl")
            if os.path.exists(spans):
                keep = os.path.join(root, build.BUILD_DIR, "traces")
                os.makedirs(keep, exist_ok=True)
                shutil.copy(spans, os.path.join(keep, "%s-%d.spans.jsonl" % (a.workload, a.seed)))
        else:
            metrics = {k: {"value": float(v), "unit": UNITS[k]} for k, v in e2e.items()}
        out = {"correct": not failures, "attempted": int(derived["attempted"]),
               "failed": int(result["failed"]), "metrics": metrics}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
