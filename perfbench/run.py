#!/usr/bin/env python3
"""Runs one benchmark workload against the engine built from this checkout.

Usage (from the repository root):
  python3 perfbench/run.py --workload odf-incremental --seed 1 --seconds 10 --trace 0

Steps: build the engine and the benchmark runner with sbt (first run only;
later runs reuse the recorded classpath while no source is newer), generate
the seeded inputs, run the workload in one JVM (Spark local[nproc], the
engine's gRPC server on an ephemeral port), check every output with the
independent checker and its mutation self-test, then print one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 prints the
end-to-end metrics, --trace 1 the per-layer ones. Build and work files go to
$CARGO_TARGET_DIR (default .bench_build) under the checkout.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import trace_summary  # noqa: E402

WORKLOADS = ["odf-incremental", "odf-concurrent", "odf-backfill", "curation-batch"]
END_TO_END = {
    "setup_s": "s", "request_ms": "ms", "requests_per_s": "1/s", "rows_per_s": "rows/s",
}
CURATION_QUERIES = ["q_text_perplexity", "q_bpe_encode", "q_decontaminate_fuzzy", "q_semantic_dedup"]
PER_LAYER = {
    "transform_ms_p50": "ms", "transform_samples": "count", "raw_query_ms_p50": "ms",
    "ledger_bytes_per_row": "B/row",
    "server.decode_us": "us", "server.encode_us": "us",
    "server.queue_wait_ms": "ms", "server.overhead_ms": "ms",
    "sessions.ms": "ms", "inputs.ms": "ms", "inputs.spark_jobs": "count", "inputs.files": "count",
    "queries.ms": "ms", "normalize.ms": "ms", "validate.ms": "ms",
    "system_columns.ms": "ms", "system_columns.spark_jobs": "count",
    "sink.ms": "ms", "sink.spark_jobs": "count", "sink.tasks": "count", "sink.task_ms": "ms",
    "sink.bytes_written": "B",
    "spark.jobs": "count", "spark.tasks": "count", "spark.executor_run_ms": "ms",
    "spark.scheduler_delay_ms": "ms", "spark.shuffle_write_bytes": "B",
    "spark.records_read_per_interval_row": "ratio",
    "trace.engine_ms": "ms", "trace.untraced_engine_ms": "ms", "trace.gap_ms": "ms",
    "trace.unspanned_ms": "ms", "jvm.peak_rss_mb": "MiB",
}
for _q in CURATION_QUERIES:
    PER_LAYER.update({f"curation.{_q}.s": "s", f"curation.{_q}.spark_jobs": "count",
                      f"curation.{_q}.task_s": "s", f"curation.{_q}.shuffle_bytes": "B"})

# One JVM configuration for every workload: the engine's own launch flags
# (build.sbt's javaOptions: tiered JIT, the default G1 collector, the
# add-opens below, no UI, UTC sessions) with one difference, a pinned 3 GiB
# heap instead of one that grows up to 8 GiB: a heap that grows during the
# run puts a run-dependent number of resizes and collections into the timed
# phase, and a pinned 8 GiB one is more than a 4-core benchmark host should
# hold.
JVM = ["-Xms3g", "-Xmx3g"]

# Untimed whole rounds before the timed phase. The JIT keeps compiling
# Spark's planner and the classes Spark generates for each request long
# after the first reply (C2 is still lowering the per-request cost a minute
# in); the warm-up skips the steepest part of that slope, and the timed
# phase is long enough (14 s in BENCHMARK.json) to average over the rest and
# over the host's changes of speed.
WARMUP_SECONDS = 10

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def newest_source_mtime(root):
    newest = 0.0
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "scala", "src"),
                 os.path.join(root, "project")):
        for d, _, files in os.walk(base):
            for f in files:
                if f.endswith((".scala", ".java", ".fbs", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(root, "build.sbt"), os.path.join(HERE, "scala", "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build(root, work):
    """Compiles the engine and the runner; returns the runtime classpath."""
    cp_file = os.path.join(work, "classpath.txt")
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) > newest_source_mtime(root):
        with open(cp_file) as f:
            return f.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    log("building engine and runner with sbt ...")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "scala"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "odf", "Engine.scala")):
        if not os.path.isfile(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a checkout of the engine")
    if shutil.which("java") is None:
        fail("java is not on PATH")

    work = os.path.abspath(os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"))
    os.makedirs(work, exist_ok=True)
    cp = build(root, work)

    run_dir = os.path.join(work, "runs", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, out, tmp = (os.path.join(run_dir, d) for d in ("input", "out", "tmp"))
    for d in (inp, out, tmp):
        os.makedirs(d)
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", a.workload,
                    "--seed", str(a.seed), "--out", inp], check=True, stdin=subprocess.DEVNULL)

    cmd = (["java", *JVM, f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for o in JAVA_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--input", inp,
              "--out", out, "--warmup", str(WARMUP_SECONDS), "--seconds", str(a.seconds), "--trace", str(a.trace)])
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        try:
            p = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=jlog, stderr=subprocess.STDOUT,
                               timeout=150)
        except subprocess.TimeoutExpired:
            fail("workload timed out")
    result_file = os.path.join(out, "result.json")
    if p.returncode != 0 or not os.path.exists(result_file):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"runner exited with {p.returncode}")
    with open(result_file) as f:
        res = json.load(f)
    for e in res["errors"]:
        log(f"operation failed: {e}")

    c = check.Checker(inp, out)
    problems = c.check()
    for pr in problems[:20]:
        log(f"CHECK FAILED: {pr}")
    missed = c.self_test()
    for m in missed:
        log(f"CHECKER SELF-TEST MISSED: {m}")
    if a.trace and a.workload != "curation-batch":
        trace_summary.report(out, sys.stderr)

    names = PER_LAYER if a.trace else END_TO_END
    got = res["metrics"]
    metrics = {n: {"value": float(got[n]["value"]) if n in got else 0.0, "unit": u}
               for n, u in names.items()}
    print(json.dumps({
        "correct": not problems and not missed,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
