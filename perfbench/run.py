#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload motogp_star --seed 1 --seconds 5 --trace 0

Builds graft and the benchmark from source (perfbench/build.py), writes
the workload's inputs from the seed, runs the jobs in one JVM on
local[N] (N = min(4, cores)): a cold job and WARMUP_JOBS untimed ones,
then timed jobs for --seconds (at least MIN_TIMED_JOBS). Checks every
job's output independently of graft, and prints one JSON object as the
last line of stdout: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1.
The traced run also writes its spans and layer records to
perfbench/.traces/<workload>-seed<seed>.json.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

RUN_LIMIT_S = 170  # a run's own budget, build excluded
MB = 1024.0 * 1024.0
CPUS = min(4, len(os.sched_getaffinity(0)))
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# input sizes, fixed for every seed
MOTOGP_RESULTS = 7000
DOC_COUNT = 6000
ITER_SHARE = 0.8
# untimed warm-up jobs after the cold one, and timed jobs per untraced
# run at least (job_s is their median); an iterative_ops job takes so
# long that one timed job and no warm-up fill a run
WARMUP_JOBS = {"motogp_star": 1, "doc_curation": 1, "iterative_ops": 0}
MIN_TIMED_JOBS = {"motogp_star": 2, "doc_curation": 2, "iterative_ops": 1}

E2E = {"job_s": "s", "input_mb_s": "MB/s", "setup_s": "s", "retained_heap_mb": "MB"}
LAYERS = {"session": ["session.create_ms"], "jvm": ["jvm.cold_job_ms"]}
LAYERS["plan"] = [f"plan.{m}" for m in (
    "actions", "analysis_ms", "optimization_ms", "planning_ms", "codegen_compile_ms",
    "codegen_classes", "eager_jobs", "build_ms")]
LAYERS["sources"] = [f"sources.{m}" for m in (
    "file_mb", "files", "rows", "cache_mb", "rescan_ratio", "corrupt_rows")]
LAYERS["sinks"] = ["sinks.written_mb", "sinks.files", "sinks.commit_ms"]
LAYERS["exec"] = [f"exec.{m}" for m in (
    "jobs", "stages", "tasks", "task_cpu_ms", "task_run_ms", "sched_wait_ms", "gc_ms",
    "cpu_busy_frac", "task_skew", "peak_task_mem_mb", "spill_mb")]
LAYERS["shuffle"] = ["shuffle.write_mb", "shuffle.read_mb", "shuffle.records",
                     "shuffle.fetch_wait_ms"]
MOTOGP_TABLES = ["race", "info_race", "circuit", "teams", "rider", "partecipation",
                 "team_standings"]
LAYERS["motogp"] = [f"motogp.{t}.{m}" for t in MOTOGP_TABLES for m in ("ms", "stages")]
DOC_OPS = ["line_dedup", "minhash_lsh", "dedup_by_pairs", "quality_gate", "token_budget",
           "write_jsonl"]
ITER_OPS = ["pagerank", "kmeans", "classifier", "langid", "dup_clusters", "semantic_dedup",
            "bpe_train"]
LAYERS["op"] = [f"op.{o}.{m}" for o in DOC_OPS for m in ("ms", "jobs")]
LAYERS["kernel"] = ["kernel.jaro_winkler.mpairs_s", "kernel.shingle_hashes.mb_s",
                    "kernel.minhashes.mrows_s", "kernel.repetition_counts.mb_s",
                    "kernel.text_stats.mb_s", "kernel.chunk_tokens.mb_s"]
LAYERS["trace"] = ["trace.overhead_ms"]
PER_LAYER = [m for ms in LAYERS.values() for m in ms]
# reported by iterative_ops runs only; that workload is not in BENCHMARK.json
ITER_LAYER = [f"op.{o}.{m}" for o in ITER_OPS for m in ("ms", "jobs", "stages")]


def unit(metric):
    if metric.endswith(("_ms", ".ms")):
        return "ms"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("mb_s"):
        return "MB/s"
    if metric.endswith(("mpairs_s", "mrows_s")):
        return "M/s"
    if metric.endswith(("_frac", "_ratio", "_skew")):
        return "ratio"
    return "count"


def generate(workload, seed, inputs):
    """Writes the workload's inputs; returns what the checks compare with."""
    if workload == "motogp_star":
        import gen_motogp
        return gen_motogp.generate(inputs, seed, MOTOGP_RESULTS)
    if workload == "doc_curation":
        import gen_docs
        return gen_docs.generate(inputs, seed, DOC_COUNT, max(4, CPUS))
    import gen_iterative
    return gen_iterative.generate(inputs, seed, ITER_SHARE)


def checker(workload, planted, report, inputs):
    import checks
    if workload == "motogp_star":
        return lambda d: checks.check_motogp(d, planted)
    if workload == "doc_curation":
        return lambda d: checks.check_docs(d, planted)
    expected = checks.oracle(inputs, report["oracle"])
    return lambda d: checks.check_iterative(d, expected)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["motogp_star", "doc_curation", "iterative_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        classpath = build.build()
    except SystemExit as e:
        sys.stderr.write(f"{e}\n")
        return 2
    t0 = time.monotonic()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs, out, tmp = (os.path.join(work, d) for d in ("in", "out", "tmp"))
    for d in (inputs, out, tmp):
        os.makedirs(d)
    try:
        planted = generate(a.workload, a.seed, inputs)
        report_path = os.path.join(work, "report.json")
        heap = "3g" if a.workload == "doc_curation" else "2g"
        # -UsePerfData: the JVM would otherwise write its perf-data file to
        # the system temp directory; every other temp file goes under `tmp`
        cmd = ["java", *JVM_OPENS, "-XX:-UsePerfData", f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=512m",
               f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
               "-cp", classpath, "perfbench.PerfBench",
               "--workload", a.workload, "--in", inputs, "--out", out, "--tmp", tmp,
               "--cpus", str(CPUS), "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--warmup-jobs", str(WARMUP_JOBS[a.workload]),
               "--min-jobs", str(MIN_TIMED_JOBS[a.workload]), "--report", report_path,
               "--selftest", os.path.join(HERE, "pool", "lineitem.parquet")]
        log_path = os.path.join(work, "jvm.log")
        with open(log_path, "w") as log:
            try:
                proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                      timeout=max(10, RUN_LIMIT_S - 25 - (time.monotonic() - t0)))
                code = proc.returncode
            except subprocess.TimeoutExpired:
                code = "timeout"
        if code != 0 or not os.path.exists(report_path):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-8000:])
            sys.stderr.write(f"benchmark JVM failed: {code}\n")
            return 3
        with open(report_path) as f:
            report = json.load(f)
        check = checker(a.workload, planted, report, inputs)
        failures = {}
        for job in report["jobs"]:
            fails = [job["error"]] if job["error"] else check(job["dir"])
            if fails:
                failures[job["index"]] = fails
        return emit(a, report, failures)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def emit(a, report, failures):
    jobs = report["jobs"]
    def phase(p):
        return [j["ms"] for j in jobs if j["phase"] == p]
    timed = phase("timed")
    job_s = median(timed) / 1000
    input_mb = report["input_bytes"] / MB
    attempted = len(jobs) + (1 if a.trace else 0)  # the traced run adds the scan self-test
    failed = len(failures)
    info = {
        "workload": a.workload, "seed": a.seed, "nproc": len(os.sched_getaffinity(0)),
        "cpus": CPUS, "master": report["master"],
        "spark": report["spark_version"], "java": report["java_version"],
        "input_mb": round(input_mb, 3), "jobs_ms": [round(j["ms"], 1) for j in jobs],
        "setup_ms": [round(s, 1) for s in report["setup_ms"]],
    }
    if a.trace == 0:
        metrics = {
            "job_s": job_s, "input_mb_s": input_mb / job_s,
            "setup_s": median(report["setup_ms"]) / 1000,
            "retained_heap_mb": report["retained_heap_mb"],
        }
        units = E2E
    else:
        layers = report["layers"]
        traced_ms = median(phase("traced"))
        names = PER_LAYER + (ITER_LAYER if a.workload == "iterative_ops" else [])
        metrics = {m: median([l[m] for l in layers if m in l]) for m in names
                   if any(m in l for l in layers)}
        metrics["session.create_ms"] = median(report["setup_ms"])
        metrics["jvm.cold_job_ms"] = phase("cold")[0]
        metrics.update(report["kernels"])
        metrics["trace.overhead_ms"] = traced_ms - median(timed)
        unmeasured = [m for m in names if m not in metrics or metrics[m] != metrics[m]]
        for m in unmeasured:
            metrics[m] = 0.0
        self_test = report["selftest"]
        if self_test["scan_bytes"] != self_test["disk_bytes"]:
            failures["selftest"] = [f"scan read {self_test['scan_bytes']} B of a "
                                    f"{self_test['disk_bytes']} B file"]
            failed += 1
        info.update(unmeasured=unmeasured, selftest=self_test,
                    traced_job_ms=traced_ms, untraced_timed_job_ms=median(timed))
        if a.workload == "motogp_star":
            accounted = [sum(l[f"motogp.{t}.ms"] for t in MOTOGP_TABLES) + l["motogp.build.ms"]
                         for l in layers]
            info["motogp_unaccounted_ms"] = median([l["job_ms"] - s for l, s in zip(layers, accounted)])
        write_trace(a, report, info, metrics)
        units = {m: unit(m) for m in names}
    info.update(failed_frac=failed / attempted, failures=failures)
    print(json.dumps(info))
    for m, v in metrics.items():
        print(f"{m:36s} {v:14.4f} {units[m]}")
    print(f"output check: {'ok' if not failures else 'FAILED ' + json.dumps(failures)}")
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": failed,
        "metrics": {m: {"value": metrics[m], "unit": units[m]} for m in units},
    }))
    return 0


def write_trace(a, report, info, metrics):
    spans = report["spans"]
    runs = sorted({s["run"] for s in spans})
    trace = {"info": info, "per_layer": metrics, "kernels": report["kernels"],
             "layers_per_job": report["layers"], "spans": spans,
             "self_ms_by_name": {name: median([s["self_ms"] for s in spans if s["name"] == name])
                                 for name in sorted({s["name"] for s in spans})},
             "traced_jobs": runs}
    d = os.path.join(HERE, ".traces")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{a.workload}-seed{a.seed}.json"), "w") as f:
        json.dump(trace, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
