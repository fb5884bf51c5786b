#!/usr/bin/env python3
"""graft's benchmark: one workload per process, one JSON result line.

    python3 perfbench/run.py --workload olap_dashboard --seed 1 --seconds 15 --trace 0

Builds graft and the benchmark program (perfbench/build.py), runs the
workload in a fresh JVM with its own tmp, spark.local.dir and warehouse
dirs, checks every output, and prints as the last stdout line
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. The line before
it records the host. A full record of the run is kept under
`.bench_out/` (see agree.py); spans of a traced run go next to it.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
WORKLOADS = ("olap_dashboard", "curation_batch", "stream_chain")
# With 30 olap requests, p67 is the highest percentile with 10 beyond it.
TAIL_Q = 2 / 3
HEAP = "2g"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
STREAM_STAGES = ("j17", "j13", "j18", "j12", "j14", "j11", "j26")
OP_COUNTERS = {
    "queries.build_s": "build_s",
    "plans.analysis_s": "analysis_s", "plans.optimizer_s": "optimizer_s",
    "plans.physical_s": "physical_s", "plans.actions": "actions",
    "exec.jobs": "jobs", "exec.stages": "stages", "exec.tasks": "tasks",
    "exec.single_task_stages": "single_task_stages",
    "exec.task_s": "task_s", "exec.cpu_s": "cpu_s", "exec.gc_s": "gc_s",
    "exec.deser_s": "deser_s", "exec.job_busy_s": "job_busy_s",
    "shuffle.write_bytes": "shuffle_write_bytes", "shuffle.read_bytes": "shuffle_read_bytes",
    "shuffle.fetch_wait_s": "fetch_wait_s", "shuffle.spill_bytes": "spill_bytes",
    "sources.input_bytes": "input_bytes", "sources.input_records": "input_records",
    "operators.cache.inmem_scans": "inmem_scans",
    "operators.sink.files": "sink_files", "operators.sink.bytes": "sink_bytes",
    "operators.sink.rows": "sink_rows",
}


def quantile(xs, q):
    """Linear interpolation between closest ranks."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def dir_bytes(path):
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def java_cmd(classes, jars, tmp):
    """The benchmark JVM (the Spark driver): a fixed, pre-touched heap, so peak RSS moves with
    off-heap and native memory, not with when the collector grew the heap."""
    return ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
        "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "graftbench.Bench"]


def end_to_end(rec, launched):
    lat = rec["latencies_s"] or [0.0]  # no op succeeded: the run is not correct
    return {
        "setup_s": rec["first_timed_ms"] / 1e3 - launched,
        "peak_rss_mb": rec["peak_rss_kb"] / 1024.0,
        "wall_s": sum(lat),
        "p50_ms": quantile(lat, 0.5) * 1e3,
        "tail_ms": quantile(lat, TAIL_Q) * 1e3,
    }


def per_layer(rec):
    ops = rec.get("ops", [])
    n = max(len(ops), 1)
    m = {k: sum(op[v] for op in ops) / n for k, v in OP_COUNTERS.items()}
    busy = sum(op["job_busy_s"] for op in ops)
    m["exec.driver_gap_s"] = sum(op["wall_s"] - op["job_busy_s"] for op in ops) / n
    m["exec.parallelism"] = sum(op["task_s"] for op in ops) / busy if busy else 0.0
    probe = rec.get("probe", {})
    m["operators.cache.rdds_peak"] = probe.get("cache_rdds_peak", 0)
    m["operators.cache.mem_bytes_peak"] = probe.get("cache_mem_bytes_peak", 0)
    m["operators.cache.disk_bytes_peak"] = probe.get("cache_disk_bytes_peak", 0)
    streaming = rec["workload"] == "stream_chain"
    parts = rec.get("parts", []) if streaming else []
    for s in STREAM_STAGES:
        m[f"streaming.{s}_s"] = sum(p.get(s, 0.0) for p in parts) / max(len(parts), 1)
    m["streaming.canon_s"] = rec.get("canon_s", 0.0)
    m["streaming.jobs_per_batch"] = m["exec.jobs"] if streaming else 0.0
    m["streaming.files_per_batch"] = m["operators.sink.files"] if streaming else 0.0
    for k in ("state_bytes", "state_files", "index_rows"):
        m[f"streaming.{k}"] = rec.get(k, 0)
    wall = sum(op["wall_s"] for op in ops)
    m["trace.overhead_frac"] = probe.get("overhead_s", 0.0) / wall if wall else 0.0
    return m


def load_units():
    units = {}
    bench = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(bench):
        spec = json.load(open(bench))
        for m in spec.get("end_to_end", []) + spec.get("per_layer", []):
            units[m["name"]] = m["unit"]
    return units


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-dir", default=os.path.join(ROOT, ".bench_out"),
                    help="where the full run record is kept")
    args = ap.parse_args()

    started = time.time()
    load_before = os.getloadavg()
    try:
        classes, stamp = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    ncores = cores()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(ROOT, ".bench_runs", f"{tag}-{os.getpid()}")
    tmp, state = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "state")
    for d in (tmp, state):
        os.makedirs(d)
    os.makedirs(args.record_dir, exist_ok=True)
    out_file = os.path.join(run_dir, "record.json")
    trace_file = os.path.join(args.record_dir, f"{tag}.spans.jsonl")
    log_file = os.path.join(run_dir, "jvm.log")

    cmd = java_cmd(classes, jars, tmp) + [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--cores", str(ncores),
        "--data", os.path.join(HERE, "data"), "--state", state, "--out", out_file,
        "--goldens", os.path.join(HERE, "goldens.tsv"), "--trace-out", trace_file]
    launched = time.time()
    with open(log_file, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    rec = json.load(open(out_file)) if code == 0 and os.path.exists(out_file) else None
    if rec is None:
        sys.stderr.write(open(log_file).read()[-6000:])
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(f"benchmark JVM failed ({code})")

    # what graft and Spark left in the run's own dirs; all of it is removed
    leftover = dir_bytes(tmp) + dir_bytes(os.path.join(state, "spark-local")) + \
        dir_bytes(os.path.join(state, "warehouse"))
    shutil.rmtree(run_dir, ignore_errors=True)
    if not os.listdir(os.path.dirname(run_dir)):
        os.rmdir(os.path.dirname(run_dir))

    metrics = per_layer(rec) if args.trace else end_to_end(rec, launched)
    units = load_units()
    host = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": ncores, "load_before": load_before, "load_after": os.getloadavg(),
        "heap_max_mb": rec["heap_max_mb"], "commit": commit(), "source_stamp": stamp,
        "anchor": json.loads(rec["anchor"]) if "anchor" in rec else None,
        "leftover_bytes": leftover, "run_s": time.time() - started, "checks": rec["checks"], "failures": rec["failures"],
    }
    correct = rec["failed"] == 0 and rec["checks"]["failed"] == 0 and rec["attempted"] > 0
    result = {
        "correct": correct, "attempted": rec["attempted"], "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()},
    }
    with open(os.path.join(args.record_dir, f"{tag}.json"), "w") as f:
        json.dump({"host": host, "result": result,
                   "ops": [[n, t] for n, t in zip(rec["op_names"], rec["latencies_s"])]}, f)
    print(json.dumps({"host": host}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
