"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark driver with sbt (a few minutes); later runs reuse the build
while the sources are unchanged. Every run generates its inputs from the
seed under a private temporary root inside the checkout, runs the
driver JVM, checks every output against DuckDB, prints one JSON object
as the last line of standard output, and deletes the temporary root.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["sql_subquery", "ingest"]
STATE_DIR = os.path.join(ROOT, ".perfbench")
BUILD_DIR = os.path.join(STATE_DIR, "build")
SETUPS = 3              # set-up repetitions per run; setup_s takes their median
RUN_DEADLINE_S = 175    # a run ends within this, build excluded

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------- build

def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def _stamp():
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the driver; returns the driver classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} in {ROOT}: run from the root of a repository checkout")
    stamp = _stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(BUILD_DIR, "sbt.log")
    with open(log_path, "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850)
    with open(log_path) as log:
        lines = [ln.strip() for ln in log if ln.strip()]
    cp = lines[-1] if lines else ""
    if p.returncode != 0 or os.path.join("perfbench", "target") not in cp:
        sys.stderr.write("".join(ln + "\n" for ln in lines[-30:]))
        fail("sbt build failed", 1)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# --------------------------------------------------------------------- run

def heap_size():
    """Half of host memory, clamped to 2..8 GiB (the tier-1 test sizing)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def cpus():
    return len(os.sched_getaffinity(0))


def run_driver(cp, workload, run_dir, seconds, trace, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # -XX:-UsePerfData: no hsperfdata file outside the run's own root
    cmd = ["java", f"-Xmx{heap_size()}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
           f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.sql.streaming.forceDeleteTempCheckpointLocation=true"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--dir", run_dir,
            "--seconds", str(seconds), "--trace", str(trace), "--setups", str(SETUPS)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    log_path = os.path.join(run_dir, "driver.log")
    launched = time.time()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            # also on SIGTERM: the driver never outlives this process
            if p.poll() is None:
                p.kill()
                p.wait()
    out_path = os.path.join(run_dir, "out.json")
    if code != 0 or not os.path.exists(out_path):
        with open(log_path) as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        fail("driver timed out" if code is None else f"driver exited with {code}", 1)
    with open(out_path) as f:
        return launched, json.load(f)


# ----------------------------------------------------------------- metrics

def metric_units(trace):
    """Metric name -> unit, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def end_to_end(out, timed, gen_s, launched):
    lat = [e["latency_s"] for e in timed]
    setup = (gen_s + (out["session_ready_ms"] / 1000.0 - launched)
             + statistics.median(out["setup_s"]))
    return {
        "setup_s": setup,
        "ops_per_s": stats.throughput(len(timed), out["loop_s"]),
        "op_gmean_s": stats.geomean(lat),
    }


TIME_SPANS = {
    "nutql.parse": "nutql.parse_s", "engine.bind": "engine.bind_s",
    "engine.stmt": "engine.stmt_s", "catalyst.optimization": "catalyst.optimization_s",
    "catalyst.planning": "catalyst.planning_s", "exec.action": "exec.action_s",
    "pipeline.classify_append": "pipeline.classify_append_s",
}
OP_COUNTS = {
    "exec.jobs": ("exec.jobs", 1), "exec.stages": ("exec.stages", 1),
    "exec.tasks": ("exec.tasks", 1), "exec.task_run_s": ("exec.task_run_ms", 1e-3),
    "exec.task_cpu_s": ("exec.task_cpu_ns", 1e-9), "exec.gc_s": ("exec.task_gc_ms", 1e-3),
    "exec.shuffle_write_bytes": ("exec.shuffle_write_bytes", 1),
    "exec.shuffle_read_bytes": ("exec.shuffle_read_bytes", 1),
    "exec.spill_bytes": ("exec.spill_bytes", 1),
    "exec.peak_exec_memory_bytes": ("exec.peak_exec_memory_bytes", 1),
}
VALUE_MEANS = [
    "catalyst.analysis_s", "catalyst.exchanges", "catalyst.nested_loop_joins",
    "scan.files", "scan.bytes_read", "scan.rows", "scan.time_s",
    "storage.bytes_written", "storage.files_written",
    "pipeline.index_docs", "streaming.start_s", "streaming.batches",
    "streaming.query_planning_s", "streaming.wal_commit_s",
    "streaming.add_batch_s", "streaming.trigger_s",
]
def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(out, timed, extra):
    """Per-layer metrics of the traced run. A layer's time or count is its
    mean per operation, over the operations in which the layer ran (0 when
    it never ran in this workload)."""
    spans = out["spans"]
    timed_idx = {e["index"] for e in timed}
    selfs = stats.self_times(spans)
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    m = {}
    for span_name, metric in TIME_SPANS.items():
        per_op = [sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in by_op[i] if s["name"] == span_name)
                  for i in timed_idx if any(s["name"] == span_name for s in by_op.get(i, []))]
        m[metric] = _mean(per_op)
    m["engine.bind_jobs"] = _mean([s["values"].get("exec.jobs", 0) for i in timed_idx
                                   for s in by_op.get(i, []) if s["name"] == "engine.bind"])
    roots = [s for i in timed_idx for s in by_op.get(i, []) if s["name"] == "op"]
    for metric, (key, scale) in OP_COUNTS.items():
        m[metric] = _mean([s["values"].get(key, 0) * scale for s in roots])
    m["trace.unaccounted_s"] = _mean([selfs[s["id"]] for s in roots])
    # against the untraced run's ops_per_s: the cost of tracing
    m["trace.ops_per_s"] = stats.throughput(len(timed), out["loop_s"])
    for key in VALUE_MEANS:
        m[key] = _mean([e["values"][key] for e in timed if key in e["values"]])
    scan_rows = sum(e["values"].get("scan.rows", 0) for e in timed)
    result_rows = sum(e["values"].get("result_rows", 0) for e in timed)
    m["scan.rows_per_result_row"] = scan_rows / result_rows if result_rows else 0.0
    m["pipeline.dropped_postings"] = max(
        [e["values"].get("pipeline.dropped_postings", 0) for e in timed] or [0])
    setup_spans = [s for s in spans if s["op"] == -1]
    for name in ("pipeline.index_build", "pipeline.index_write", "pipeline.index_load"):
        xs = [(s["end_ns"] - s["start_ns"]) / 1e9 for s in setup_spans if s["name"] == name]
        m[name + "_s"] = statistics.median(xs) if xs else 0.0
    fin = out["finish"]
    m["storage.live_files"] = fin.get("storage.live_files", 0.0)
    m["storage.superseded_bytes"] = fin.get("storage.superseded_bytes", 0.0)
    live = fin.get("storage.live_bytes", 0.0)
    m["storage.space_amp"] = fin["storage.total_bytes"] / live if live else 0.0
    user = sum(extra.get("user_bytes", {}).get(e["index"], 0) for e in timed)
    written = sum(e["values"].get("storage.bytes_written", 0) for e in timed)
    m["storage.write_amp"] = written / user if user else 0.0
    m["jvm.gc_s"] = out["jvm_gc_s"]
    m["jvm.heap_peak_mb"] = out["jvm_heap_peak_mb"]
    m["jvm.peak_rss_mb"] = out["vm_hwm_kb"] / 1024.0
    for kind, metric in (("write", "ops.insert_p50_s"), ("read", "ops.read_p50_s")):
        xs = [e["latency_s"] for e in timed if e["kind"] == kind]
        m[metric] = stats.percentile(xs, 50) if xs else 0.0
    return m


def tally(execs, outcomes):
    """(correct, attempted, failed, wrong) of a run. Only the timed rounds
    count as attempted: they are whole rounds of the same operations in
    every run. `failed` counts the timed operations that raised or whose
    output did not match. `wrong` lists every operation whose output did
    not match, and every warm-up operation that raised (the warm-up
    round is not counted in `failed`); `correct` is true when it is
    empty."""
    wrong = [(e["op"], o) for e, o in zip(execs, outcomes)
             if o and (e["warmup"] or not e["error"])]
    timed = [o for e, o in zip(execs, outcomes) if not e["warmup"]]
    return not wrong, len(timed), sum(1 for o in timed if o), wrong


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    cp = build()
    deadline = time.time() + RUN_DEADLINE_S
    run_dir = os.path.join(STATE_DIR, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        t0 = time.time()
        plan = gen.generate(args.workload, args.seed, run_dir)
        gen_s = time.time() - t0
        launched, out = run_driver(cp, args.workload, run_dir, args.seconds,
                                   args.trace, deadline)
        execs = out["execs"]
        for i, e in enumerate(execs):
            e["index"] = i
        t_check = time.time()
        outcomes, extra = check.check(args.workload, os.path.join(run_dir, "data"),
                                      plan, execs)
        warm_s = sum(e["latency_s"] for e in execs if e["warmup"])
        print(f"perfbench: generate {gen_s:.1f}s, session "
              f"{out['session_ready_ms'] / 1000.0 - launched:.1f}s, set-ups "
              f"{', '.join(f'{x:.1f}' for x in out['setup_s'])}s, warm-up {warm_s:.1f}s, "
              f"loop {out['loop_s']:.1f}s ({out['rounds']} rounds), "
              f"check {time.time() - t_check:.1f}s", file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(STATE_DIR)
        except OSError:
            pass

    for e in execs:
        if e["error"]:
            print(f"perfbench: {e['op']} failed: {e['error']}", file=sys.stderr)
    correct, attempted, failed, wrong = tally(execs, outcomes)
    for op, why in wrong[:10]:
        print(f"perfbench: wrong output for {op}: {why}", file=sys.stderr)
    timed = [e for e in execs if not e["warmup"]]
    metrics = (per_layer(out, timed, extra) if args.trace
               else end_to_end(out, timed, gen_s, launched))
    units = metric_units(args.trace)
    if set(metrics) != set(units):
        fail(f"metrics {sorted(set(metrics) ^ set(units))} differ from BENCHMARK.json", 1)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
