#!/usr/bin/env python3
"""Benchmark of the graft Spark engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload sql_batch --seed 1 --seconds 8 --trace 0

It builds the engine and the harness from source (perfbench/build.sh)
and runs the workload over the committed driver tables (sf0.01, seed 42)
in one fresh JVM on local[N], N = the machine's cores. The JVM sets up
(session, an untimed check pass, the workload's fixed number of warm
passes) and then runs timed passes for --seconds, at least two. The
seed fixes the query order of every pass. The check pass's results are
digested and compared with the pins in digests.json; a failed or
missing query or a wrong digest counts as failed, and the command then
exits with 1.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer
metrics of a run whose passes alternate untraced and traced (the
listeners attached). Every line but the last is a readable report; the
last is one JSON object with `correct`, `attempted`, `failed` and
`metrics`. Scratch (warehouse, metastore, Spark local dirs, temp dirs)
lives in perfbench/.work and is removed when the run ends; spans of a
traced run are written to perfbench/.out.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import digest  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
PINS = os.path.join(HERE, "digests.json")
DATA = os.path.join(HERE, "data", "sf0.01")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")

HEAP = "3g"
# A run must end within 180 s; the JVM is killed after this.
RUN_BUDGET_S = 170
BUILD_TIMEOUT_S = 600

# Why each workload holds these queries: see "why". Both are subsets of
# the registered suite, sized so that a run (one JVM: about 11 s of
# session start, a cold check pass, the warm passes and the timed
# passes) takes about a minute on 4 cores. "warm" is the number of warm
# passes, set where the measured pass times flatten (README.md).
# sql_batch is the query at each sixth's midpoint (ranks 3, 11, 18, 25,
# 33 and 40 of 0-43) of the 44 relational queries (c*, m*, q01-q28, q30,
# q32) ordered by their measured time at sf0.01; README.md has the
# measurement.
WORKLOADS = {
    "sql_batch": {
        "why": "relational queries whose time is per-query fixed cost "
               "(Catalyst, jobs, stages, task launch), not operator work",
        "queries": ["q06_conditional_audit", "c7_rating_histogram", "q08_top3_per_nation",
                    "q24_order_gaps_lag", "c3_most_rated", "q32_salted_join"],
        "warm": 8,
    },
    "incremental": {
        "why": "consumers of a standing pair index built in set-up, and a stateful "
               "streaming sink whose cost is per micro-batch: fixtures, catalog "
               "tables, state-store commits, sink files",
        "queries": ["d28_pair_index_curation", "d29_pair_index_clusters",
                    "q29_events_stream_sink"],
        "warm": 5,
    },
}

ADD_OPENS = [
    arg for pkg in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")]



def spawn(cmd, cwd, log, timeout):
    """Run `cmd` in its own process group, output to `log`; kill the whole
    group if it outlives `timeout`. Returns the exit code, None on timeout."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def java(main, args, work, log, timeout):
    """Run a JVM on the engine's classpath with `work` as its cwd and
    scratch (warehouse, metastore, Spark local and temp dirs)."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", *ADD_OPENS,
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
           "-cp", f"{BUILD}/classes:{SPARK_JARS}/*", main, *args]
    return spawn(cmd, work, log, timeout)


def build():
    """Compile the engine and the harness; raises if that fails."""
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    rc = spawn(["bash", os.path.join(HERE, "build.sh")], ROOT, log, BUILD_TIMEOUT_S)
    if rc != 0:
        with open(log, errors="replace") as f:
            sys.stderr.writelines(f.readlines()[-30:])
        raise RuntimeError(f"perfbench/build.sh exited with {rc}")


def cpu_jiffies():
    """(steal, total) jiffies of the host's vCPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def run_jvm(workload, seed, seconds, trace, deadline):
    """Run the workload in one fresh JVM. Returns (parsed result or None,
    digest of each query's check-pass result)."""
    w = WORKLOADS[workload]
    queries = w["queries"]
    work = os.path.join(WORK, f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    check = os.path.join(work, "check")
    result = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    try:
        rc = java("perfbench.Harness",
                  [DATA, ",".join(queries), str(seed), str(w["warm"]), str(seconds),
                   "1" if trace else "0", check, result],
                  work, log, deadline - time.time())
        if rc != 0 or not os.path.exists(result):
            with open(log, errors="replace") as f:
                sys.stderr.write(f"[perfbench] JVM exited with {rc}; log tail:\n")
                sys.stderr.writelines(f.readlines()[-30:])
            return None, {}
        with open(result) as f:
            parsed = json.load(f)
        con = duckdb.connect()
        return parsed, {q: digest.parquet_digest(con, os.path.join(check, q)) for q in queries}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def failures(workload, res, digests, pins):
    """(attempted, failed, reasons). Every execution of every pass counts
    as attempted. Throws, queries missing from a pass, check-pass digests
    that differ from the pins, and all queries of a JVM that left no
    result count as failed. A check-pass execution fails at most once: a
    query that threw or was missing there has no digest to compare."""
    queries = WORKLOADS[workload]["queries"]
    if res is None:
        return len(queries), len(queries), ["the JVM left no result"]
    expected = pins.get(workload, {})
    attempted = failed = 0
    reasons = []
    check_failed = set()
    for p in res["passes"]:
        names = [e["name"] for e in p["execs"]]
        missing = sorted(set(queries) - set(names))
        attempted += len(names) + len(missing)
        failed += len(missing)
        reasons += [f"{p['kind']} pass: {q} missing" for q in missing]
        threw = [e for e in p["execs"] if e["error"] is not None]
        failed += len(threw)
        reasons += [f"{p['kind']} pass: {e['name']} threw: {e['error']}" for e in threw]
        if p["kind"] == "check":
            check_failed |= set(missing) | {e["name"] for e in threw}
    for q in queries:
        if q not in check_failed and digests.get(q) != expected.get(q):
            failed += 1
            reasons.append(f"{q}: digest {digests.get(q)} != pinned {expected.get(q)}")
    return attempted, failed, reasons


def passes(res, kind):
    return [p for p in res["passes"] if p["kind"] == kind]


def end_to_end(res):
    """Metrics a user sees, from the untraced timed passes. pass_cpu_s is
    process CPU less JIT compile time, which still runs after warm-up and
    is reported per layer as jvm.jit_ms. A tail latency is noted only at
    a percentile with ten executions beyond it; no workload's run holds
    the hundred that p90 needs."""
    timed = passes(res, "timed")
    lat = [e["build_s"] + e["execute_s"] for p in timed for e in p["execs"]
           if e["error"] is None]
    m = {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (statistics.median([p["wall_s"] for p in timed]), "s"),
        "pass_cpu_s": (statistics.median([p["cpu_s"] - p["jit_ms"] / 1000 for p in timed]), "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    tail = stats.tail_percentile(lat)
    q1, q3 = stats.quartiles([p["wall_s"] for p in timed])
    notes = {"pass_s": f"n={len(timed)} passes, quartiles {q1:.4f} / {q3:.4f} s",
             "query_p50_s": f"n={len(lat)} executions; " + (
                 f"p{tail[0]:g} = {tail[1]:.4f} s" if tail else "too few for a tail percentile")}
    return m, notes


def _sum(tel, pred):
    return sum(v for k, v in tel.items() if pred(k))


def layer_values(p):
    """Per-layer metrics of one traced pass."""
    t, li = p["telemetry"], p["listener"]
    mb = 1 << 20
    run_ms = li.get("executor.run_ms", 0)
    stream = lambda suffix: (lambda k: k.split(".", 1)[-1] == suffix  # noqa: E731
                             and k.split(".", 1)[0].startswith("q"))
    return {
        "queries.build_s": (sum(e["build_s"] for e in p["execs"]), "s"),
        "queries.execute_s": (sum(e["execute_s"] for e in p["execs"]), "s"),
        "fixtures.build_ms": (_sum(t, lambda k: k.startswith("fixture.")
                                   and k.endswith("_build_ms")), "ms"),
        "catalyst.executions": (li.get("catalyst.executions", 0), "count"),
        "catalyst.analysis_ms": (li.get("catalyst.analysis_ms", 0), "ms"),
        "catalyst.optimization_ms": (li.get("catalyst.optimization_ms", 0), "ms"),
        "catalyst.planning_ms": (li.get("catalyst.planning_ms", 0), "ms"),
        "scheduler.jobs": (li.get("scheduler.jobs", 0), "count"),
        "scheduler.stages": (li.get("scheduler.stages", 0), "count"),
        "scheduler.tasks": (li.get("scheduler.tasks", 0), "count"),
        "scheduler.failed_tasks": (li.get("scheduler.failed_tasks", 0), "count"),
        "executor.run_ms": (run_ms, "ms"),
        "executor.cpu_ms": (li.get("executor.cpu_ns", 0) / 1e6, "ms"),
        "executor.deserialize_ms": (li.get("executor.deserialize_ms", 0), "ms"),
        "executor.gc_ms": (li.get("executor.gc_ms", 0), "ms"),
        "executor.cpu_share": (li.get("executor.cpu_ns", 0) / 1e6 / run_ms if run_ms else 0.0,
                               "ratio"),
        "shuffle.write_mb": (li.get("shuffle.write_bytes", 0) / mb, "MB"),
        "shuffle.read_mb": (li.get("shuffle.read_bytes", 0) / mb, "MB"),
        "shuffle.fetch_wait_ms": (li.get("shuffle.fetch_wait_ms", 0), "ms"),
        "shuffle.spill_disk_mb": (li.get("shuffle.spill_disk_bytes", 0) / mb, "MB"),
        "shuffle.spill_memory_mb": (li.get("shuffle.spill_memory_bytes", 0) / mb, "MB"),
        "sources.read_mb": (li.get("sources.read_bytes", 0) / mb, "MB"),
        "sources.rows_read": (li.get("sources.rows_read", 0), "count"),
        "catalog.write_mb": (li.get("catalog.write_bytes", 0) / mb, "MB"),
        "catalog.rows_written": (li.get("catalog.rows_written", 0), "count"),
        "catalog.warehouse_mb": (p["warehouse_bytes"] / mb, "MB"),
        "catalog.tables": (p["warehouse_tables"], "count"),
        "operators.components_rounds": (t.get("components.min_label_rounds", 0)
                                        + t.get("components.star_rounds", 0), "count"),
        "operators.components_pairgen_ms": (t.get("components.pairgen_ms", 0), "ms"),
        "streaming.batches": (_sum(t, stream("batches")), "count"),
        "streaming.add_batch_ms": (_sum(t, stream("dur_addBatch")), "ms"),
        "streaming.commit_ms": (_sum(t, stream("dur_commitOffsets"))
                                + _sum(t, stream("dur_walCommit")), "ms"),
        "streaming.state_rows": (_sum(t, stream("state_rows")), "count"),
        "streaming.state_mb": (_sum(t, stream("state_bytes")) / mb, "MB"),
        "jvm.gc_ms": (p["gc_ms"], "ms"),
        "jvm.jit_ms": (p["jit_ms"], "ms"),
    }


SELF_LAYERS = ("pass", "query", "queries.build", "queries.execute", "spark.job",
               "spark.stage", "catalyst.analysis", "catalyst.optimization",
               "catalyst.planning")


def per_layer(res):
    """Per-layer metrics: medians over the traced passes, span self-times
    per traced pass, and the tracing and benchmark overheads."""
    traced, untraced = passes(res, "traced"), passes(res, "timed")
    per_pass = [layer_values(p) for p in traced]
    m = {k: (statistics.median([v[k][0] for v in per_pass]), unit)
         for k, (_, unit) in per_pass[0].items()}
    setup = [p for p in res["passes"] if p["kind"] in ("check", "warm")]
    m["fixtures.setup_build_ms"] = (sum(
        _sum(p["telemetry"], lambda k: k.startswith("fixture.") and k.endswith("_build_ms"))
        for p in setup), "ms")
    m["setup.session_s"] = (res["session_s"], "s")
    m["setup.check_s"] = (sum(p["wall_s"] for p in setup if p["kind"] == "check"), "s")
    m["setup.warm_s"] = (sum(p["wall_s"] for p in setup if p["kind"] == "warm"), "s")
    m["setup.warm_passes"] = (len(passes(res, "warm")), "count")
    selfs = stats.self_times(res["spans"])
    for layer in SELF_LAYERS:
        m[f"self.{layer}_ms"] = (selfs.get(layer, 0) / 1000.0 / len(traced), "ms")
    m["trace.overhead_s"] = (statistics.median([p["wall_s"] for p in traced])
                             - statistics.median([p["wall_s"] for p in untraced]), "s")
    m["bench.overhead_s"] = (statistics.median(
        [p["wall_s"] - sum(e["build_s"] + e["execute_s"] for e in p["execs"])
         for p in traced]), "s")
    return m, {"trace.overhead_s": f"n={len(traced)} traced, {len(untraced)} untraced passes"}


def write_spans(workload, seed, res):
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"spans-{workload}-{seed}.jsonl")
    with open(path, "w") as f:
        for s in res["spans"]:
            f.write(json.dumps({"id": s[0], "parent": s[1], "layer": s[2], "name": s[3],
                                "start_us": s[4], "end_us": s[5]}) + "\n")
    return path


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a caller may stop a run with SIGTERM; unwind so the JVM is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(PINS) as f:
        pins = json.load(f)
    try:
        build()
        steal0, total0 = cpu_jiffies()
        res, digests = run_jvm(a.workload, a.seed, a.seconds, a.trace == 1,
                               time.time() + RUN_BUDGET_S)
        steal1, total1 = cpu_jiffies()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    attempted, failed, reasons = failures(a.workload, res, digests, pins)
    for r in reasons:
        print(f"FAIL {r}")
    if res is not None and not res["warm_steady"]:
        print(f"WARN pass times were not steady after {len(passes(res, 'warm'))} warm passes")
    if res is not None and any("trace.drain_timeout" in p["telemetry"] for p in res["passes"]):
        print("WARN the listener bus did not drain; per-layer counters may be short")
    metrics, notes = {}, {}
    if res is not None:
        metrics, notes = per_layer(res) if a.trace else end_to_end(res)
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"failed_ratio {failed / attempted:.4f} ({failed}/{attempted})  "
          f"cpu steal {(steal1 - steal0) / max(total1 - total0, 1):.1%}")
    if res is not None:
        for kind in ("check", "warm", "timed", "traced"):
            walls = " ".join(f"{p['wall_s']:.2f}" for p in passes(res, kind))
            if walls:
                print(f"  {kind} passes (s): {walls}")
    for k, (v, unit) in metrics.items():
        print(f"  {k:36s} {v:14.4f} {unit:6s} {notes.get(k, '')}")
    if a.trace and res is not None:
        print(f"  spans written to {os.path.relpath(write_spans(a.workload, a.seed, res), ROOT)}")
    correct = failed == 0 and res is not None
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
