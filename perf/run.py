#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perf/run.py --workload tail --seed 1 --seconds 10 --trace 0

A run builds the engine and the harness from source if they changed,
launches the harness in a fresh JVM with fixed resources, checks every
query's output, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones (from a traced run).
Metric names and units come from BENCHMARK.json.

The JVM gets its own working dir, `java.io.tmpdir`, `spark.local.dir` and
warehouse under `perf/work/`, all deleted when the run ends, so no run
reuses another's artifacts. Full results are kept in `perf/results/`;
`perf/compare.py` compares two sets of them. The workloads, resources and
the design behind them are in `perf/workloads.json`.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
RESULTS = os.path.join(HERE, "results")
CONFIG = json.load(open(os.path.join(HERE, "workloads.json")))

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 160

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def die(msg, code=2):
    print(f"[perf] {msg}", file=sys.stderr)
    sys.exit(code)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def run_child(cmd, cwd, env, log, timeout):
    """Run cmd with output to log; return its exit code, or "timeout".
    The child gets its own process group, which is killed and waited for
    if the child overruns or this script is interrupted."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return "timeout"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of every file the build reads from this checkout."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    h = hashlib.sha256()
    for f in sorted(p for p in files if os.path.isfile(p)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine and harness with sbt unless the sources are unchanged
    since the last build; return (classpath, jvm module options)."""
    stamp_file = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    opts_file = os.path.join(TARGET, "jvm-options.txt")
    stamp = source_stamp()
    fresh = (os.path.isfile(stamp_file) and os.path.isfile(cp_file)
             and open(stamp_file).read() == stamp)
    if not fresh:
        log = os.path.join(HERE, "build.log")
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.forcestart=false", "writeLaunchFiles"],
                       HERE, dict(os.environ, COURSIER_MODE="offline"), log,
                       BUILD_TIMEOUT_S)
        if rc != 0:
            sys.stderr.write(open(log).read()[-4000:])
            die(f"build failed ({rc}); log in {log}", 3)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    cp = open(cp_file).read().strip()
    opts = [l.strip() for l in open(opts_file) if l.strip()]
    return cp, opts


# ---------------------------------------------------------------- launch

def launch(cp, opts, args):
    """Run the harness in a fresh JVM with its own dirs; return its JSON."""
    os.makedirs(WORK, exist_ok=True)
    run = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run, d))
    out = os.path.join(run, "result.json")
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "SPARK_LOCAL_DIRS",
                                "_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS"))}
    heap = CONFIG["heap"]
    try:
        rc = run_child(
            ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData"]
            + CONFIG["jvm_flags"] + opts
            + [f"-Djava.io.tmpdir={run}/tmp", "-cp", cp, "perf.Harness",
               "--run-dir", run, "--out", out, "--sf", corpus(),
               "--slots", str(CONFIG["slots"])] + args
            + ["--launched-epoch-ns", str(time.time_ns())],
            run, env, os.path.join(run, "jvm.log"), RUN_TIMEOUT_S)
        if rc != 0 or not os.path.isfile(out):
            sys.stderr.write(open(os.path.join(run, "jvm.log")).read()[-4000:])
            die(f"harness failed ({rc})", 4)
        result = json.load(open(out))
        result["run_dir"] = run
        return result
    except BaseException:
        shutil.rmtree(run, ignore_errors=True)
        raise


def corpus():
    return os.path.expanduser(
        os.environ.get("SPARK_GRAFT_SF_DIR", CONFIG["corpus"]))


# ---------------------------------------------------------------- check

def oracle_digests(sql):
    """DuckDB digest of each query's oracle SQL, computed from the corpus."""
    import duckdb
    check = load_check()
    con = duckdb.connect()
    for f in sorted(os.listdir(corpus())):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{corpus()}/{f}')")
    return {q: frame_digest(check, con.execute(s).df()) for q, s in sql.items()}


def load_check():
    """The repository's correctness canonicalization (tools/check.py)."""
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check
    return check


def frame_digest(check, df):
    cols, rows = check.frame_rows(df)
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()


def check_outputs(result, workload_queries):
    """Names of the queries whose output is wrong, with the reason."""
    import glob
    import pandas as pd
    check = load_check()
    bad = {}
    sql = result["oracle_sql"]
    t0 = time.perf_counter()
    oracles = oracle_digests({q: sql[q] for q in workload_queries if q in sql})
    result["oracle_s"] = time.perf_counter() - t0
    for q, want in oracles.items():
        if q in result["check_errors"]:
            bad[q] = "check run failed: " + result["check_errors"][q]
            continue
        files = sorted(glob.glob(os.path.join(result["run_dir"], "check", q,
                                              "*.parquet")))
        try:
            got = frame_digest(check, pd.concat(
                [pd.read_parquet(f) for f in files], ignore_index=True))
        except Exception as e:  # a hostile cell type is a wrong output
            bad[q] = f"unreadable output: {e}"
            continue
        if got != want:
            bad[q] = "output differs from the DuckDB oracle"
    for q, ds in result["digests"].items():
        if len(set(ds)) != 1 or ds[0].startswith("error"):
            bad[q] = f"digest differs between passes: {ds}"
    return bad


# ---------------------------------------------------------------- metrics

def med(xs):
    return statistics.median(xs) if xs else 0.0


def per_query_medians(calls, passes):
    by = {}
    for c in calls:
        if c["pass"] in passes and c["ok"]:
            by.setdefault(c["query"], []).append(c["wall_s"])
    return {q: med(ts) for q, ts in by.items()}


def end_to_end(result):
    calls = result["calls"]
    warm = per_query_medians(calls, range(1, result["warm_passes"] + 1))
    vals = list(warm.values())
    return {
        "setup_s": result["setup"]["setup_s"],
        "cold_pass_s": result["cold_pass_s"],
        "warm_pass_s": sum(vals),
        "warm_query_geomean_s":
            math.exp(sum(math.log(v) for v in vals) / len(vals)) if vals else 0.0,
        "disk_bytes_per_input_byte": result["disk_bytes"] / result["input_bytes"],
    }


def per_layer(result):
    recs = result["trace"]
    n = result["warm_passes"]
    traced = sorted({r["pass"] for r in recs if r["pass"] > 0})
    untraced = [p for p in range(1, n + 1) if p not in traced]

    def pass_sum(key, p):
        return sum(r.get(key, 0) for r in recs if r["pass"] == p)

    def warm(key):
        return med([pass_sum(key, p) for p in traced])

    idle = []
    for p in traced:
        slot_ms = pass_sum("exec_slot_ms", p)
        idle.append(1 - pass_sum("exec_task_run_s", p) * 1e3 / slot_ms
                    if slot_ms else 0.0)
    traced_s = sum(per_query_medians(result["calls"], traced).values())
    untraced_s = sum(per_query_medians(result["calls"], untraced).values())
    setup = result["setup"]
    m = {
        "tables.read_s": med([t["s"] for t in result["table_reads"]]),
        "tables.jobs": warm("tables_jobs"),
        "build.s": warm("build_s"), "build.jobs": warm("build_jobs"),
        "plan.analysis_s": warm("plan_analysis_s"),
        "plan.optimization_s": warm("plan_optimization_s"),
        "plan.planning_s": warm("plan_planning_s"),
        "exec.jobs": warm("exec_jobs"), "exec.stages": warm("exec_stages"),
        "exec.tasks": warm("exec_tasks"), "exec.s": warm("consume_s"),
        "exec.task_run_s": warm("exec_task_run_s"),
        "exec.task_cpu_s": warm("exec_task_cpu_s"),
        "exec.gc_s": warm("exec_gc_s"),
        "exec.shuffle_write_bytes": warm("exec_shuffle_write_bytes"),
        "exec.shuffle_read_bytes": warm("exec_shuffle_read_bytes"),
        "exec.spill_bytes": warm("exec_spill_bytes"),
        "exec.peak_exec_mem_bytes": med(
            [max(r["exec_peak_exec_mem_bytes"] for r in recs if r["pass"] == p)
             for p in traced]),
        "exec.slot_idle_share": med(idle),
        "pin.rdds": warm("pin_rdds"), "pin.bytes": warm("pin_bytes"),
        "pin.peak_bytes": max(c["pinned_bytes"] for c in result["calls"]),
        "pin.drain_s": warm("drain_s"),
        "artifact.cold_dirs_created": pass_sum("artifact_dirs_created", 0),
        "artifact.cold_bytes_written": pass_sum("artifact_bytes_written", 0),
        "artifact.warm_dirs_created": warm("artifact_dirs_created"),
        "artifact.warm_bytes_written": warm("artifact_bytes_written"),
        # streams build state, so they run in the cold pass
        "stream.queries": pass_sum("stream_queries", 0),
        "stream.batches": pass_sum("stream_batches", 0),
        "stream.batch_s": pass_sum("stream_batch_s", 0),
        "stream.add_batch_s": pass_sum("stream_add_batch_s", 0),
        "stream.wal_commit_s": pass_sum("stream_wal_commit_s", 0),
        "stream.rows_in": pass_sum("stream_rows_in", 0),
        "stream.state_rows": pass_sum("stream_state_rows", 0),
        "stream.warm_batches": warm("stream_batches"),
        "jvm.jit_s": setup["jit_s"] + result["jvm"]["cold"]["jit_s"],
        "jvm.gc_s": setup["gc_s"] + result["jvm"]["cold"]["gc_s"],
        "jvm.heap_after_gc_peak_bytes": result["jvm"]["heap_after_gc_peak_bytes"],
        "setup.session_s": setup["session_s"],
        "setup.warmup_s": setup["warmup_s"],
        "trace.overhead_s": traced_s - untraced_s,
    }
    for name in ("query", "build", "consume", "drain", "job", "batch"):
        m[f"self.{name}_s"] = warm(f"self_{name}_s")
    return m


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and deletes its dirs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    wl = CONFIG["workloads"].get(a.workload)
    if wl is None:
        die(f"unknown workload {a.workload!r}; have {sorted(CONFIG['workloads'])}")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        die(f"no engine sources under {ROOT}/src; run from a full checkout")
    if not os.path.isdir(corpus()):
        die(f"corpus {corpus()} not found (set SPARK_GRAFT_SF_DIR)")

    cp, opts = build()
    order = list(wl["queries"])
    random.Random(f"{a.workload}:{a.seed}").shuffle(order)

    load0 = loadavg()
    result = launch(cp, opts, [
        "--queries", ",".join(order), "--seconds", str(a.seconds),
        "--min-warm", str(wl["min_warm_passes"]),
        "--trace", str(a.trace)])
    try:
        load1 = loadavg()
        bad = check_outputs(result, order)
        attempted = len(result["calls"])
        failed = sum(1 for c in result["calls"]
                     if not c["ok"] or c["query"] in bad)
        for q, why in bad.items():
            print(f"[perf] WRONG {q}: {why}", file=sys.stderr)
        if a.trace:
            metrics = per_layer(result)
            units = PER_LAYER
        else:
            metrics = end_to_end(result)
            units = END_TO_END
        line = {"correct": failed == 0, "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": units[k]}
                            for k in units}}
        os.makedirs(os.path.join(RESULTS, a.workload), exist_ok=True)
        stem = os.path.join(RESULTS, a.workload, time.strftime(
            "%Y%m%dT%H%M%S") + f"-{os.getpid()}-seed{a.seed}-trace{a.trace}")
        record = dict(line, workload=a.workload, seed=a.seed, trace=a.trace,
                      order=order,
                      loadavg=[load0, load1], wrong=bad,
                      failed_share=failed / attempted,
                      warm_passes=result["warm_passes"],
                      oracle_s=result["oracle_s"],
                      setup=result["setup"], calls=result["calls"])
        with open(stem + ".json", "w") as f:
            json.dump(record, f, indent=1)
        if a.trace:
            for name in ("spans.jsonl", "layers.jsonl"):
                shutil.copy(os.path.join(result["run_dir"], "trace", name),
                            f"{stem}-{name}")
    finally:
        shutil.rmtree(result["run_dir"], ignore_errors=True)
    for k, v in line["metrics"].items():
        print(f"{a.workload}/{k} = {v['value']:.6g} {v['unit']}")
    print(f"{a.workload}/failed_share = {failed / attempted:.6g} ratio "
          f"({failed} of {attempted} query executions failed; "
          f"loadavg {load0} -> {load1})")
    print(json.dumps(line))


if __name__ == "__main__":
    main()
