#!/usr/bin/env python3
"""The repository's benchmark: the paper's loan ETL and the query lanes,
end to end (`--trace 0`) and per layer (`--trace 1`).

Usage, from the repository root:

    python3 perfbench/run.py --workload etl-1m --seed 1 --seconds 10 --trace 0

The script builds the benchmark harness together with the program's own
sources (sbt, see build.sbt here), makes the ETL's inputs from `--seed`
(the lanes read the fixed test tables in sf0.01 here), runs them through the harness JVM (src/main/scala/perfbench),
checks the outputs, and prints one JSON object as its last line:
`{"correct", "attempted", "failed", "metrics"}`. Everything it writes goes
under perfbench/work (inputs, outputs, Spark scratch space) and
perfbench/target (the build). README.md here says what each metric means.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
# The lanes read the project's sf0.01 test tables; sf0.01 here holds
# byte-identical copies, so a run reads nothing outside its checkout.
TABLES_DIR = os.path.join(HERE, "sf0.01")
sys.path.insert(0, HERE)
import loangen  # noqa: E402

ETL_ROWS = 1_000_000
# Every run after the build must end within this many seconds.
RUN_BUDGET_S = 170
# Set-up is measured this many extra times per untraced run, each in a
# fresh JVM, and the median of these and the main JVM's is reported.
SETUP_PROBES = 1
# graft.Bench's heap: `run` in the root build.sbt pins -Xms/-Xmx to this.
HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")

END_TO_END = {"setup_s": "s", "first_call_s": "s", "call_p50_s": "s", "call_p95_s": "s", "wall_s": "s"}
PER_LAYER = {
    "io.infer_s": "s", "io.infer_jobs": "count", "io.parquet_write_s": "s",
    "io.out_bytes_per_in_byte": "ratio",
    "ops.modefill_s": "s", "ops.modefill_jobs": "count", "ops.split_s": "s",
    "ops.insights_s": "s", "ops.insights_jobs": "count",
    "ops.modefill_single_pass_s": "s", "ops.modefill_single_pass_ties_match": "bool",
    "ops.modefill_aggregator_s": "s", "ops.modefill_aggregator_ties_match": "bool",
    "queries.construct_s": "s", "queries.construct_jobs": "count", "queries.execute_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.task_overhead_s": "s",
    "exec.input_records": "count", "exec.rescan_factor": "ratio", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "storage.retained_rdds": "count", "storage.retained_mb": "MB",
    "trace.wall_s": "s", "trace.overhead_s": "s",
}
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def _stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _env():
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if submit:
            env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark")
    return env


def build():
    """Returns the harness classpath, building it when a source changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("the program's sources (src/main/scala/graft) are not in this checkout")
    stamp = _stamp()
    cache = os.path.join(HERE, "target", "perfbench-classpath.json")
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c["stamp"] == stamp:
            return c["classpath"]
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspathAsJars"],
        cwd=HERE, env=_env(), stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        raise BenchError("sbt build failed (exit %d)" % p.returncode)
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


# ----------------------------------------------------------------- JVM

def launch(classpath, args, deadline, name):
    """Runs the harness to completion. Returns (seconds from launch to the
    `[perfbench] ready` line, the lines it printed). The JVM's stderr
    (Spark's log) goes to work/<name>.log."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java] + [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:ReservedCodeCacheSize=512m", "-Djava.io.tmpdir=" + tmp,
        "-cp", classpath, "perfbench.Main"] + args
    log_path = os.path.join(WORK, name + ".log")
    with open(log_path, "w") as log:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, stdin=subprocess.DEVNULL,
                             text=True, env=_env(), cwd=WORK)
        timer = threading.Timer(max(1.0, deadline - time.monotonic()), p.kill)
        timer.start()
        ready, lines = None, []
        try:
            for line in p.stdout:
                if ready is None and line.startswith("[perfbench] ready"):
                    ready = time.perf_counter() - t0
                lines.append(line.rstrip("\n"))
            rc = p.wait()
        finally:
            timer.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or ready is None:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        raise BenchError("%s JVM failed (exit %d)" % (name, rc))
    return ready, lines


# ---------------------------------------------------------------- checks

def check_etl(tallies, out_dir):
    """Problems found in one runEtl output against the generator's
    tallies; empty when the output is right."""
    bad = []
    with open(os.path.join(out_dir, "insights.json")) as f:
        ins = json.load(f)
    want = tallies["insights"]
    if ins.get("total_loans") != want["total_loans"]:
        bad.append("total_loans %s != %s" % (ins.get("total_loans"), want["total_loans"]))
    got_avg, want_avg = ins.get("avg_loan_amount"), want["avg_loan_amount"]
    if got_avg is None or not math.isclose(got_avg, want_avg, rel_tol=1e-9):
        bad.append("avg_loan_amount %s != %s" % (got_avg, want_avg))
    if ins.get("by_loan_type") != want["by_loan_type"]:
        bad.append("by_loan_type %s != %s" % (ins.get("by_loan_type"), want["by_loan_type"]))
    t = pq.read_table(os.path.join(out_dir, "parquet"))
    if t.num_rows != tallies["rows"]:
        bad.append("parquet rows %d != %d" % (t.num_rows, tallies["rows"]))
    if sorted(t.column_names) != sorted(tallies["columns"]):
        bad.append("parquet columns %s" % t.column_names)
    else:
        for c, n in tallies["nulls_after_fill"].items():
            if t.column(c).null_count != n:
                bad.append("%s nulls %d != %d" % (c, t.column(c).null_count, n))
        # the fill wrote the reference mode into every null: that value's
        # count is its input count plus the input nulls
        for c, m in tallies["per_column"].items():
            if m["mode"] is not None:
                want = m["mode_count_in"] + m["nulls_in"]
                got = pc.sum(pc.equal(t.column(c), m["mode"])).as_py() or 0
                if got != want:
                    bad.append("%s holds %s %d times, not %d" % (c, m["mode"], got, want))
    return bad


def check_lanes(oracle_sql, check_dir, tables_dir, names):
    """Lanes whose parquet output differs from DuckDB running the lane's
    oracle SQL on the same tables, compared as tools/check_oracle.py
    compares them; {lane: reason}."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import TABLES, check_one
    con = duckdb.connect()
    con.sql("SET threads=2")
    con.sql("SET enable_progress_bar=false")
    for t in TABLES:
        con.sql("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, tables_dir, t))
    bad = {}
    for name in names:
        if name not in oracle_sql:
            bad[name] = "no oracle SQL"
            continue
        r = check_one(con, oracle_sql, check_dir, name)
        if r != "OK":
            bad[name] = r
    con.close()
    return bad


# --------------------------------------------------------------- metrics

def p95(xs):
    """95th percentile, linear between the closest ranks."""
    return statistics.quantiles(xs, n=20, method="inclusive")[18] if len(xs) > 1 else xs[0]


def alternative_fills(fills, want):
    """The traced run's alternative mode fills as per-layer metrics, and
    a problem for each fill that threw: that fill reports no time, so a
    throw cannot pass as a measurement. `want` is the reference fill's
    count per planted-tie column."""
    layers, problems = {}, []
    for name, f in sorted(fills.items()):
        if f["error"]:
            problems.append("mode fill %s threw: %s" % (name, f["error"]))
            continue
        layers["ops.modefill_%s_s" % name] = f["seconds"]
        layers["ops.modefill_%s_ties_match" % name] = 1.0 if f["tie_counts"] == want else 0.0
    return layers, problems


def run_etl(classpath, seed, seconds, trace, deadline, setups):
    csv = os.path.join(WORK, "loans.csv")
    tallies = loangen.generate(seed, ETL_ROWS, csv)
    out = os.path.join(WORK, "etl")
    ties = ";".join("%s=%s" % (c, "" if m["value"] is None else m["value"])
                    for c, m in sorted(tallies["tie_modes"].items()))
    ready, lines = launch(classpath, ["--mode", "etl", "--in", csv, "--out", out, "--seconds", str(seconds),
                                      "--trace", str(trace), "--ties", ties], deadline, "etl")
    setups.append(ready)
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    calls = res["calls"]
    errors = [c["error"] for c in calls if c["error"]]
    problems = errors + ([] if errors else check_etl(tallies, out))
    # rows holding the reference fill's value in each tie column (nulls
    # where that value is null)
    want = {c: m["count"] if m["value"] is not None else tallies["nulls_after_fill"][c]
            for c, m in tallies["tie_modes"].items()}
    if trace and res.get("reference_tie_counts") is not None:
        if res["reference_tie_counts"] != want:
            problems.append("reference fill tie counts %s != %s" % (res["reference_tie_counts"], want))
    failed = len(errors) + (1 if problems and not errors else 0)
    attempted = len(calls)
    times = [c["seconds"] for c in calls]
    metrics = {"first_call_s": times[0], "call_p50_s": statistics.median(times), "call_p95_s": p95(times),
               "wall_s": sum(times)}
    layers = dict(res.get("layers", {}))
    if trace:
        in_bytes = os.path.getsize(csv)
        out_bytes = sum(os.path.getsize(f) for f in glob.glob(os.path.join(out, "parquet", "*.parquet")))
        layers["io.out_bytes_per_in_byte"] = out_bytes / in_bytes
        layers["exec.rescan_factor"] = layers.get("exec.input_records", 0) / ETL_ROWS
        fill_layers, fill_problems = alternative_fills(res.get("fills", {}), want)
        layers.update(fill_layers)
        problems += fill_problems
        attempted += len(res.get("fills", {}))
        failed += len(fill_problems)
    return lines, problems, attempted, failed, metrics, layers


def run_lanes(classpath, seed, seconds, trace, deadline, setups):
    """The lanes on the fixed sf0.01 tables; `seed` changes nothing, so
    every seed gives the same inputs."""
    out = os.path.join(WORK, "lanes")
    lanes_file = os.path.join(HERE, "lanes.txt")
    with open(lanes_file) as f:
        names = [l.strip() for l in f if l.strip()]
    ready, lines = launch(classpath, ["--mode", "lanes", "--in", TABLES_DIR, "--out", out, "--seconds",
                                      str(seconds), "--trace", str(trace), "--lanes", lanes_file], deadline, "lanes")
    setups.append(ready)
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    with open(os.path.join(out, "check", "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = {n: "not a SparkEntry.queries lane" for n in res["missing"]}
    for p in [res["cold"]] + res["warm"]:
        for c in p:
            if c["error"]:
                bad.setdefault(c["name"], c["error"])
    ok_names = [n for n in names if n not in bad]
    bad.update(check_lanes(oracle, os.path.join(out, "check"), TABLES_DIR, ok_names))
    problems = ["%s: %s" % kv for kv in sorted(bad.items())]
    per_lane = {}
    for p in res["warm"]:
        for c in p:
            per_lane.setdefault(c["name"], []).append(c["seconds"])
    lane_times = [statistics.median(v) for v in per_lane.values()]
    cold = [c["seconds"] for c in res["cold"]]
    metrics = {"first_call_s": statistics.median(cold), "call_p50_s": statistics.median(lane_times),
               "call_p95_s": p95(lane_times),
               "wall_s": statistics.median([sum(c["seconds"] for c in p) for p in res["warm"]])}
    layers = dict(res["layers"])
    if trace:
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(os.path.join(TABLES_DIR, "*.parquet")))
        layers["exec.rescan_factor"] = layers.get("exec.input_records", 0) / rows
    return lines, problems, len(names), len(bad), metrics, layers


WORKLOADS = {"etl-1m": run_etl, "lanes-sf0.01": run_lanes}


def report(correct, attempted, failed, metrics, trace):
    """The result line: every end-to-end metric untraced, every per-layer
    metric traced; a per-layer metric the workload does not exercise is 0."""
    names = PER_LAYER if trace else END_TO_END
    missing = [] if trace else [k for k in names if k not in metrics]
    if missing:
        raise BenchError("metrics not measured: %s" % missing)
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in names.items()}})


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    try:
        classpath = build()
        deadline = time.monotonic() + RUN_BUDGET_S
        shutil.rmtree(WORK, ignore_errors=True)
        os.makedirs(WORK)
        setups = []
        if not a.trace:
            for i in range(SETUP_PROBES):
                setups.append(launch(classpath, ["--mode", "probe"], deadline, "probe%d" % i)[0])
        lines, problems, attempted, failed, metrics, layers = WORKLOADS[a.workload](
            classpath, a.seed, a.seconds, a.trace, deadline, setups)
        metrics["setup_s"] = statistics.median(setups)
        for l in lines:
            print(l)
        for p in problems:
            print("[perfbench] check failed: " + p)
        print(report(not problems, attempted, failed, {**metrics, **layers}, a.trace))
    except (BenchError, subprocess.TimeoutExpired, OSError) as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
