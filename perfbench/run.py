#!/usr/bin/env python3
"""Benchmark of the graft engine: acked pub/sub, stream drains, batch queries.

    python3 perfbench/run.py --workload pubsub|stream_drains|batch_queries \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the benchmark's JVM
package with sbt on first use (cached under .bench_build/), generates the
inputs from the seed, runs the workload in one JVM, checks its outputs and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones; a traced run also leaves its spans and raw
measurements in .bench_build/traces/. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("pubsub", "stream_drains", "batch_queries")
# tables each query workload reads (the st drains read only events)
WORKLOAD_TABLES = {"stream_drains": ("events",)}
# seconds allowed to a build, and to the rest of a run after it
BUILD_LIMIT_S = 840
RUN_LIMIT_S = 175
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Files whose content decides the build."""
    need = [os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "src", "main", "scala", "graft")]
    missing = [p for p in need if not os.path.exists(p)]
    if missing:
        fail("the engine's sources are missing: " + ", ".join(
            os.path.relpath(p, ROOT) for p in missing))
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += glob.glob(os.path.join(base, "*.sbt"))
        files += glob.glob(os.path.join(base, "*.properties"))
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def wait_group(proc, timeout):
    """Wait for a process started in its own session; on timeout or
    interrupt, kill its whole process group and wait for it."""
    try:
        return proc.wait(timeout=max(timeout, 1))
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build():
    """The JVM classpath, building first if the sources changed."""
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got.get("sources") == digest:
            return got["classpath"]
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        code = wait_group(subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"-Djava.io.tmpdir={tmp}", "benchClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True), BUILD_LIMIT_S)
    cp_file = os.path.join(HERE, "target", "bench-classpath.txt")
    if code != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {code}); see {log}", 3)
    with open(cp_file) as f:
        cp = f.read().strip()
    with open(stamp, "w") as f:
        json.dump({"sources": digest, "classpath": cp}, f)
    return cp


def run_jvm(cp, args, run_dir, data, out, deadline):
    """One workload in one JVM, killed at `deadline`; returns its
    result.json."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(out)
    env = dict(os.environ)
    env["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "scratch")
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dgraft.stage.ns={os.path.basename(run_dir)}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", data, "--out", out])
    limit = deadline - time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        code = wait_group(subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True), limit)
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"the workload's JVM exited with {code}:\n{tail}", 4)
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def check_pubsub(data, out, result):
    import numpy as np
    import checks
    numbers = [int(x) for x in open(os.path.join(data, "numbers.txt"))]
    bulk = [int(x) for x in open(os.path.join(data, "bulk.txt"))]
    with open(os.path.join(out, "pubsub.json")) as f:
        ps = json.load(f)
    subs = [(np.fromfile(os.path.join(out, "bulk", f"ids{k}.bin"), "<i8"),
             s["count"], s["sum"]) for k, s in enumerate(ps["bulk_subscribers"])]
    sends = len(ps["acks"])
    # every round sends the generated numbers once each, in file order
    sent = [numbers[k % len(numbers)] for k in range(sends)]
    # each send is seen by 4 filters and, once derived, by the collector
    want_rows = 5 * sends + len(subs) * len(bulk) * len(ps["bulk_starts"])
    return (checks.check_acked_sends(sent, ps["acks"],
                                     ps["collected"]["roots"],
                                     ps["collected"]["classes"]) +
            checks.check_fanout(bulk, ps["bulk_starts"], subs) +
            checks.check_totals("rows seen by handlers vs expected",
                                ps["handler_rows"], want_rows) +
            checks.check_totals("rows seen by handlers vs progress numInputRows",
                                ps["handler_rows"], ps["progress_rows"]))


# drains that read one table once, with one action per batch: the rows
# their progress reports must equal that table's row count
SINGLE_SOURCE = {"st2_stream_dedup_keys": "events"}


def check_queries(data, out):
    """Problems found, and per query the rows of the tables its oracle SQL
    reads, each table counted once."""
    import duckdb
    import checks
    with open(os.path.join(out, "oracle.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(out, "checks.json")) as f:
        ran = json.load(f)
    con = duckdb.connect()
    table_rows = {}
    for f in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
        table_rows[t] = con.sql(f"SELECT count(*) FROM {t}").fetchone()[0]
    bad, query_rows = [], {}
    for name, sql in oracle.items():
        if sql is not None:
            query_rows[name] = sum(table_rows.get(t, 0)
                                   for t in duckdb.get_table_names(sql))
        if not ran["ok"].get(name):
            continue  # counted as failed by the run itself
        if sql is None:
            bad.append(f"{name}: no oracle SQL")
            continue
        try:
            want = con.sql(sql)
            want_cols, want_rows = want.columns, want.fetchall()
            files = os.path.join(out, "results", name, "*.parquet")
            got = con.sql(f"SELECT * FROM read_parquet('{files}')")
            got_cols, got_rows = got.columns, got.fetchall()
        except duckdb.Error as e:
            bad.append(f"{name}: {e}")
            continue
        bad += checks.check_result(name, got_cols, got_rows,
                                   want_cols, want_rows)
        if name in SINGLE_SOURCE:
            table = SINGLE_SOURCE[name]
            bad += checks.check_totals(
                f"{name}: progress numInputRows vs {table} rows",
                ran["progress_input_rows"][name], table_rows[table])
    return bad, query_rows


def query_rows_per_s(result, query_rows):
    """Input rows per second of query time: each successful run of a
    query counts the rows of the tables it reads, fixed by the inputs,
    so rows the engine reads twice or skips do not move the figure."""
    rows = ms = 0.0
    for name, times in result["per_query_ms"].items():
        rows += len(times) * query_rows.get(name, 0)
        ms += sum(times)
    return rows / (ms / 1000) if ms else 0.0


def metrics(result, setup_s, trace, spec):
    rounds = max(result["rounds"], 1)
    if trace:
        layer = result["per_layer"]
        return {m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                            "unit": m["unit"]} for m in spec["per_layer"]}
    values = {
        "setup_s": setup_s,
        "cpu_s": result["cpu_s"] / rounds,
        "retained_heap_mb": result["retained_heap_mb"],
        "spark_jobs": result["exec"]["jobs"] / rounds,
        "op_geomean_ms": (math.exp(statistics.fmean(
            math.log(x) for x in result["op_ms"])) if result["op_ms"] else 0.0),
        "round_s": statistics.median(result["round_s"]),
        "rows_per_s": result["rows_per_s"],
    }
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]}


def cleanup(run_dir, data):
    """Remove the run's directory and the fixtures the engine staged for
    it outside the checkout (StreamingOps stages under /tmp, keyed by the
    input directory's path)."""
    key = re.sub(r"[^A-Za-z0-9.]", "_", data)
    for p in glob.glob("/tmp/graft-*"):
        if p.endswith(key):
            shutil.rmtree(p, ignore_errors=True)
    shutil.rmtree(run_dir, ignore_errors=True)


def main():
    # a terminated benchmark must not leave its JVM or sbt behind: turn
    # SIGTERM/SIGHUP into an exception that wait_group() handles
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda n, _: sys.exit(128 + n))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json is missing")
    with open(spec_path) as f:
        spec = json.load(f)
    t_build = time.time()
    cp = build()
    build_s = time.time() - t_build
    sys.path.insert(0, HERE)
    import gendata

    run_dir = os.path.join(BUILD, "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    try:
        if args.workload == "pubsub":
            gendata.pubsub_inputs(data, args.seed)
        else:
            gendata.tables(data, args.seed,
                           WORKLOAD_TABLES.get(args.workload, gendata.TABLES))
        t_jvm = time.time()
        # the build has its own budget; the run's starts after it
        result = run_jvm(cp, args, run_dir, data, out,
                         START + build_s + RUN_LIMIT_S)
        t_exit = time.time()
        setup_s = result["ready_ms"] / 1000.0 - START - build_s
        if args.workload == "pubsub":
            bad = check_pubsub(data, out, result)
        else:
            bad, query_rows = check_queries(data, out)
            result["rows_per_s"] = query_rows_per_s(result, query_rows)
        tally = result["tally"]
        ready = result["ready_ms"] / 1000.0
        print(f"perfbench: inputs {t_jvm - START - build_s:.1f} s, JVM start "
              f"to first timed operation {ready - t_jvm:.1f} s, timed "
              f"{result['timed_s']:.1f} s, then JVM exit after "
              f"{t_exit - ready - result['timed_s']:.1f} s, checks "
              f"{time.time() - t_exit:.1f} s", file=sys.stderr)
        print(f"perfbench: {result['rounds']} timed rounds in "
              f"{result['timed_s']:.1f} s; the host stole "
              f"{100 * result['steal_share']:.0f}% of CPU time meanwhile; "
              f"JIT {result['jit_ms']} ms, GC {result['jvm_gc_ms']} ms",
              file=sys.stderr)
        if tally["errors"]:
            print("perfbench: failed operations: " +
                  json.dumps(tally["errors"]), file=sys.stderr)
        for b in bad:
            print(f"perfbench: check failed: {b}", file=sys.stderr)
        if args.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(out, "trace.json"), os.path.join(
                traces, f"{args.workload}-seed{args.seed}-{int(START)}.json"))
        line = {"correct": not bad,
                "attempted": int(tally["attempted"]),
                "failed": int(tally["failed"]),
                "metrics": metrics(result, setup_s, args.trace, spec)}
    finally:
        cleanup(run_dir, data)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
