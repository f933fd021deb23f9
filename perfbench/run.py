#!/usr/bin/env python3
"""graft benchmark: closed-loop workloads over the library's public entry
points, every result checked against the DuckDB oracle.

    python3 perfbench/run.py --workload cypher_read --seed 1 --seconds 10 --trace 0

Builds the program from source (first run only), then runs one driver
JVM with one client thread over the project's test tables in
`perfbench/data`: set-up, one untimed warm-up pass, then a fixed number
of whole passes over the workload's ops in an order set by the seed
(more whole passes only if they end before `--seconds`). The seed also
picks the rows of the connector round trip. `--trace 1` adds a traced
phase after the untraced one and reports the per-layer metrics instead
of the end-to-end ones. Human-readable lines come first; the last line
of stdout is one JSON object with `correct`, `attempted`, `failed` and
`metrics`.
"""
import argparse
import datetime
import decimal
import glob
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

# Input tables (the project's deterministic test data; sf1 ≈ 6 M lineitem
# rows) and timed passes of each workload. The passes are fixed so that
# every run times the same ops, and chosen so that a run times at least
# 40 ops: then `op_tail_s` lies at the 75th percentile or above.
WORKLOADS = {"cypher_read": {"data": "sf0.01", "passes": 3, "connector": False},
             "graph_loops_etl": {"data": "sf0.001", "passes": 8, "connector": True}}
# passes of each phase of a traced run; its metrics are per-op means
TRACED_PASSES = 1
# lineitem rows the connector round trip exports, drawn by the seed
CONNECTOR_ROWS = 5000
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
# Spark task threads. Two, with a C1-only JIT, keep the JVM at about 1.5
# busy CPUs: the op's threads do not queue behind compiler threads, and
# the JIT is done warming up within the warm-up pass. Every op compiles
# new generated classes, so the code cache is enlarged so that it does
# not fill up within a run.
CORES = 2
JIT_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m"]
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


# ---------------------------------------------------------------- oracle

def norm(v):
    """compare.py's normalization: NaN is NULL, floats rounded to 9
    digits with the sign of -0.0 kept; also maps types that differ only
    in representation (timestamps, decimals, lists) to one form."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        r = round(v, 9)
        if r == 0.0 and math.copysign(1.0, r) < 0:
            return "-0.0"
        return int(r) if r.is_integer() and abs(r) < 2 ** 53 else r
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            pairs = [[norm(k), norm(x)] for k, x in zip(v["key"], v["value"])]
            return {"$map": sorted(pairs, key=json.dumps)}
        if set(v) == {"$map"}:
            return {"$map": sorted(([norm(k), norm(x)] for k, x in v["$map"]), key=json.dumps)}
        return {k: norm(x) for k, x in v.items()}
    return str(v)


def canon(rows):
    return sorted((json.dumps([norm(x) for x in r], sort_keys=True) for r in rows))


def oracle_check(results_dir, data_dir, oracle_sql):
    """key -> None when the first timed result matches DuckDB, else why not."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    status = {}
    for path in sorted(glob.glob(os.path.join(results_dir, "*.jsonl"))):
        key = os.path.basename(path)[:-len(".jsonl")]
        if key not in oracle_sql:
            status[key] = "no oracle SQL for this key"
            continue
        with open(path) as fh:
            cols = json.loads(fh.readline())
            got = canon(json.loads(line) for line in fh if line.strip())
        try:
            cur = con.execute(oracle_sql[key])
            ocols = [d[0] for d in cur.description]
            idx = sorted(range(len(ocols)), key=lambda i: ocols[i])
            want = canon([r[i] for i in idx] for r in cur.fetchall())
        except Exception as e:  # noqa: BLE001 - any oracle failure is reported
            status[key] = f"oracle SQL failed: {e}"
            continue
        if sorted(ocols) != cols:
            status[key] = f"columns differ: spark={cols} oracle={sorted(ocols)}"
        elif len(got) != len(want):
            status[key] = f"row count differs: spark={len(got)} oracle={len(want)}"
        elif got != want:
            bad = sum(1 for x, y in zip(got, want) if x != y)
            status[key] = f"{bad}/{len(got)} rows differ"
        else:
            status[key] = None
    return status


# --------------------------------------------------------------- metrics

def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def tail(lat):
    """Highest percentile with at least ten ops beyond it."""
    s = sorted(lat)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    k = n - 10  # k-th smallest has exactly ten ops above it
    return s[k - 1], 100.0 * k / n, n


def input_stats(data_dir):
    import pyarrow.parquet as pq
    return {t: {"rows": pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows,
                "bytes": os.path.getsize(os.path.join(data_dir, f"{t}.parquet"))} for t in TABLES}


def connector_rows(data_dir, seed, path):
    """Writes the seed's sample of lineitem rows as the connector's
    source: [row position, l_orderkey, l_extendedprice, l_returnflag]."""
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(data_dir, "lineitem.parquet"),
                      columns=["l_orderkey", "l_extendedprice", "l_returnflag"]).to_pydict()
    pick = random.Random(seed).sample(range(len(t["l_orderkey"])), CONNECTOR_ROWS)
    with open(path, "w") as fh:
        json.dump([[i, t["l_orderkey"][i], t["l_extendedprice"][i], t["l_returnflag"][i]]
                   for i in pick], fh)


def is_connector(op):
    return op["op"].startswith("neo4j_")


def end_to_end(setup, ph):
    ops = ph["ops"]
    lat = [o["latency_s"] for o in ops]
    t, pct, n = tail(lat)
    m = {"setup_s": (setup["setup_s"], "s"),
         "op_p50_s": (statistics.median(lat), "s"),
         "op_tail_s": (t, "s"),
         "ops_per_s": (ph["ops_per_s"], "1/s"),
         "cpu_s_per_op": (ph["cpu_s_per_op"], "s"),
         "retained_heap_mb": (ph["retained_heap_mb"], "MB")}
    conn = [o for o in ops if is_connector(o)]
    if conn:
        neo = ph["neo4j"]
        m["connector_rows_per_s"] = ((neo["rows_written"] + neo["rows_read"])
                                     / sum(o["latency_s"] for o in conn), "rows/s")
    return m, pct, n


def per_layer(setup, ph, base_ops_per_s):
    ops = ph["ops"]
    q = [o for o in ops if not is_connector(o)]
    conn = [o for o in ops if is_connector(o)]
    neo = ph["neo4j"]
    # neo4j figures are per connector round trip (one write, one read)
    trips = max(1, sum(1 for o in conn if o["op"] == "neo4j_write"))
    moved = neo["rows_written"] + neo["rows_read"]
    calls = sum(o.get("rule_calls", 0) for o in ops)
    jobs = sum(o["jobs"] for o in ops)
    conn_s = sum(o["latency_s"] for o in conn)

    def avg(k, xs=ops):
        return mean(o.get(k, 0.0) for o in xs)
    m = {
        "setup.session_s": (setup["session_s"], "s"),
        "setup.inputs_s": (setup["inputs_s"], "s"),
        "setup.warmup_s": (setup["warmup_s"], "s"),
        "cypher.build_s": (avg("build_s", q), "s"),
        "cypher.build_jobs": (avg("build_jobs", q), "count"),
        "catalyst.analysis_s": (avg("analysis_s"), "s"),
        "catalyst.optimize_s": (avg("optimize_s"), "s"),
        "catalyst.physical_s": (avg("physical_s"), "s"),
        "plans.rule_s": (avg("rule_s"), "s"),
        "plans.rule_calls": (avg("rule_calls"), "count"),
        "plans.rule_effective_ratio": (
            sum(o.get("rule_effective", 0) for o in ops) / calls if calls else 0.0, "ratio"),
        "spark.input_rows": (avg("input_rows"), "count"),
        "spark.input_mb": (avg("input_mb"), "MB"),
        "spark.jobs": (avg("jobs"), "count"),
        "spark.stages": (avg("stages"), "count"),
        "spark.tasks": (avg("tasks"), "count"),
        "spark.job_active_s": (avg("job_active_s"), "s"),
        "spark.ms_per_job": (1e3 * sum(o["latency_s"] for o in ops) / jobs if jobs else 0.0, "ms"),
        "spark.sched_delay_s": (avg("sched_delay_s"), "s"),
        "spark.task_run_s": (avg("task_run_s"), "s"),
        "spark.task_cpu_s": (avg("task_cpu_s"), "s"),
        "spark.task_gc_s": (avg("task_gc_s"), "s"),
        "spark.shuffle_write_mb": (avg("shuffle_write_mb"), "MB"),
        "spark.shuffle_read_mb": (avg("shuffle_read_mb"), "MB"),
        "spark.spill_mb": (avg("spill_mb"), "MB"),
        "spark.result_rows": (avg("rows"), "count"),
        "frames.persisted_rdds": (avg("persisted_rdds"), "count"),
        "frames.leaked_rdds": (sum(o["leaked_rdds"] for o in ops), "count"),
        "frames.storage_mb": (avg("storage_mb"), "MB"),
        "artifacts.builds": (sum(o["artifact_builds"] for o in ops), "count"),
        "codegen.compiles": (avg("codegen_compiles"), "count"),
        "codegen.compile_s": (avg("codegen_compile_s"), "s"),
        "driver.only_s": (avg("driver_only_s"), "s"),
        "jvm.gc_s": (avg("jvm_gc_s"), "s"),
        "neo4j.requests": (neo["requests"] / trips, "count"),
        "neo4j.request_mb": (neo["request_bytes"] / 1048576 / trips, "MB"),
        "neo4j.response_mb": (neo["response_bytes"] / 1048576 / trips, "MB"),
        "neo4j.rows_written": (neo["rows_written"] / trips, "count"),
        "neo4j.rows_read": (neo["rows_read"] / trips, "count"),
        "neo4j.rows_per_request": (moved / neo["requests"] if neo["requests"] else 0.0, "count"),
        "neo4j.server_s": (neo["busy_ns"] / 1e9 / trips, "s"),
        "neo4j.client_s": ((conn_s - neo["busy_ns"] / 1e9) / trips, "s"),
        "neo4j.failed_requests": (neo["failed_requests"], "count"),
        "connector_rows_per_s": (moved / conn_s if conn_s else 0.0, "rows/s"),
        "check.mismatches": (sum(1 for o in ops if "error" in o), "count"),
        "self.build_s": (avg("self_build_s"), "s"),
        "self.execute_s": (avg("self_execute_s"), "s"),
        "self.spark_job_s": (avg("self_spark_job_s"), "s"),
        "self.neo4j_s": (avg("self_neo4j_s"), "s"),
        "trace.overhead": (ph["ops_per_s"] / base_ops_per_s, "ratio"),
    }
    return m


def job_counts(ph):
    """key -> sorted set of (jobs, stages) seen across passes."""
    seen = {}
    for o in ph["ops"]:
        seen.setdefault(o["op"], set()).add((o["jobs"], o["stages"]))
    return {k: sorted(v) for k, v in sorted(seen.items())}


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    w = WORKLOADS[a.workload]
    data_dir = os.path.join(HERE, "data", w["data"])
    if not os.path.isdir(data_dir):
        sys.exit(f"perfbench: input tables missing: {data_dir}")
    classpath = build.build()
    cores = min(CORES, len(os.sched_getaffinity(0)))
    passes = TRACED_PASSES if a.trace else w["passes"]
    t0 = time.time()  # set-up starts: inputs, session, warm-up
    run_dir = os.path.join(build.BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out_dir, tmp_dir = (os.path.join(run_dir, d) for d in ("out", "tmp"))
    for d in (out_dir, tmp_dir):
        os.makedirs(d)
    rows_path = os.path.join(run_dir, "connector_rows.json")
    try:
        if w["connector"]:
            connector_rows(data_dir, a.seed, rows_path)
        inputs_s = time.time() - t0
        launch = time.time()
        cmd = (["java", "-XX:-UsePerfData", "-Xmx2g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp_dir}"]
               + JIT_FLAGS
               + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
               + ["-cp", classpath, "perfbench.Main",
                  "--workload", a.workload, "--data", data_dir, "--out", out_dir,
                  "--seed", str(a.seed), "--seconds", str(a.seconds), "--passes", str(passes),
                  "--connector-rows", rows_path if w["connector"] else "",
                  "--trace", str(a.trace), "--cores", str(cores), "--local-dir", tmp_dir,
                  "--t0-ms", str(int(t0 * 1000)), "--launch-ms", str(int(launch * 1000)),
                  "--inputs-s", repr(inputs_s)])
        log_path = os.path.join(run_dir, "jvm.log")
        with open(log_path, "w") as log:
            try:
                r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                   timeout=JVM_TIMEOUT_S, cwd=run_dir)
            except subprocess.TimeoutExpired:
                sys.exit(f"perfbench: driver JVM exceeded {JVM_TIMEOUT_S} s")
        if r.returncode != 0:
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-8000:])
            sys.exit(f"perfbench: driver JVM failed (exit {r.returncode})")
        with open(os.path.join(out_dir, "jvm.json")) as fh:
            res = json.load(fh)
        oracle = oracle_check(os.path.join(out_dir, "results"), data_dir, res["oracle_sql"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # an op whose key fails the oracle is wrong; its own check only
    # compared it with the first run of the same key
    phases = [res["untraced"]] + ([res["traced"]] if "traced" in res else [])
    for ph in phases:
        for o in ph["ops"]:
            why = oracle.get(o["op"])
            if "error" not in o and why:
                o["error"] = f"oracle mismatch: {why}"
    attempted = sum(len(ph["ops"]) for ph in phases)
    failed = sum(1 for ph in phases for o in ph["ops"] if "error" in o)
    setup = res["setup"]
    stats = input_stats(data_dir)

    print(f"workload {a.workload}  seed {a.seed}  local[{cores}]  inputs "
          + ", ".join(f"{t}={s['rows']} rows/{s['bytes']} B" for t, s in sorted(stats.items())))
    e2e, pct, n = end_to_end(setup, res["untraced"])
    if not a.trace:  # a traced run's untraced phase is too short for a tail
        for k, (v, unit) in e2e.items():
            extra = f"  (p{pct:.1f} of n={n} ops)" if k == "op_tail_s" else ""
            print(f"{k:22s} {v:14.6f} {unit}{extra}")
    print(f"error_rate {failed / attempted:.6f} ({failed} of {attempted} ops)")
    print(f"passes {res['untraced']['passes']}  ops {len(res['untraced']['ops'])}  "
          f"oracle keys checked {sum(1 for v in oracle.values() if v is None)}/{len(oracle)}")
    for w in setup["warmup_errors"]:
        print(f"warm-up error: {w}")
    bad = {}
    for ph in phases:
        for o in ph["ops"]:
            if "error" in o:
                bad.setdefault(o["op"], o["error"])
    for k, why in sorted(bad.items()):
        print(f"FAILED {k}: {why}")

    if a.trace:
        tr = res["traced"]
        layers = per_layer(setup, tr, res["untraced"]["ops_per_s"])
        for k, (v, unit) in layers.items():
            print(f"{k:28s} {v:14.6f} {unit}")
        gap = max(abs(o["self_build_s"] + o["self_execute_s"] + o["self_spark_job_s"]
                      + o["self_neo4j_s"] - o["latency_s"]) for o in tr["ops"])
        print(f"largest |sum of self times - op wall time| over ops: {gap:.9f} s")
        for k, seen in job_counts(tr).items():
            flag = "" if len(seen) == 1 else "  DIFFERS ACROSS PASSES"
            print(f"jobs/stages {k:32s} {seen}{flag}")
        metrics = layers
    else:
        metrics = {k: v for k, v in e2e.items() if k != "connector_rows_per_s"}

    report_dir = os.path.join(build.BUILD, "reports")
    os.makedirs(report_dir, exist_ok=True)
    with open(os.path.join(report_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump({"inputs": stats, "oracle": oracle, "jvm": res}, fh)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
