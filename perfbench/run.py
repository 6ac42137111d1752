#!/usr/bin/env python3
"""graft benchmark: run one workload for one seed and print its metrics.

    python3 perfbench/run.py --workload <etl_load|llm_iterative> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the harness
(perfbench/build.py, which compiles graft from the checkout's sources with
scalac) into perfbench/target; later runs reuse it while the sources are
unchanged. Each run works in its own directory under
perfbench/.work (staging root, java.io.tmpdir, Spark local dir, checkpoints),
compares every result against its reference model or DuckDB, deletes the
directory, and fails if anything is left behind.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
With --trace 1 the spans of the traced half are written to
perfbench/traces/<workload>-seed<n>.jsonl. Exit code 0 only when every
result is correct.
"""
import argparse
import datetime
import decimal
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave no __pycache__ behind in the checkout
sys.path.insert(0, BENCH)
import build  # noqa: E402
import corpus  # noqa: E402

WORKLOADS = ("etl_load", "llm_iterative")
LLM_SCALE = 0.25  # llm_iterative's corpus: a quarter of the sf0.01 row counts

END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "op_p50_ms": "ms", "op_p90_ms": "ms",
    "rows_per_s": "rows/s", "space_amp": "ratio", "live_heap_mb": "MB",
}
LLM_NAMES = ("graph_cc_raw", "graph_pagerank_raw", "ann_graph_search", "ann_sq8",
             "dedup_minhash_lsh", "dedup_embedding")
PER_LAYER = {
    "sources.csv_read_ms": "ms", "sources.csv_rows": "rows",
    "functions.transform_ms": "ms",
    "streaming.epoch_ms": "ms", "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.overhead_ms": "ms",
    "sources.v2.stage_write_ms": "ms", "sources.v2.delete_ms": "ms",
    "sources.v2.compact_ms": "ms", "sources.v2.compact_bytes_rewritten": "bytes",
    "sources.v2.files_added": "count", "sources.v2.dv_files": "count",
    "sources.v2.eq_files": "count", "sources.v2.table_bytes": "bytes",
    "sources.v2.scan_partitions": "count", "sources.v2.table_partitions": "count",
    "sources.v2.rows_read_per_row_returned": "ratio",
    "spark.plan.analysis_ms": "ms", "spark.plan.optimization_ms": "ms",
    "spark.plan.planning_ms": "ms",
    "spark.jobs.count": "count", "spark.jobs.busy_ms": "ms", "spark.driver.gap_ms": "ms",
    "spark.stages.count": "count", "spark.tasks.count": "count",
    "spark.tasks.cpu_ms": "ms", "spark.tasks.gc_ms": "ms",
    "spark.shuffle.read_bytes": "bytes", "spark.shuffle.write_bytes": "bytes",
    "spark.spill.bytes": "bytes", "spark.input.rows": "rows",
    "spark.input.bytes": "bytes", "spark.output.bytes": "bytes",
    "queries.build_ms": "ms", "queries.action_ms": "ms",
    **{f"queries.build_ms.{q}": "ms" for q in LLM_NAMES},
    **{f"queries.action_ms.{q}": "ms" for q in LLM_NAMES},
    "core.artifact_builds": "count", "trace.overhead_frac": "ratio",
}

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# library's own build passes to its forked runs).
ADD_OPENS = [
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


def canon(v):
    """One value in the form both engines' rows are compared in."""
    if isinstance(v, float):
        return str(round(v, 9))
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, decimal.Decimal):
        return str(round(float(v), 9))
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(canon(x) for x in v) + "]"
    return str(v)


def norm(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(canon(r[i]) for i in order) for r in rel.fetchall())
    return [cols[i] for i in order], rows


def duckdb_compare(res):
    """Keys whose Spark result differs from the DuckDB oracle, with a reason."""
    if not res["checks"]:
        return {}
    import duckdb
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    con.sql("SET threads = 2")
    for name, src in res["views"]:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    bad = {}
    for c in res["checks"]:
        s_cols, s_rows = norm(con.sql(f"SELECT * FROM read_parquet('{c['result']}/*.parquet')"))
        try:
            d_cols, d_rows = norm(con.sql(c["oracle"]))
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[c["key"]] = f"oracle error: {str(e)[:200]}"
            continue
        if s_cols != d_cols:
            bad[c["key"]] = f"columns {s_cols} != {d_cols}"
        elif s_rows != d_rows:
            s, d = set(s_rows), set(d_rows)
            bad[c["key"]] = (f"{len(s_rows)} vs {len(d_rows)} rows; spark-only "
                             f"{list(s - d)[:2]} duckdb-only {list(d - s)[:2]}")
    con.close()
    return bad


def leftovers(root, before):
    """Entries of the checkout root that the run created and left behind."""
    return sorted(set(os.listdir(root)) - before)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"not a graft checkout (no {need} in {root}); run from the repository root")
    before = set(os.listdir(root))
    try:
        cp = build.build(root, log)
    except build.BuildError as e:
        fail(f"harness build failed: {e}")

    work = os.path.join(BENCH, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    spans = os.path.join(BENCH, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    gen_s = 0.0
    if args.workload == "llm_iterative":
        data = os.path.join(work, "corpus")
        os.makedirs(data)
        t0 = time.time()
        corpus.write(data, args.seed, LLM_SCALE)
        gen_s = time.time() - t0
        cmd_extra = ["--corpus", data]
    else:
        cmd_extra = []
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        cpus = os.cpu_count() or 1
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
              f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}",
              "-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out]
           + (["--spans", spans] if args.trace else []) + cmd_extra)
    jvm_log = os.path.join(work, "jvm.log")
    try:
        with open(jvm_log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=args.seconds + 150)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(out):
            with open(jvm_log, errors="replace") as fh:
                log(f"harness exited with {rc}:\n{fh.read()[-3000:]}")
            sys.exit(1)
        with open(out) as fh:
            res = json.load(fh)
        bad = duckdb_compare(res)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    left = leftovers(root, before)
    if os.path.exists(work):
        left.append(os.path.relpath(work, root))
    try:
        os.rmdir(os.path.join(BENCH, ".work"))
    except OSError:
        pass

    phases = res["phases"]
    attempted = sum(len(p["lat_ms"]) for p in phases)
    failed = 0
    for p in phases:
        for key, ok in zip(p["keys"], p["ok"]):
            failed += (not ok) or any(k in bad for k in key.split(","))
        for n in p["notes"]:
            log(f"failed {n}")
    for key, why in bad.items():
        log(f"DuckDB mismatch {key}: {why}")
    for e in res["verify_errors"]:
        log(f"model check: {e}")
    if left:
        log(f"run left bytes behind: {left}")
    correct = failed == 0 and not res["verify_errors"] and not left
    if not correct:
        failed = max(failed, 1)

    plain = next(p for p in phases if not p["traced"])
    lat = plain["lat_ms"]
    log(f"{args.workload} seed {args.seed}: {len(lat)} timed operations "
        f"({attempted} in all), setup {res['setup_s'] + gen_s:.2f} s, "
        f"latencies ms {[round(x) for x in lat]}")
    if args.trace == 0:
        values = {
            "setup_s": res["setup_s"] + gen_s,
            "ops_per_s": len(lat) / plain["elapsed_s"],
            "op_p50_ms": statistics.median(lat),
            # nearest rank: the 90th percentile is a latency that was measured
            "op_p90_ms": sorted(lat)[math.ceil(0.9 * len(lat)) - 1],
            "rows_per_s": plain["rows"] / plain["elapsed_s"],
            "space_amp": res["space_amp"],
            "live_heap_mb": res["live_heap_mb"],
        }
        units = END_TO_END
    else:
        values = {k: res["layers"].get(k, 0.0) for k in PER_LAYER}
        units = PER_LAYER
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
