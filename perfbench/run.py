#!/usr/bin/env python3
"""Benchmark for the graft engine: the reference's daily replication job,
and a serving mix of dashboard queries, reference-parity queries and heavy
corpus kernels.

Usage (from the repository root):

    python3 perfbench/run.py --workload replicate_daily --seed 1 \
        --seconds 15 --trace 0

Builds the engine plus the benchmark's Scala code from source with sbt (once
per source state, under .bench_build/), generates the workload's inputs from
the seed, runs one benchmark JVM on local[4], checks the outputs with DuckDB
and prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

DEADLINE_S = 170  # every run must end within 180 s once built

REPLICATION = dict(
    anchor="2025-06-29 00:00:00", months=32, history_rows=1_000_000,
    users=3000, dashboards=300, days=60, delta_rows=1000, reemit_share=0.1,
    late_share=0.05, null_ts_rows=10, null_share=0.05, user_updates=30,
    dash_updates=6, retention_months=30, ttl_hours=12)

# serve_queries: fixture scale (sf, documents, embeddings), and the history
# of the lake it serves (same generator, no daily deltas).
FIXTURES = (0.01, 500, 500)
SERVE_HISTORY_ROWS = 40_000
WORKLOADS = ("replicate_daily", "serve_queries")

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Xmx2g", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = sorted(glob.glob(f"{ROOT}/src/main/scala/**/*.scala", recursive=True))
    if not files:
        die("engine sources (src/main/scala) not found; run from the repository root")
    return files + sorted(glob.glob(f"{HERE}/src/**/*.scala", recursive=True)) + [
        f"{HERE}/build.sbt", f"{HERE}/project/build.properties"]


def build(build_dir):
    """Compile engine + benchmark with sbt; cache the classpath by source hash."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = f"{build_dir}/classpath.txt"
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    home = os.path.expanduser("~")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", "-Dsbt.override.build.repos=true"]
    if os.path.exists(f"{home}/.sbt/repositories"):
        cmd.append(f"-Dsbt.repository.config={home}/.sbt/repositories")
    env = dict(os.environ, COURSIER_MODE="offline")
    os.makedirs(build_dir, exist_ok=True)
    with open(f"{build_dir}/sbt.log", "w") as log:
        p = subprocess.run(cmd + ["export Runtime/fullClasspath"], cwd=HERE,
                           env=env, stdout=subprocess.PIPE, stderr=log,
                           text=True, timeout=800)
        log.write(p.stdout)
    cps = [ln for ln in p.stdout.splitlines() if "scala-2.13/classes" in ln
           and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        die(f"build failed (see {build_dir}/sbt.log)")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cps[-1].strip())
    return cps[-1].strip()


def generate(workload, seed, inp):
    import gen
    cfg = dict(REPLICATION)
    if workload == "serve_queries":
        gen.fixtures(f"{inp}/fx", seed, *FIXTURES)
        cfg["days"] = 0  # the served lake is the cold load of the history
        cfg["history_rows"] = SERVE_HISTORY_ROWS
    gen.replication(f"{inp}/rep", seed, cfg)


def run_jvm(cp, workload, inp, out, seconds, trace, seed, work, t_start):
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out, exist_ok=True)
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           f"-Dderby.system.home={work}", "-cp", cp, "perfbench.Main",
           workload, inp, out, str(seconds), str(trace), str(seed)]
    with open(f"{work}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            p.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"benchmark JVM timed out (see {work}/jvm.log)")
    if p.returncode != 0 or not os.path.exists(f"{out}/result.json"):
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"benchmark JVM failed with code {p.returncode}")
    with open(f"{out}/result.json") as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run_checks(workload, rec, inp, out):
    """Untimed output checks: {check name: why it failed}, empty if all pass."""
    import duckdb
    import checks
    con = duckdb.connect()
    failed = {}
    dump = f"{out}/dump"
    counts = checks.expected_lake(con, f"{inp}/rep", rec["anchor"],
                                  rec["last_day"], REPLICATION["retention_months"])
    for d in checks.check_days(counts, rec["loaded"]):
        failed[f"day_{d}"] = "committed rows differ from the replay"
    if workload == "replicate_daily":
        why = checks.compare_in_db(con, f"{dump}/lake_logs_final",
                                   "SELECT * FROM exp_logs")
        if why:
            failed["lake_logs_final"] = why
        return failed
    checks.fixture_views(con, f"{inp}/fx")
    failed.update({k: v for k, v in checks.oracle_entries(con, dump).items() if v})
    recent = checks.day_now(rec["anchor"], rec["last_day"] - 30)
    for name, sql in checks.LAKE_QUERIES.items():
        why = checks.compare(con, f"{dump}/{name}", sql.format(recent=recent))
        if why:
            failed[name] = why
    return failed


def end_to_end(rec, setup_s):
    lat = [o["sec"] for o in rec["ops"]]
    return {
        "setup_s": (setup_s, "s"),
        "op_s_p50": (median(lat), "s"),
        "ops_per_s": (len(lat) / rec["timed_s"], "1/s"),
        "heap_peak_mb": (rec["heap_peak_mb"], "MiB"),
    }


QUERY_FAMILIES = ("tpch", "relational", "window", "dict_scd", "lake")
KERNEL_FAMILIES = ("dedup", "ann", "graph", "embed", "text")
COUNTERS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
            "input_rows", "input_bytes", "output_bytes")


def per_layer(workload, rec):
    """Layer metrics from a traced run; a layer a workload bypasses reads 0."""
    ops = rec["ops"]
    c = {k: sum(o.get(k, 0) for o in ops) for k in COUNTERS}
    busy = sum(o["sec"] for o in ops)
    passes = max(1, len({o["pass"] for o in ops}))
    days = rec.get("days", [])
    m = {k: 0.0 for k in LAYER_UNITS}

    def per_op(key):
        return c[key] / max(1, len(ops))

    m.update({
        "spark.task_cpu_s": per_op("task_cpu_s"),
        "spark.gc_s": per_op("gc_s"),
        "spark.shuffle_write_bytes": per_op("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": per_op("shuffle_read_bytes"),
        "spark.spill_bytes": per_op("spill_bytes"),
        "spark.slot_idle_frac": 1 - c["task_run_s"] / (busy * 4),
        "spark.codegen_fallbacks": rec["codegen_fallbacks"],
        "spark.cached_rdds_left": max(o["cached_rdds"] for o in ops),
        "trace.overhead_frac": rec["trace_overhead_s"] / rec["timed_s"],
        "pipeline.cold_load_s": rec["cold_load_s"],
    })
    gets, loads = rec["dict_gets"], rec["dict_loads"]
    if gets:
        m["pipeline.dict_hit_ratio"] = (gets - loads) / gets
    if rec.get("lake_files"):
        rows = rec.get("lake_rows") or (days[-1]["lake_rows_after"] if days else 0)
        m["sources.lake_files"] = rec["lake_files"]
        m["sources.lake_bytes_per_row"] = rec["lake_bytes"] / max(1, rows)
    if workload == "replicate_daily":
        expired = sum(d["lake_rows_before"] - d["lake_rows_after"] for d in days)
        delta = sum(d["delta_rows"] for d in days)
        m.update({
            "pipeline.load_s": median([d["load_s"] for d in days]),
            "pipeline.retention_s": median([d["retention_s"] for d in days]),
            "pipeline.retention_rows_rewritten_per_expired":
                sum(d["lake_rows_after"] for d in days) / max(1, expired),
            "pipeline.watermark_s": median([d["watermark_s"] for d in days]),
            "pipeline.dict_reload_s": median(
                [d["dict_s"] for d in days if d["dict_reloaded"]]),
            "spark.jobs_per_day": per_op("jobs"),
            "spark.input_rows_per_delta_row": c["input_rows"] / max(1, delta),
            "spark.input_bytes_per_day": per_op("input_bytes"),
            "spark.output_bytes_per_day": per_op("output_bytes"),
        })
        return {k: (v, LAYER_UNITS[k]) for k, v in m.items()}
    m.update({
        "pipeline.read_deduped_s": median(rec["read_deduped_s"]),
        "queries.plan_s": median([o["plan_s"] for o in ops]),
        "queries.exec_s": median([o["sec"] - o["plan_s"] for o in ops]),
        "spark.exchanges_per_query": statistics.mean(o["exchanges"] for o in ops),
        "spark.stages_per_query": per_op("stages"),
        "spark.tasks_per_query": per_op("tasks"),
        "operators.ann_recall_at_5": statistics.mean(rec["recall"].values()),
        "setup.index_build_s": rec["index_build_s"],
    })
    for fam in QUERY_FAMILIES:
        m[f"queries.{fam}_s"] = sum(
            o["sec"] for o in ops if o["family"] == fam) / passes
    for fam in KERNEL_FAMILIES:
        m[f"operators.{fam}_s"] = sum(
            o["sec"] for o in ops if o["family"] == fam) / passes
    return {k: (v, LAYER_UNITS[k]) for k, v in m.items()}


LAYER_UNITS = {
    "pipeline.cold_load_s": "s", "pipeline.load_s": "s",
    "pipeline.retention_s": "s",
    "pipeline.retention_rows_rewritten_per_expired": "ratio",
    "pipeline.watermark_s": "s", "pipeline.dict_reload_s": "s",
    "pipeline.dict_hit_ratio": "ratio", "pipeline.read_deduped_s": "s",
    "spark.jobs_per_day": "count", "spark.input_rows_per_delta_row": "ratio",
    "spark.input_bytes_per_day": "bytes", "spark.output_bytes_per_day": "bytes",
    "sources.lake_files": "count", "sources.lake_bytes_per_row": "bytes",
    "queries.plan_s": "s", "queries.exec_s": "s",
    "spark.exchanges_per_query": "count", "spark.stages_per_query": "count",
    "spark.tasks_per_query": "count",
    "queries.tpch_s": "s", "queries.relational_s": "s", "queries.window_s": "s",
    "queries.dict_scd_s": "s", "queries.lake_s": "s",
    "operators.dedup_s": "s", "operators.ann_s": "s", "operators.graph_s": "s", "operators.embed_s": "s",
    "operators.text_s": "s", "operators.ann_recall_at_5": "ratio",
    "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.slot_idle_frac": "ratio",
    "spark.codegen_fallbacks": "count", "spark.cached_rdds_left": "count",
    "setup.index_build_s": "s", "trace.overhead_frac": "ratio",
}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    build_dir = os.path.join(ROOT, ".bench_build", "perfbench")
    cp = build(build_dir)

    work = f"{build_dir}/runs/{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    inp, out = f"{work}/in", f"{work}/out"
    done = False
    try:
        t0 = time.time()
        generate(a.workload, a.seed, inp)
        t_jvm = time.time()
        rec = run_jvm(cp, a.workload, inp, out, a.seconds, a.trace, a.seed,
                      work, t_start)
        # set-up: generation + JVM/session start + the workload's own set-up
        setup_s = (t_jvm - t0) + rec["jvm_startup_s"] + rec["setup_s"]
        t_checks = time.time()
        failed_checks = run_checks(a.workload, rec, inp, out)
        print(f"perfbench: generate {t_jvm - t0:.1f} s, benchmark JVM "
              f"{t_checks - t_jvm:.1f} s (set-up {rec['setup_s']:.1f} s, timed "
              f"{rec['timed_s']:.1f} s), checks {time.time() - t_checks:.1f} s",
              file=sys.stderr)
        ops = rec["ops"]
        bad_ops = [o for o in ops if not o["ok"] or o["name"] in failed_checks]
        if "lake_logs_final" in failed_checks:
            bad_ops = ops  # the final lake is the product of every day
        if a.trace:
            metrics = per_layer(a.workload, rec)
        else:
            metrics = end_to_end(rec, setup_s)
        result = {
            "correct": not failed_checks and all(o["ok"] for o in ops),
            "attempted": len(ops),
            "failed": len(bad_ops),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        stamp = {k: rec[k] for k in ("calib_worst_s", "calib_worst_at",
                                     "calib_readings")}
        os.makedirs(f"{build_dir}/records", exist_ok=True)
        with open(f"{build_dir}/records/{os.path.basename(work)}.json", "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                       "seconds": a.seconds, "setup_s": setup_s,
                       "failed_checks": failed_checks, "calibration": stamp,
                       "result": result, "record": rec}, f)
        if os.path.exists(f"{out}/spans.jsonl"):
            shutil.copy(f"{out}/spans.jsonl",
                        f"{build_dir}/records/{os.path.basename(work)}.spans.jsonl")
        for name, why in sorted(failed_checks.items()):
            print(f"CHECK FAILED {name}: {why}")
        print(json.dumps({"calibration": stamp}))
        print(json.dumps(result))
        done = True
    finally:
        if done:  # a failed run keeps its inputs, lake and JVM log
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
