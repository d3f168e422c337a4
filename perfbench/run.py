#!/usr/bin/env python3
"""ontspark benchmark: one seeded closed-loop workload per run.

    python3 perfbench/run.py --workload serve_mix|doc_kg \
        --seed N --seconds S --trace 0|1

Run from the repository root.  Prints one info JSON line (environment,
inputs, per-op record), then as the last line
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything it writes goes under ``.perfbench/`` in the repository root;
spans of a traced run are kept in ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TABLES_SF = 0.01  # scale of the generated tables every workload reads
LAYER_OPS = ("find", "sparql", "dump_strict", "dump_ref", "doc_kg", "dedup")


def _env(work: str, trace: bool) -> dict:
    """Run hygiene: all temporary space inside the checkout, a fresh
    SPARK_LOCAL_DIRS per run, cores and driver memory fitted to the box
    through session.py's own environment overrides."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    driver_mb = max(1024, min(2048, mem_mb // 4))
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local"), os.path.join(work, "events")):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # -XX:-UsePerfData: no hsperfdata file under /tmp; a fixed set of
        # JIT compiler threads, whose CPU the per-op figures leave out
        "JAVA_TOOL_OPTIONS": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                              "-XX:-UseDynamicNumberOfCompilerThreads"),
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.eventLog.enabled=true --conf spark.eventLog.compress=false "
            f"--conf spark.eventLog.dir=file://{work}/events "
            if trace else "") + "pyspark-shell",
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return dict(env, cpus=cpus, mem_total_mb=mem_mb)


def _setup(tr, cpus: int):
    """Session start, ship_package, Python-worker warm-up (timed)."""
    import pandas as pd
    from ont_d2rq_spark.session import get_spark, ship_package

    t = [time.perf_counter()]
    with tr.span("session.spark_start"):
        spark = get_spark(app="perfbench", master=f"local[{cpus}]")
    t.append(time.perf_counter())
    with tr.span("session.ship_package"):
        ship_package(spark)
    t.append(time.perf_counter())
    with tr.span("session.worker_warmup"):
        spark.range(cpus * 2, numPartitions=cpus).mapInPandas(
            lambda it: (pd.DataFrame({"id": [0]}) for _ in it), "id long"
        ).count()
    t.append(time.perf_counter())
    return spark, {"session.spark_start_s": t[1] - t[0], "session.ship_package_s": t[2] - t[1],
                   "session.worker_warmup_s": t[3] - t[2]}


def _stop(spark) -> float:
    """Stop Spark and the JVM; wait for both; → JVM peak RSS (MB)."""
    from pyspark import SparkContext

    from spans import hwm_mb

    gw = SparkContext._gateway
    jvm_mb = hwm_mb(gw.proc.pid) if gw is not None else 0.0
    spark.stop()
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    return jvm_mb


def _p(values, q):
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1] if len(values) > 1 else values[0]


def end_to_end(ops, workload, setup_s) -> dict:
    """Bounded metrics: the CPU the program's processes (Python driver,
    JVM without its JIT compiler threads, Python workers) spend on setup
    and per timed op.  Hypervisor steal on a shared host, which swings
    wall times by up to 2x between runs, is not charged to them.  Per-op
    CPU is a mean: the SPARQL templates cost 0.5 s or 1.3 s, so a median
    of the fixed mix falls between the two groups and jumps between runs."""
    from workloads import OP_PAIRS

    timed = [o for o in ops if not o["warm"] and o["type"] in OP_PAIRS[workload]]
    m = {"setup_s": (setup_s, "s")}
    for role, op_type in zip(("primary", "secondary"), OP_PAIRS[workload]):
        m[f"{role}_cpu_ms"] = (statistics.mean(o["cpu"] for o in timed if o["type"] == op_type)
                               * 1e3, "ms")
    m["ops_per_cpu_s"] = (len(timed) / sum(o["cpu"] for o in timed), "1/s")
    m["ok_rate"] = (sum(o["ok"] for o in ops) / len(ops), "ratio")
    return m


def wall_metrics(ops) -> dict:
    """Wall-clock latency and throughput per op type, the figures a
    caller waits for; the op's check runs outside its wall time."""
    m = {}
    timed = [o for o in ops if not o["warm"]]
    for t in ("find", "sparql", "doc_kg", "dedup"):
        mine = [o for o in timed if o["type"] == t]
        walls = [o["wall"] for o in mine]
        m[f"lat.{t}_p50_ms"] = (statistics.median(walls) * 1e3 if walls else 0.0, "ms")
        m[f"wall.{t}_items_per_s"] = (sum(o["items"] for o in mine) / sum(walls) if walls else 0.0,
                                      "1/s")
    for t in ("find", "sparql"):
        walls = [o["wall"] for o in timed if o["type"] == t]
        m[f"lat.{t}_p90_ms"] = (_p(walls, 90) * 1e3 if walls else 0.0, "ms")
        m[f"lat.{t}_samples"] = (len(walls), "count")
    return m


def per_layer(ctx, setup_parts, event_ops) -> dict:
    """Every per-layer metric; 0 where this workload never runs the layer."""
    from spans import LAYERS

    tr = ctx.tr
    timed = {o["id"]: o for o in ctx.ops if not o["warm"]}
    by_type = {t: [o for o in timed.values() if o["type"] == t] for t in LAYER_OPS}

    def span_mean_ms(name, setup=False):
        """Mean duration (ms) of the named spans of timed ops, and of the
        setup (op 0) when ``setup``; warm-up spans are left out."""
        d = [s[2] - s[1] for s in tr.spans
             if s[0] == name and (s[4] in timed or (setup and s[4] == 0))]
        return statistics.mean(d) * 1e3 if d else 0.0

    m = {k: (v, "s") for k, v in setup_parts.items()}
    m["mem.peak_rss_mb"] = (ctx.layer["mem.peak_rss_mb"], "MB")
    m["mapping.load_ms"] = (span_mean_ms("mapping.load", setup=True), "ms")
    m["compiler.compile_ms"] = (span_mean_ms("compiler.compile"), "ms")
    m["compiler.bridges"] = (ctx.layer.get("compiler.bridges", 0), "count")
    m["graph.find_build_ms"] = (span_mean_ms("graph.find"), "ms")
    m["graph.triples_build_ms"] = (span_mean_ms("graph.triples"), "ms")
    m["sparql.parse_ms"] = (span_mean_ms("sparql.parse"), "ms")
    m["sparql.build_ms"] = (span_mean_ms("sparql.execute"), "ms")
    for t in LAYER_OPS:
        ev = [event_ops.get(o["id"], {}) for o in by_type[t]]

        def mean(key):
            return statistics.mean(e.get(key, 0) for e in ev) if ev else 0

        m[f"plan.{t}_ms"] = (span_mean_ms(f"plan.{t}"), "ms")
        for k in ("exchanges", "arrow_eval_python", "python_rdd_scans", "wscg"):
            m[f"plan.{t}.{k}"] = (mean(k), "count")
        m[f"exec.{t}.jobs"] = (mean("jobs"), "count")
        m[f"exec.{t}.tasks"] = (mean("tasks"), "count")
        for k in ("task_run_s", "task_cpu_s", "gc_s"):
            m[f"exec.{t}.{k}"] = (mean(k), "s")
        for k in ("shuffle_write_bytes", "shuffle_read_bytes"):
            m[f"exchange.{t}.{k}"] = (mean(k), "bytes")
        m[f"pyudf.{t}.cpu_s"] = (
            statistics.mean(o["pyudf_cpu_s"] for o in by_type[t]) if by_type[t] else 0.0, "s")
    m["sink.nt_bytes"] = (ctx.layer.get("sink.nt_bytes", 0), "bytes")
    m["sink.files"] = (ctx.layer.get("sink.files", 0), "count")
    kg_ops = [event_ops.get(o["id"], {}) for o in by_type["doc_kg"]]
    m["checkpoint.jobs"] = (
        statistics.mean(e.get("build_jobs", 0) for e in kg_ops) if kg_ops else 0, "count")
    m["checkpoint.bytes_written"] = (ctx.layer.get("checkpoint.bytes_written", 0), "bytes")
    for stage in ("docs_interleaved", "mentions", "entity_links", "raw_triples",
                  "canonical_map", "kg_triples"):
        m[f"checkpoint.rows.{stage}"] = (ctx.layer.get(f"checkpoint.rows.{stage}", 0), "count")
    cand, pairs = ctx.layer.get("dedup.candidates", 0), ctx.layer.get("dedup.pairs", 0)
    m["dedup.candidates"] = (cand, "count")
    m["dedup.pairs"] = (pairs, "count")
    m["dedup.precision"] = (pairs / cand if cand else 0.0, "ratio")
    m["dedup.planted_recall"] = (ctx.layer.get("dedup.planted_recall", 0.0), "ratio")
    hits, misses = ctx.layer.get("cache.find_hits", 0), ctx.layer.get("cache.find_misses", 0)
    m["cache.find_hits"] = (hits, "count")
    m["cache.find_misses"] = (misses, "count")
    m["cache.find_hit_ratio"] = (hits / (hits + misses) if hits + misses else 0.0, "ratio")
    # the sample counts are fixed by the batch; they stay in the info line
    m.update((k, v) for k, v in wall_metrics(ctx.ops).items() if not k.endswith("_samples"))
    selfs = [v for i, v in tr.self_times().items() if i in timed]
    for layer in LAYERS:  # mean over the timed ops that enter the layer
        v = [s[layer] for s in selfs if layer in s]
        m[f"self.{layer}_ms"] = (statistics.mean(v) * 1e3 if v else 0.0, "ms")
    return m


def _run(a, work: str) -> tuple[dict, dict]:
    from gen import write_tables
    from spans import Tracer, cpu_delta, cpu_steal_loadavg, hwm_mb, parse_event_log, program_cpu
    from workloads import WORKLOADS, Ctx, serve_setup

    env = _env(work, bool(a.trace))
    info = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "env": env, "start": cpu_steal_loadavg()}
    tables = os.path.join(work, "tables")
    info["table_rows"] = write_tables(tables, TABLES_SF)
    tr = Tracer(bool(a.trace))
    spark = None
    try:
        cpu0 = program_cpu([str(os.getpid())])
        t0 = time.perf_counter()
        spark, setup_parts = _setup(tr, env["cpus"])
        ctx = Ctx(spark, tr, a.seed, work, tables)
        ctx.facts["table_rows"] = info["table_rows"]
        if a.workload == "serve_mix":  # the first op is ready once the graph is
            tr.op_id = 0
            serve_setup(ctx)
            tr.op_id = None
        info["setup_wall_s"] = setup_parts["session.setup_wall_s"] = time.perf_counter() - t0
        # the JVM and the Python workers were born during setup: all of
        # their CPU (JIT threads left out) is setup CPU
        setup_s = cpu_delta(cpu0, program_cpu(ctx.pids, ctx.jvm, ctx.jit))
        WORKLOADS[a.workload](ctx)
    finally:
        jvm_mb = _stop(spark) if spark is not None else 0.0
    ctx.layer["mem.peak_rss_mb"] = hwm_mb(os.getpid()) + jvm_mb
    ops = ctx.ops
    info.update(ctx.facts, end=cpu_steal_loadavg(),
                ops=[{k: (round(v, 4) if isinstance(v, float) else v) for k, v in o.items()}
                     for o in ops])
    e2e = end_to_end(ops, a.workload, setup_s)
    info["wall"] = {k: v for k, (v, _) in wall_metrics(ops).items()}
    if a.trace:
        event_ops = parse_event_log(os.path.join(work, "events"))
        metrics = per_layer(ctx, setup_parts, event_ops)
        # 0 on every op of both workloads (the program's Python UDFs are all
        # Arrow ones; nothing spills at these sizes), so summed here rather
        # than reported per op type
        timed = {o["id"] for o in ops if not o["warm"]}
        info["event_log_totals"] = {
            k: sum(e.get(k, 0) for i, e in event_ops.items() if i in timed)
            for k in ("batch_eval_python", "spill_bytes")}
        out = os.path.join(ROOT, ".perfbench", "out")
        os.makedirs(out, exist_ok=True)
        tr.dump(os.path.join(out, f"spans-{a.workload}-{a.seed}.json"))
        walls = {o["id"]: o["wall"] for o in ops if not o["warm"]}
        selfs = tr.self_times()
        info["self_sum_max_err_ms"] = max(
            (abs(sum(selfs.get(i, {}).values()) - w) * 1e3 for i, w in walls.items()), default=0.0)
        info["traced_end_to_end"] = {k: v for k, (v, _) in e2e.items()}
    else:
        metrics = e2e
    failed = sum(not o["ok"] for o in ops)
    return info, {"correct": failed == 0, "attempted": len(ops), "failed": failed,
                  "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve_mix", "doc_kg"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "ont_d2rq_spark", "session.py")):
        print("perfbench: ont_d2rq_spark/ not found next to perfbench/; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        info, result = _run(a, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
