#!/usr/bin/env python
"""Event-log profiler: run one bench query with spark.eventLog enabled,
then print per-job wall (with description) and the driver-side gaps
between jobs — separating executor time from planning/py4j overhead.

Usage: python tools/profile_events.py <query> [sf_dir]
  query ∈ {pipeline_kg, minhash, minhash_md5, dump, dump_distinct,
           embedding_lsh, similarity_topk, all bench names ...}
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
EVDIR = "/tmp/spark-events-prof"


def main():
    q = sys.argv[1]
    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)

    from pyspark.sql import SparkSession

    from ont_d2rq_spark.session import (
        default_cpus,
        default_driver_memory,
        ship_package,
    )

    # mirror get_spark's config (same env overrides and defaults) plus
    # the event log
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or default_cpus())
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"prof_{q}")
        .config("spark.sql.shuffle.partitions", str(cpus * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", EVDIR)
        .config("spark.eventLog.compress", "false")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)

    import pandas as pd

    spark.range(cpus * 2, numPartitions=cpus).mapInPandas(
        lambda it: (pd.DataFrame({"id": [0]}) for _ in it), "id long"
    ).count()

    from ont_d2rq_spark.queries import QUERIES

    def run():
        if q == "dump":
            from ont_d2rq_spark.examples import tpch_mapping
            from ont_d2rq_spark.graph import VirtualGraph

            g = VirtualGraph(tpch_mapping(SF), spark)
            g.triples(fuse=True, distinct="auto").write.format("noop").mode(
                "overwrite"
            ).save()
        elif q == "dump_distinct":
            from ont_d2rq_spark.examples import tpch_mapping
            from ont_d2rq_spark.graph import VirtualGraph

            g = VirtualGraph(tpch_mapping(SF), spark)
            g.triples(fuse=True, distinct=True).write.format("noop").mode(
                "overwrite"
            ).save()
        elif q == "minhash":
            from ont_d2rq_spark.operators.dedup import minhash_dedup
            from ont_d2rq_spark.sources.tables import balanced_read

            docs = balanced_read(spark, f"{SF}/documents.parquet")
            minhash_dedup(docs, threshold=0.5, hash_family="xxhash64").count()
        else:
            QUERIES[q](spark, SF).count()

    t_open = time.perf_counter()
    run()
    wall = time.perf_counter() - t_open
    spark.catalog.clearCache()
    print(f"TOTAL WALL {wall:.3f}s", flush=True)
    spark.stop()

    # parse the event log
    files = [
        f
        for f in glob.glob(EVDIR + "/**/*", recursive=True)
        if os.path.isfile(f) and "appstatus" not in os.path.basename(f)
    ]
    path = max(files, key=os.path.getsize)
    jobs = {}
    sql_execs = {}
    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"],
                    "desc": (
                        props.get("spark.job.description")
                        or props.get("callSite.short", "")
                        or ""
                    )[:100],
                    "stages": len(ev.get("Stage IDs", [])),
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]

    items = sorted(jobs.items())
    t0 = items[0][1]["start"] if items else 0
    prev_end = t0
    total_job = 0
    total_gap = 0
    print(f"{'job':>4} {'t+':>8} {'gap_ms':>8} {'dur_ms':>8} {'stg':>3}  desc")
    for jid, j in items:
        if "end" not in j:
            continue
        gap = j["start"] - prev_end
        dur = j["end"] - j["start"]
        total_job += dur
        total_gap += max(gap, 0)
        print(
            f"{jid:>4} {(j['start']-t0)/1000:8.2f} {gap:8d} {dur:8d} {j['stages']:>3}  {j['desc']}"
        )
        prev_end = j["end"]
    print(f"sum job_ms={total_job} gap_ms={total_gap}")


if __name__ == "__main__":
    main()
