"""Per-stage checkpoint tables with lineage manifests + metrics.

North-rule requirement (BASELINE.json): every pipeline stage writes its
output to a table, a per-partition lineage manifest, and triple-count
metrics, so any stage restarts from the last good table.

In production these are Iceberg tables (``df.writeTo(...)`` — atomic
snapshot commit, partition evolution); this sandbox ships no Iceberg
runtime jars, so the same layout is realized as local parquet directories:

    <root>/<stage>/data/         the stage output (parquet)
    <root>/<stage>/_lineage/     (partition_id, rows_out, stage) per write task
    <root>/<stage>/_metrics/     stage-declared aggregate metrics
    <root>/<stage>/_SUCCESS_STAGE  commit marker (written LAST → atomicity)

A stage costs only the job(s) that write it.  Lineage and the default
``rows`` metric come from that write pass: each ``part-NNNNN-…`` file
names its write task, and its footer holds the rows the task wrote.
Both manifests are written on the driver; only a custom ``metrics``
aggregate runs a job of its own.

Resume semantics: ``run_stage`` returns the stored table when the
marker exists, otherwise drops any old marker, computes, writes
data+lineage+metrics, then the marker.  A crash mid-write (a ``force``
re-run too) leaves no marker → the stage re-runs.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections import Counter
from typing import Callable, Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _dir(root: str, stage: str, sub: str = "data") -> str:
    return os.path.join(root, stage, sub)


def _write_manifest(path: str, table: pa.Table) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def run_stage(
    spark: SparkSession,
    root: str,
    stage: str,
    compute: Callable[[], DataFrame],
    metrics: Optional[Callable[[DataFrame], DataFrame]] = None,
    force: bool = False,
) -> DataFrame:
    """Compute-or-resume one stage.  Idempotent: if the stage committed
    before, its table is read back (lineage intact downstream)."""
    marker, data = _dir(root, stage, "_SUCCESS_STAGE"), _dir(root, stage)
    if os.path.exists(marker):
        if not force:
            return spark.read.parquet(data)
        os.remove(marker)
    df = compute()
    df.write.mode("overwrite").parquet(data)
    stored = spark.read.schema(df.schema).parquet(data)
    rows = Counter()
    for name in glob.glob("part-*", root_dir=data):
        rows[int(name.split("-")[1])] += pq.read_metadata(os.path.join(data, name)).num_rows
    pids = sorted(rows)
    _write_manifest(_dir(root, stage, "_lineage"), pa.table({
        "partition_id": pa.array(pids, pa.int32()),
        "rows_out": pa.array([rows[p] for p in pids], pa.int64()),
        "stage": pa.array([stage] * len(pids), pa.string()),
    }))
    if metrics:
        m = metrics(stored).toArrow()
    else:
        m = pa.table({"rows": pa.array([rows.total()], pa.int64()), "stage": [stage]})
    _write_manifest(_dir(root, stage, "_metrics"), m)
    with open(marker, "w") as f:
        f.write("ok\n")
    return stored


def triple_count_metrics(df: DataFrame) -> DataFrame:
    """Triple counts per predicate (SURVEY §2.4 A2)."""
    return df.groupBy("pred").agg(F.count(F.lit(1)).alias("n_triples"))


def _read_manifest(spark: SparkSession, path: str) -> DataFrame:
    # the files, not the `_`-prefixed directory Spark warns is hidden;
    # the directory when it holds none, for Spark's missing-path error
    return spark.read.parquet(*(glob.glob(os.path.join(path, "*.parquet")) or [path]))


def read_metrics(spark: SparkSession, root: str, stage: str) -> DataFrame:
    return _read_manifest(spark, _dir(root, stage, "_metrics"))


def read_lineage(spark: SparkSession, root: str, stage: str) -> DataFrame:
    return _read_manifest(spark, _dir(root, stage, "_lineage"))
