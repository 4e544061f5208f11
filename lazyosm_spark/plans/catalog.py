"""Iceberg-style catalog surface over the checkpoint layout.

The sandbox has no Iceberg jars (SURVEY.md §1.5), so the engine exposes
the same *metadata-table semantics* over the Parquet checkpoint layout
that plans/lineage.py writes — isolated here so a real Iceberg catalog
is a drop-in:

    engine (this module)              Iceberg equivalent
    ---------------------------------------------------------------
    snapshots(root)                   SELECT * FROM tbl.snapshots
    files(root, stage)                SELECT * FROM tbl.files
    table_stats(root, stage)          manifests' column stats
    read_stage(root, stage)           spark.read.table(tbl)
    read_stage(..., as_of=k)          VERSION AS OF k (time travel:
                                      buckets recorded by snapshot k)

Production path: `spark-submit --packages
org.apache.iceberg:iceberg-spark-runtime-3.5_2.12:<ver>` and replace
CheckpointedPipeline's writes with `.writeTo(tbl).append()` — the
lineage columns map onto Iceberg's per-file metrics and the snapshot
log onto its snapshot metadata; resuming by skipping recorded buckets
maps onto reading the last committed snapshot.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lazyosm_spark.plans.lineage import data_path, lineage_path, snapshot_log


def snapshots(spark: SparkSession, root: str) -> DataFrame:
    """The append-only snapshot log as a DataFrame (one row per stage
    commit): (snapshot_id, stage, n_buckets, rows, ts)."""
    path = snapshot_log(root)
    rows = []
    if os.path.exists(path):
        with open(path) as f:
            for i, line in enumerate(f):
                rec = json.loads(line)
                rec["snapshot_id"] = i
                rows.append(rec)
    if not rows:
        return spark.createDataFrame(
            [],
            "snapshot_id long, stage string, commit_seq long, n_buckets long, rows long, ts double",
        )
    return spark.createDataFrame(rows).select(
        "snapshot_id", "stage", "commit_seq", "n_buckets", "rows", "ts"
    )


def files(spark: SparkSession, root: str, stage: str) -> DataFrame:
    """Physical-file inventory of a stage (the tbl.files analog):
    (bucket, path, size_bytes)."""
    base = data_path(root, stage)
    rows = []
    if os.path.isdir(base):
        for bucket_dir in sorted(os.listdir(base)):
            if not bucket_dir.startswith("bucket="):
                continue
            b = int(bucket_dir.split("=")[1])
            d = os.path.join(base, bucket_dir)
            for fn in sorted(os.listdir(d)):
                if fn.endswith(".parquet"):
                    p = os.path.join(d, fn)
                    rows.append((b, p, os.path.getsize(p)))
    return spark.createDataFrame(
        rows or [], "bucket int, path string, size_bytes long"
    )


def table_stats(spark: SparkSession, root: str, stage: str) -> DataFrame:
    """Per-bucket lineage (zone maps + checksums) — the manifests'
    column-stats analog, the basis of partition pruning and resume."""
    return spark.read.parquet(lineage_path(root, stage))


def read_stage(
    spark: SparkSession, root: str, stage: str, as_of_snapshot: int | None = None
) -> DataFrame:
    """Read a stage's committed data; ``as_of_snapshot`` restricts to
    the buckets whose lineage existed at that snapshot (time travel —
    snapshot ids come from snapshots()).

    Bucket-level time travel is exact for this engine because commits
    are whole-bucket appends (lineage row == commit unit)."""
    df = spark.read.parquet(data_path(root, stage))
    if as_of_snapshot is None:
        return df.drop("bucket")
    snaps = snapshots(spark, root)
    max_seq = (
        snaps.filter(
            (F.col("stage") == stage) & (F.col("snapshot_id") <= as_of_snapshot)
        )
        .agg(F.max("commit_seq"))
        .first()[0]
    )
    if max_seq is None:
        return df.limit(0).drop("bucket")
    # lineage rows are stamped with their commit ordinal -> a snapshot's
    # view is exactly the buckets committed at seq <= max_seq
    committed = (
        table_stats(spark, root, stage)
        .filter(F.col("commit_seq") <= max_seq)
        .select("bucket")
        .distinct()
    )
    return df.join(committed, "bucket", "left_semi").drop("bucket")


def prune_buckets(
    spark: SparkSession, root: str, stage: str, key_min, key_max
) -> DataFrame:
    """Zone-map pruning demo: read only buckets whose [key_min, key_max]
    lineage span intersects the requested range — the engine-level
    equivalent of the reference's IdMap block pruning (idmap.go:89-135)
    when the key correlates with the bucket layout."""
    lin = table_stats(spark, root, stage)
    hit = lin.filter(
        (F.col("key_max") >= F.lit(key_min)) & (F.col("key_min") <= F.lit(key_max))
    ).select("bucket")
    df = spark.read.parquet(data_path(root, stage))
    return df.join(hit, "bucket", "left_semi").drop("bucket")
