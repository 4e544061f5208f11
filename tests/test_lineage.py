"""Resume semantics: a partially-completed stage resumes without
duplicating buckets; checksums verify byte-identical output."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F


def _input(spark, n=1000):
    return spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 97).alias("v")
    )


def test_stage_resume_no_duplicates(spark):
    from lazyosm_spark.plans.lineage import CheckpointedPipeline

    with tempfile.TemporaryDirectory() as root:
        pipe = CheckpointedPipeline(spark, root, n_buckets=16)
        df = _input(spark)

        # simulate a partial run: only half the buckets get written
        partial = df.filter(F.pmod(F.xxhash64("k"), F.lit(16)).cast("int") < 8)
        out1 = pipe.run_stage("s1", partial, key_col="k")
        n1 = out1.count()
        assert 0 < n1 < 1000
        assert pipe.completed_buckets("s1").count() == 8

        # resume with the FULL input: only missing buckets are written
        out2 = pipe.run_stage("s1", df, key_col="k")
        assert out2.count() == 1000
        assert pipe.completed_buckets("s1").count() == 16
        # no duplicate rows
        assert out2.select("k").distinct().count() == 1000
        assert pipe.verify_stage("s1")

        # idempotent: re-running a complete stage writes nothing new
        out3 = pipe.run_stage("s1", df, key_col="k")
        assert out3.count() == 1000
        assert pipe.verify_stage("s1")


def test_crash_between_data_and_lineage_does_not_duplicate(spark):
    """Simulated crash: data for some buckets committed but the lineage
    write never happened.  The re-run must REPLACE those orphan buckets
    (dynamic partition overwrite), not double-append them."""
    import shutil

    from lazyosm_spark.plans.lineage import CheckpointedPipeline

    with tempfile.TemporaryDirectory() as root:
        pipe = CheckpointedPipeline(spark, root, n_buckets=16)
        df = _input(spark)

        pipe.run_stage("s1", df, key_col="k")
        # crash simulation: lineage + snapshot log vanish, data survives
        shutil.rmtree(f"{root}/_lineage/s1")
        import os

        os.remove(f"{root}/_snapshots.jsonl")
        assert pipe.completed_buckets("s1").count() == 0

        out = pipe.run_stage("s1", df, key_col="k")
        assert out.count() == 1000  # a blind append would give 2000
        assert out.select("k").distinct().count() == 1000
        assert pipe.verify_stage("s1")


def test_mixed_writer_lineage(spark, tmp_path):
    """A stage whose first lineage commit was written by Spark
    (``createDataFrame(rows).write``, the earlier writer) resumes
    through a driver-written commit: the table keeps the Spark-written
    schema, verifies, and reads through the catalog.  An interrupted
    commit's ``_``-prefixed temp file counts for nothing."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lazyosm_spark.plans import catalog
    from lazyosm_spark.plans.lineage import (
        CheckpointedPipeline,
        lineage_of,
        lineage_path,
    )

    root = str(tmp_path)
    pipe = CheckpointedPipeline(spark, root, n_buckets=16)
    df = _input(spark)
    half = df.filter(F.pmod(F.xxhash64("k"), F.lit(16)).cast("int") < 8)
    n_half = half.count()

    # commit 0: data + snapshot record by run_stage, its lineage
    # rewritten the Spark way
    pipe.run_stage("s1", half, key_col="k")
    lin = lineage_path(root, "s1")
    shutil.rmtree(lin)
    rows = lineage_of(half, "s1", "k", 16).drop("stage").collect()
    (
        spark.createDataFrame(rows)
        .withColumn("stage", F.lit("s1"))
        .withColumn("commit_seq", F.lit(0))
        .write.mode("append")
        .parquet(lin)
    )
    spark_schema = spark.read.parquet(lin).schema

    # an interrupted commit claiming every bucket: a temp file only
    claim = [r.asDict() for r in lineage_of(df, "s1", "k", 16).collect()]
    pq.write_table(
        pa.Table.from_pylist(claim), os.path.join(lin, "_part-00001-leftover.parquet")
    )
    assert pipe.completed_buckets("s1").count() == 8

    out = pipe.run_stage("s1", df, key_col="k")
    assert out.count() == 1000
    assert out.select("k").distinct().count() == 1000
    assert spark.read.parquet(lin).schema == spark_schema
    assert pipe.completed_buckets("s1").count() == 16
    assert pipe.verify_stage("s1")

    assert [r["snapshot_id"] for r in catalog.snapshots(spark, root).collect()] == [0, 1]
    assert catalog.table_stats(spark, root, "s1").count() == 16
    assert catalog.read_stage(spark, root, "s1", as_of_snapshot=0).count() == n_half
    assert catalog.read_stage(spark, root, "s1", as_of_snapshot=1).count() == 1000


def test_checksum_detects_corruption(spark):
    from lazyosm_spark.plans.lineage import CheckpointedPipeline, lineage_of

    df = _input(spark, 500)
    lin1 = lineage_of(df, "s", "k", 8).collect()
    tampered = df.withColumn(
        "v", F.when(F.col("k") == 123, F.lit(-1)).otherwise(F.col("v"))
    )
    lin2 = lineage_of(tampered, "s", "k", 8).collect()
    sums1 = {r["bucket"]: r["checksum"] for r in lin1}
    sums2 = {r["bucket"]: r["checksum"] for r in lin2}
    assert sums1 != sums2
    # only the bucket containing k=123 differs
    diff = [b for b in sums1 if sums1[b] != sums2[b]]
    assert len(diff) == 1
