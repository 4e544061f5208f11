"""Flagship end-to-end job: decode + tile + spatially join an image table.

spark-submit entry (runs unchanged on a cluster; local[] for sandbox):

    # one-time input build (distributed synthesis of the image table):
    spark-submit jobs/tile_images.py --generate --images /path/images \
        --n-images 200000
    # the measured pipeline (re-running with the same --output RESUMES
    # from the per-bucket lineage automatically — no flag needed):
    spark-submit --py-files lazyosm_spark.zip jobs/tile_images.py \
        --images /path/images --output /path/out [--cpus 32]

Measured pipeline (each stage checkpointed with per-partition lineage
so a kill mid-run resumes without duplicate work):

  1. scan images (image_id, bytes, w, h, fmt, caption, phash)
  2. DECODE: mapInPandas — decode payload (inverse DCT for lossy),
     recompute phash from the decoded pixels against the stored
     column (per-row integrity gate), mean-luminance feature.  The
     CPU-heavy multimodal leg; PSNR-vs-source lives in the test path.
  3. derive footprint points (deterministic from image_id; production
     reads EXIF/geo metadata the same way)
  4. spatial join: cell encode (JVM) + broadcast tile keys + vectorized
     PIP refine — shuffle-free on the image side
  5. per-tile rollup (counts + distinct phash sketch) joined with the
     decode features

Prints one JSON line with wall time + throughput.  The N-vs-4N
parallelism evidence measured on it is history in BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from lazyosm_spark.session import DEFAULT_CPUS  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--images", required=True, help="parquet path of the image table")
    ap.add_argument("--generate", action="store_true", help="build the input table, then exit")
    ap.add_argument("--n-images", type=int, default=200_000)
    ap.add_argument("--img-size-mult", type=int, default=1)
    ap.add_argument("--output", default=None)
    ap.add_argument("--cpus", type=int, default=DEFAULT_CPUS)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--buckets", type=int, default=64, help="lineage bucket count (resume granularity)")
    ap.add_argument("--max-partition-mb", type=int, default=16,
                    help="scan split size; small enough that tasks >> cores (at 100TB leave 128)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from lazyosm_spark import get_spark
    from lazyosm_spark.operators.spatial_join import tile_points
    from lazyosm_spark.plans.lineage import CheckpointedPipeline
    from lazyosm_spark.sources.fixtures import gen_tiles
    from lazyosm_spark.sources.images import (
        DECODE_SCHEMA,
        IMAGE_SCHEMA,
        decode_images_batches,
        gen_images_batches_fn,
    )

    spark = get_spark(
        app=f"tile_images_c{args.cpus}",
        cpus=args.cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the decode scan must fan out to >> cores tasks; with the
            # default 128MB splits a few-GB input yields fewer tasks
            # than cores and the big configuration starves
            "spark.sql.files.maxPartitionBytes": str(args.max_partition_mb * 1024 * 1024),
        },
    )

    if args.generate:
        nparts = args.partitions or args.cpus * 4
        (
            spark.range(args.n_images)
            .repartition(nparts)
            .mapInPandas(gen_images_batches_fn(args.img_size_mult), IMAGE_SCHEMA)
            .write.mode("overwrite")
            .parquet(args.images)
        )
        print(json.dumps({"job": "generate", "n_images": args.n_images, "path": args.images}))
        return

    assert args.output, "--output required for the pipeline run"
    # warm python workers so measured time is steady-state compute
    spark.range(args.cpus * 8).repartition(args.cpus * 2).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).count()

    t0 = time.time()
    stage_t: dict[str, float] = {}

    def mark(name):
        now = time.time()
        stage_t[name] = round(now - mark.last, 2)
        mark.last = now
    mark.last = t0
    images = spark.read.parquet(args.images)

    # stage 2: decode (CPU-heavy) — recomputed phash must match stored
    decoded = images.mapInPandas(decode_images_batches, DECODE_SCHEMA)
    pipe = CheckpointedPipeline(spark, args.output, n_buckets=args.buckets)
    feats = pipe.run_stage("decode_features", decoded, key_col="image_id")
    mark("decode_stage")

    # stage 3+4: footprint points -> spatial join (shuffle-free).
    # Points derive from the DECODE CHECKPOINT, not the raw image
    # table: maxPartitionBytes is computed on full-file bytes, so an
    # id-only scan of the wide table still fans out to bytes/16MB tiny
    # tasks (measured ~2x the whole membership stage at low core
    # counts); the checkpoint is a few MB and scans in a handful.
    i = F.regexp_extract("image_id", r"(\d+)", 1).cast("long").cast("double")
    phi, phi2 = 0.7548776662466927, 0.5698402909980532  # R2 constants
    pts = feats.select(
        F.col("image_id").alias("point_id"),
        (F.lit(-180.0) + 360.0 * (i * phi - F.floor(i * phi))).alias("lon"),
        (F.lit(-85.0) + 170.0 * (i * phi2 - F.floor(i * phi2))).alias("lat"),
    )
    tiles = spark.createDataFrame(gen_tiles())
    membership = tile_points(pts, tiles)
    mem = pipe.run_stage("tile_membership", membership, key_col="point_id")
    mark("membership_stage")

    # stage 5: per-tile rollup with decode features
    rollup = (
        mem.join(feats.withColumnRenamed("image_id", "point_id"), "point_id")
        .groupBy("tile_id", "resolution")
        .agg(
            F.count("*").alias("n_images"),
            F.approx_count_distinct("phash").alias("n_distinct_phash"),
            F.avg("mean_lum").alias("avg_lum"),
            F.sum(F.when(~F.col("phash_ok"), 1).otherwise(0)).alias("n_phash_bad"),
        )
    )
    pipe.run_stage("tile_rollup", rollup, key_col="tile_id")
    mark("rollup_stage")

    n_images = images.count()
    n_mem = mem.count()
    n_bad = feats.filter(~F.col("phash_ok")).count()  # reads checkpoint
    mark("final_counts")
    dt = time.time() - t0
    print(
        json.dumps(
            {
                "job": "tile_images",
                "cpus": args.cpus,
                "n_images": n_images,
                "n_memberships": n_mem,
                "n_integrity_failures": n_bad,
                "seconds": round(dt, 2),
                "images_per_sec": round(n_images / dt, 1),
                "stages": stage_t,
            }
        )
    )


if __name__ == "__main__":
    main()
