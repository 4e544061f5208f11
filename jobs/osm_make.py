"""`lazyosm make` analog (reference CLI, lazyosm/cmd/make.go:25-44):
.osm.pbf shards in -> feature sink out, as one spark-submit job.

    spark-submit --py-files lazyosm_spark.zip jobs/osm_make.py \
        -f '/data/planet/*.osm.pbf' -o /out/features \
        [--format parquet|geojson|geobuf] [--cpus 32]

Replaces the reference's two passes (index + execute, SURVEY.md §3.1)
with one parse and one declarative plan: read_pbf's eager job scans the
shards (binaryFile) and wire-decodes each shard once into a checkpointed
block frame; entity decode -> J1/J2/J3 joins -> ring assembly -> sink
then read its node, way and relation views.  Parquet sink keeps
the typed feature schema; geojson writes line-delimited Features;
geobuf writes Mapbox-geobuf binary blobs (the reference's own output
format, top_level.go:113) as (n_features, geobuf) parquet rows.
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
    ap.add_argument("-f", "--input", required=True, help=".osm.pbf path/glob")
    ap.add_argument("-o", "--output", required=True)
    ap.add_argument("--format", choices=["parquet", "geojson", "geobuf"], default="parquet")
    ap.add_argument("--cpus", type=int, default=DEFAULT_CPUS)
    args = ap.parse_args()

    from lazyosm_spark import get_spark
    from lazyosm_spark.operators.osm import (
        all_features,
        decode_nodes,
        decode_relations,
        decode_ways,
        features_to_geojson,
    )
    from lazyosm_spark.sources.pbf import read_pbf

    spark = get_spark(app="osm_make", cpus=args.cpus,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    t0 = time.time()
    enc = read_pbf(spark, args.input)
    feats = all_features(
        decode_nodes(enc["nodes_encoded"]),
        decode_ways(enc["ways_encoded"]),
        decode_relations(enc["relations_encoded"]),
    )
    if args.format == "geojson":
        features_to_geojson(feats).select("geojson").write.mode("overwrite").text(
            args.output
        )
        n = spark.read.text(args.output).count()
    elif args.format == "geobuf":
        from lazyosm_spark.sources.geobuf import geobuf_sink

        geobuf_sink(feats).write.mode("overwrite").parquet(args.output)
        from pyspark.sql import functions as F

        n = int(
            spark.read.parquet(args.output)
            .agg(F.sum("n_features"))
            .first()[0]
        )
    else:
        feats.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
    print(json.dumps({"job": "osm_make", "features": n, "seconds": round(time.time() - t0, 2)}))


if __name__ == "__main__":
    main()
