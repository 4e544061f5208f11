"""Golden-artifact parity: engine output vs the materialized oracle
parquet files (tools/make_golden.py) — the reference's gob-fixture
strategy (relation_handler.go:511-529) in parquet form."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def golden_dir():
    from tools.make_golden import make

    return make("tiny")


def test_golden_relation_features(spark, enc, golden_dir):
    from lazyosm_spark.operators.osm import (
        decode_nodes,
        decode_relations,
        decode_ways,
        relation_features,
    )

    golden = pd.read_parquet(os.path.join(golden_dir, "golden_features.parquet"))
    got = {
        r["osm_id"]: r
        for r in relation_features(
            decode_relations(enc["relations_encoded"]),
            decode_ways(enc["ways_encoded"]),
            decode_nodes(enc["nodes_encoded"]),
        ).collect()
    }
    assert set(got) == set(golden["osm_id"])
    for _, g in golden.iterrows():
        r = got[g["osm_id"]]
        assert r["geom_type"] == g["geom_type"], g["osm_id"]
        got_coords = [
            [[list(pt) for pt in ring] for ring in poly] for poly in r["coords"]
        ]
        want_coords = [
            [[list(pt) for pt in ring] for ring in poly] for poly in g["coords"]
        ]
        assert got_coords == want_coords, g["osm_id"]


def test_golden_tile_membership(spark, fx, golden_dir):
    from lazyosm_spark.operators.spatial_join import tile_points
    from lazyosm_spark.sources.fixtures import image_lonlat_sql

    golden = pd.read_parquet(
        os.path.join(golden_dir, "golden_tile_membership.parquet")
    )
    images = fx["images"]
    i = F.regexp_extract("image_id", r"(\d+)", 1).cast("long").cast("double")
    lon_sql, lat_sql = image_lonlat_sql("i")
    pts = images.select(F.col("image_id"), i.alias("i")).selectExpr(
        "image_id as point_id", f"{lon_sql} as lon", f"{lat_sql} as lat"
    )
    got = {
        (r["point_id"], r["tile_id"])
        for r in tile_points(pts, fx["tiles"]).collect()
    }
    want = {
        (r["image_id"], r["tile_id"]) for _, r in golden.iterrows()
    }
    assert got == want


def test_golden_knn(spark, fx, golden_dir):
    from lazyosm_spark.operators.knn import grid_knn
    from lazyosm_spark.sources.fixtures import SCALES, image_lonlat

    import numpy as np

    golden = pd.read_parquet(os.path.join(golden_dir, "golden_knn.parquet"))
    n = SCALES["tiny"]["n_images"]
    lon, lat = image_lonlat(np.arange(n))
    pts = spark.createDataFrame(
        [(f"img_{j:012d}", float(lon[j]), float(lat[j])) for j in range(n)],
        "point_id string, lon double, lat double",
    )
    q = pts.limit(0).unionByName(
        pts.filter(F.col("point_id") < f"img_{20:012d}")
    ).selectExpr("point_id as query_id", "lon", "lat")
    out = grid_knn(q, pts, k=6, res=5)
    out = out.filter(F.col("query_id") != F.col("neighbor_id"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("rank")
    got = {
        (r["query_id"], F_rank): r["neighbor_id"]
        for r in out.withColumn("r2", F.row_number().over(w)).filter(F.col("r2") <= 5).collect()
        for F_rank in [r["r2"]]
    }
    want = {
        (r["query_id"], r["rank"]): r["neighbor_id"] for _, r in golden.iterrows()
    }
    assert got == want


def test_golden_roundtrip_images(golden_dir):
    golden = pd.read_parquet(
        os.path.join(golden_dir, "golden_roundtrip_images.parquet")
    )
    lossy = golden[golden["image_id"].apply(lambda s: int(s.split("_")[1]) % 3 == 2)]
    lossless = golden[golden["image_id"].apply(lambda s: int(s.split("_")[1]) % 3 != 2)]
    assert (lossy["psnr"] >= 40.0).all()
    assert (lossless["psnr"] == float("inf")).all()
    assert golden["caption_ok"].all()
