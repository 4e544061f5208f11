"""Unit tests: delta/zigzag/round/tag decode vs the scalar oracle and
hand-computed values; full round-trip of encoded fixtures."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from tests.oracle import reference_oracle as ro


def test_delta_decode_hand_cases(spark):
    from lazyosm_spark.functions.decode import delta_decode

    cases = [
        [5, 1, -2, 3],
        [],
        [0],
        [-10, 20, -30],
        [1] * 100,
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i int, deltas array<long>"
    )
    out = {
        r["i"]: r["dec"]
        for r in df.select("i", delta_decode("deltas").alias("dec")).collect()
    }
    for i, c in enumerate(cases):
        assert out[i] == ro.delta_decode(c), (i, c)


def test_zigzag_roundtrip(spark):
    from lazyosm_spark.functions.decode import zigzag_decode, zigzag_encode

    vals = [0, 1, -1, 2, -2, 2**31, -(2**31), 123456789, -987654321]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    out = df.select(
        "v", zigzag_decode(zigzag_encode("v")).alias("rt")
    ).collect()
    for r in out:
        assert r["rt"] == r["v"]


def test_round_ref_semantics(spark):
    """The Go Modf quirk: positives half-up, negatives always floor."""
    from lazyosm_spark.functions.decode import round_ref

    vals = [
        1.2345675, 1.2345674, -1.2345674, -1.2345675,
        0.0000005, -0.0000001, 2.0, -2.0, 0.0,
        89.99999949, -179.99999951,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = df.select("v", round_ref("v").alias("r")).collect()
    for r in out:
        assert r["r"] == ro.round_ref(r["v"]), (r["v"], r["r"], ro.round_ref(r["v"]))


def test_nodes_roundtrip_exact(spark, fx, enc):
    from lazyosm_spark.operators.osm import decode_nodes

    decoded = decode_nodes(enc["nodes_encoded"])
    world = fx["nodes"]
    assert decoded.count() == world.count()
    assert (
        decoded.select("id", "lon", "lat")
        .exceptAll(world.select("id", "lon", "lat"))
        .count()
        == 0
    )
    a = decoded.select("id", F.to_json("tags").alias("t"))
    b = world.select("id", F.to_json("tags").alias("t"))
    assert a.exceptAll(b).count() == 0


def test_ways_relations_roundtrip(spark, fx, enc):
    from lazyosm_spark.operators.osm import decode_relations, decode_ways

    assert (
        decode_ways(enc["ways_encoded"])
        .select("id", "refs")
        .exceptAll(fx["ways"].select("id", "refs"))
        .count()
        == 0
    )
    assert (
        decode_relations(enc["relations_encoded"])
        .select("id", "memids")
        .exceptAll(fx["relations"].select("id", "memids"))
        .count()
        == 0
    )


def test_tagless_block_pruning_preserves_tagged(spark, enc):
    from lazyosm_spark.operators.osm import decode_nodes

    full = decode_nodes(enc["nodes_encoded"]).filter(F.size("tags") > 0).count()
    pruned = (
        decode_nodes(enc["nodes_encoded"], prune_tagless_blocks=True)
        .filter(F.size("tags") > 0)
        .count()
    )
    assert full == pruned
