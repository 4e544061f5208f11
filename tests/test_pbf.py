"""PBF wire-format round-trip: world -> .osm.pbf shards -> distributed
scan -> decoded entities == world; block ids across shards; the fixture
cache as a PBF shard."""

from __future__ import annotations

import glob
import os
import re
import tempfile

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from lazyosm_spark.sources import pbf


def test_varint_vectorized_roundtrip():
    rng = np.random.default_rng(3)
    vals = np.concatenate(
        [
            rng.integers(0, 127, 50),
            rng.integers(0, 2**32, 50),
            rng.integers(0, 2**62, 20),
            [0, 1, 127, 128, 2**62],
        ]
    ).astype(np.int64)
    buf = pbf.encode_varints(vals)
    out = pbf.decode_varints_np(buf)
    assert out.tolist() == vals.tolist()

    svals = np.concatenate([vals, -vals]).astype(np.int64)
    sbuf = pbf.encode_svarints(svals)
    sout = pbf.decode_svarints_np(sbuf)
    assert sout.tolist() == svals.tolist()


def test_pbf_roundtrip_matches_world(spark):
    from lazyosm_spark.operators.osm import (
        decode_nodes,
        decode_relations,
        decode_ways,
    )
    from lazyosm_spark.sources.fixtures import build_world

    world = build_world("tiny")
    with tempfile.TemporaryDirectory() as d:
        # shard nodes across 3 files (block-parallel scan layout)
        n = world["nodes"]
        thirds = np.array_split(np.argsort(n["id"].to_numpy()), 3)
        for si, idxs in enumerate(thirds):
            pbf.write_pbf_shard(
                os.path.join(d, f"nodes_{si}.osm.pbf"),
                nodes=n.iloc[idxs],
                block_size=50,
            )
        pbf.write_pbf_shard(
            os.path.join(d, "ways.osm.pbf"), ways=world["ways"], block_size=10
        )
        pbf.write_pbf_shard(
            os.path.join(d, "rels.osm.pbf"), relations=world["relations"]
        )
        assert len(glob.glob(os.path.join(d, "*.pbf"))) == 5

        enc = pbf.read_pbf(spark, os.path.join(d, "*.osm.pbf"))
        nodes = decode_nodes(enc["nodes_encoded"])
        ways = decode_ways(enc["ways_encoded"])
        rels = decode_relations(enc["relations_encoded"])

        wn = spark.createDataFrame(
            world["nodes"][["id", "lon", "lat"]]
        )
        assert nodes.count() == len(world["nodes"])
        assert nodes.select("id", "lon", "lat").exceptAll(wn).count() == 0

        # tags round-trip (json-normalized compare)
        got_tags = {
            r["id"]: dict(r["tags"]) for r in nodes.select("id", "tags").collect()
        }
        for _, row in world["nodes"].iterrows():
            assert got_tags[row["id"]] == dict(row["tags"]), row["id"]

        got_ways = {r["id"]: list(r["refs"]) for r in ways.collect()}
        for _, row in world["ways"].iterrows():
            assert got_ways[row["id"]] == list(row["refs"])

        got_rels = {
            r["id"]: (list(r["memids"]), list(r["roles"]), dict(r["tags"]))
            for r in rels.collect()
        }
        for _, row in world["relations"].iterrows():
            assert got_rels[row["id"]] == (
                list(row["memids"]),
                list(row["roles"]),
                dict(row["tags"]),
            )


def test_pbf_plain_nodes_and_granularity(spark):
    """Non-dense ``Nodes`` groups (primitiveblock.go:95-110) and
    non-default granularity/offsets (process.go:121-123) must decode to
    the same coordinates the reference formula produces."""
    from lazyosm_spark.operators.osm import decode_nodes

    gran, lat_off, lon_off = 200, 5000, -3000
    rows = [
        (10, 123456, -654321, {"name": "a", "highway": "primary"}),
        (11, -1, 1, {}),
        (12, 999999, 888888, {"building": "yes"}),
    ]
    pdf = pd.DataFrame(rows, columns=["id", "qlon", "qlat", "tags"])
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "plain.osm.pbf")
        pbf.write_pbf_shard(
            path,
            plain_nodes=pdf,
            granularity=gran,
            lat_offset=lat_off,
            lon_offset=lon_off,
        )
        enc = pbf.read_pbf(spark, path)
        got = {r["id"]: r for r in decode_nodes(enc["nodes_encoded"]).collect()}
        assert set(got) == {10, 11, 12}
        for nid, qlon, qlat, tags in rows:
            r = got[nid]
            assert r["lon"] == 1e-9 * float(lon_off + gran * qlon), nid
            assert r["lat"] == 1e-9 * float(lat_off + gran * qlat), nid
            assert dict(r["tags"]) == tags

        # a dense shard at non-default granularity decodes identically
        path2 = os.path.join(d, "dense.osm.pbf")
        pbf.write_pbf_shard(path2, nodes=pdf, granularity=gran,
                            lat_offset=lat_off, lon_offset=lon_off)
        got2 = {
            r["id"]: r
            for r in decode_nodes(pbf.read_pbf(spark, path2)["nodes_encoded"]).collect()
        }
        assert {k: (v["lon"], v["lat"]) for k, v in got.items()} == {
            k: (v["lon"], v["lat"]) for k, v in got2.items()
        }


def test_pbf_mixed_dense_and_plain_nodes_one_shard(spark):
    """One .osm.pbf carrying BOTH DenseNodes and plain Nodes blocks
    (spec-legal mix) decodes to the union, ids intact."""
    from lazyosm_spark.operators.osm import decode_nodes

    dense = pd.DataFrame(
        [(1, 10, 20, {"a": "1"}), (2, 30, 40, {})],
        columns=["id", "qlon", "qlat", "tags"],
    )
    plain = pd.DataFrame(
        [(100, -10, -20, {"b": "2"}), (101, -30, -40, {})],
        columns=["id", "qlon", "qlat", "tags"],
    )
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "mix.osm.pbf")
        pbf.write_pbf_shard(path, nodes=dense, plain_nodes=plain)
        got = {
            r["id"]: (dict(r["tags"]), r["lon"], r["lat"])
            for r in decode_nodes(pbf.read_pbf(spark, path)["nodes_encoded"]).collect()
        }
        assert set(got) == {1, 2, 100, 101}
        assert got[1][0] == {"a": "1"} and got[100][0] == {"b": "2"}
        assert got[100][1] == 1e-9 * (100 * -10) and got[100][2] == 1e-9 * (100 * -20)


def test_pbf_header_roundtrip_and_capability_check(spark):
    """OSMHeader decode (top_level.go:328-373): bbox x1e-9 round-trips,
    replication metadata lands in the header table, and a shard whose
    required_features include an unsupported one is REJECTED
    (top_level.go:340-345)."""
    import pytest

    pdf = pd.DataFrame(
        [(1, 100, 200, {})], columns=["id", "qlon", "qlat", "tags"]
    )
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "h.osm.pbf")
        pbf.write_pbf_shard(
            path,
            nodes=pdf,
            bbox=(-10.5, -20.25, 30.75, 40.125),
            writing_program="lazyosm_spark",
            source="fixture",
            replication_ts=1700000000,
            replication_seq=42,
            replication_url="https://example.org/replication",
        )
        hdr = pbf.read_pbf(spark, path)["header"].collect()
        assert len(hdr) == 1
        h = hdr[0]
        # decode is 1e-9 * nanodeg (top_level.go:365-370) — bit-exact vs
        # the same formula, not vs the pre-quantization float
        exp = tuple(1e-9 * round(v * 1e9) for v in (-10.5, -20.25, 30.75, 40.125))
        assert (h["bbox_w"], h["bbox_s"], h["bbox_e"], h["bbox_n"]) == exp
        assert list(h["required_features"]) == ["OsmSchema-V0.6", "DenseNodes"]
        assert h["writing_program"] == "lazyosm_spark"
        assert h["replication_seq"] == 42 and h["replication_ts"] == 1700000000

        bad = os.path.join(d, "bad.osm.pbf")
        pbf.write_pbf_shard(
            bad, nodes=pdf, required_features=("OsmSchema-V0.6", "Sort.Type_then_ID")
        )
        # read_pbf is eager: the call itself raises
        with pytest.raises(Exception, match="Sort.Type_then_ID"):
            pbf.read_pbf(spark, bad)
        # driver-side parse rejects identically (the reference's
        # fail-fast shape)
        with open(bad, "rb") as f:
            with pytest.raises(ValueError, match="capability"):
                pbf.parse_pbf_bytes(f.read())


def test_pbf_tagless_block_flag(spark):
    from lazyosm_spark.sources.fixtures import build_world

    world = build_world("tiny")
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "n.osm.pbf")
        pbf.write_pbf_shard(path, nodes=world["nodes"], block_size=50)
        enc = pbf.read_pbf(spark, path)
        blocks = enc["nodes_encoded"].select("has_tags", "min_id", "max_id").collect()
        # the fixture world contains fully-untagged id runs -> some
        # blocks must carry has_tags=False (TagsBool zone-map analog)
        flags = [r["has_tags"] for r in blocks]
        assert any(flags) and not all(flags)
        # zone maps are disjoint and ordered within the sorted shard
        spans = sorted((r["min_id"], r["max_id"]) for r in blocks)
        for (a1, b1), (a2, b2) in zip(spans, spans[1:]):
            assert b1 < a2


def test_pbf_block_ids_unique_across_shards(spark):
    """Every shard numbers its blocks from 0 on its own; read_pbf must
    keep the ids apart, or block_multipoints merges blocks of different
    shards into one feature."""
    from lazyosm_spark.operators.osm import block_multipoints, decode_nodes
    from lazyosm_spark.sources.fixtures import build_world

    nodes = build_world("tiny")["nodes"]
    halves = np.array_split(np.arange(len(nodes)), 2)
    with tempfile.TemporaryDirectory() as d:
        for si, idx in enumerate(halves):
            pbf.write_pbf_shard(
                os.path.join(d, f"n{si}.osm.pbf"), nodes=nodes.iloc[idx], block_size=50
            )
        enc = pbf.read_pbf(spark, os.path.join(d, "*.osm.pbf"))
        blocks = block_multipoints(decode_nodes(enc["nodes_encoded"])).collect()
    assert len(blocks) == sum(-(-len(idx) // 50) for idx in halves)
    assert sum(b["n_points"] for b in blocks) == len(nodes)
    assert max(b["n_points"] for b in blocks) <= 50


def test_read_pbf_glob_matching_nothing_raises(spark, tmp_path):
    """A path or glob that matches no shard is an error naming it, not an
    empty read."""
    import pytest

    for missing in (tmp_path / "*.osm.pbf", tmp_path / "absent.osm.pbf"):
        with pytest.raises(ValueError, match=re.escape(str(missing))):
            pbf.read_pbf(spark, str(missing))


def test_stale_fixture_cache_is_rebuilt(spark, tmp_path, monkeypatch):
    """A fixture dir of the parquet block layout (``_DONE`` beside
    ``nodes_encoded.parquet``, no shard) is rebuilt, not read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lazyosm_spark.sources.fixtures import OSM_SHARD, fixture_pbf

    stale = tmp_path / "tiny"
    stale.mkdir()
    (stale / "_DONE").write_text("{}")
    pq.write_table(pa.table({"block_id": [0]}), stale / "nodes_encoded.parquet")
    monkeypatch.setenv("LAZYOSM_FIXTURES", str(tmp_path))

    enc = fixture_pbf(spark, "tiny")
    assert (stale / OSM_SHARD).exists()
    assert not (stale / "nodes_encoded.parquet").exists()
    assert "granularity" in enc["nodes_encoded"].columns
    assert enc["nodes_encoded"].count() > 1
