"""Geobuf sink round-trip (S7 parity, reference top_level.go:113):
engine features -> Mapbox-geobuf blobs -> decode == the same features
(ids, types, properties byte-equal; coordinates exact at the format's
precision-7 quantization, which is lossless for the fixture grid), and
re-encode(decode(x)) is byte-stable."""

from __future__ import annotations

import json


def _canon_coords(coords, p=7, close_rings=False):
    out = []
    for poly in coords:
        rings = []
        for ring in poly:
            r = [[round(float(x), p) for x in pt] for pt in ring]
            # geobuf stores polygon rings in implicitly-closed form (the
            # reference PIP's wraparound edge semantics) — canonicalize
            # an unclosed degenerate ring the same way before comparing
            if close_rings and r and r[0] != r[-1]:
                r.append(list(r[0]))
            rings.append(r)
        out.append(rings)
    return json.dumps(out)


def test_geobuf_roundtrip_features(spark, enc):
    from lazyosm_spark.operators.osm import (
        all_features,
        decode_nodes,
        decode_relations,
        decode_ways,
    )
    from lazyosm_spark.sources.geobuf import (
        decode_feature_collection,
        encode_feature_collection,
        geobuf_sink,
    )

    feats = all_features(
        decode_nodes(enc["nodes_encoded"]),
        decode_ways(enc["ways_encoded"]),
        decode_relations(enc["relations_encoded"]),
    )
    want = {
        r["osm_id"]: r
        for r in feats.collect()
    }

    blobs = geobuf_sink(feats).collect()
    assert sum(b["n_features"] for b in blobs) == len(want)

    got = {}
    for b in blobs:
        for f in decode_feature_collection(bytes(b["geobuf"])):
            got[f["osm_id"]] = f
    assert set(got) == set(want)

    for oid, f in got.items():
        w = want[oid]
        assert f["geom_type"] == w["geom_type"], oid
        assert f["properties"] == dict(w["properties"]), oid
        w_coords = [
            [[list(pt) for pt in ring] for ring in poly] for poly in w["coords"]
        ]
        close = w["geom_type"] in ("Polygon", "MultiPolygon")
        assert _canon_coords(f["coords"], close_rings=close) == _canon_coords(
            w_coords, close_rings=close
        ), oid

    # byte-stable re-encode: decode(x) -> encode == x
    blob0 = bytes(blobs[0]["geobuf"])
    back = encode_feature_collection(
        [
            (f["osm_id"], f["geom_type"], f["coords"], f["properties"])
            for f in decode_feature_collection(blob0)
        ]
    )
    assert back == blob0


def test_geobuf_geojson_content_parity(spark, enc):
    """Decoded geobuf features carry the SAME content as the GeoJSON
    sink strings (parsed comparison: geometry/properties/id)."""
    from lazyosm_spark.operators.osm import (
        decode_nodes,
        decode_relations,
        decode_ways,
        features_to_geojson,
        relation_features,
    )
    from lazyosm_spark.sources.geobuf import decode_feature_collection, geobuf_sink

    rf = relation_features(
        decode_relations(enc["relations_encoded"]),
        decode_ways(enc["ways_encoded"]),
        decode_nodes(enc["nodes_encoded"]),
    )
    gj = {
        r["osm_id"]: json.loads(r["geojson"])
        for r in features_to_geojson(rf).collect()
    }
    dec = {}
    for b in geobuf_sink(rf).collect():
        for f in decode_feature_collection(bytes(b["geobuf"])):
            dec[f["osm_id"]] = f
    assert set(dec) == set(gj)
    for oid, f in dec.items():
        g = gj[oid]
        assert g["geometry"]["type"] == f["geom_type"]
        assert g["properties"] == f["properties"]
        assert g["id"] == f["osm_id"]
        if f["geom_type"] == "Polygon":
            got = [f["coords"][0]]
            want = [g["geometry"]["coordinates"]]
        else:
            got = f["coords"]
            want = g["geometry"]["coordinates"]
        assert _canon_coords(got, close_rings=True) == _canon_coords(
            want, close_rings=True
        ), oid
