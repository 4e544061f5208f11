"""Golden round-trip: engine relation assembly vs the scalar oracle
re-running connect -> round -> nest from the decoded world tables."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from tests.oracle import reference_oracle as ro


def _oracle_features(fx):
    """Assemble every multipolygon relation with the scalar oracle."""
    nodes = {
        r["id"]: (r["lon"], r["lat"]) for r in fx["nodes"].collect()
    }
    ways = {r["id"]: list(r["refs"]) for r in fx["ways"].collect()}
    out = {}
    for rel in fx["relations"].collect():
        tags = dict(rel["tags"])
        if tags.get("type") != "multipolygon":
            continue
        members = {"outer": [], "inner": []}
        for mid, role in zip(rel["memids"], rel["roles"]):
            if role not in members:
                continue  # reference drops non-inner/outer roles
                # (relation_handler.go:430-435)
            if mid in ways:
                line = [nodes[n] for n in ways[mid] if n in nodes]
                if len(line) >= 2:
                    members[role].append(line)
        outers = ro.connect(members["outer"])
        inners = ro.connect(members["inner"])
        rnd = lambda ring: [
            (ro.round_ref(x), ro.round_ref(y)) for x, y in ring
        ]
        outers = [rnd(r) for r in outers]
        inners = [rnd(r) for r in inners]
        polys = ro.assemble(outers, inners)
        out[rel["id"]] = polys
    return out


def test_relation_features_match_oracle(spark, fx, enc):
    from lazyosm_spark.operators.osm import (
        decode_nodes,
        decode_relations,
        decode_ways,
        relation_features,
    )

    got = {
        r["osm_id"]: r
        for r in relation_features(
            decode_relations(enc["relations_encoded"]),
            decode_ways(enc["ways_encoded"]),
            decode_nodes(enc["nodes_encoded"]),
        ).collect()
    }
    want = _oracle_features(fx)
    assert set(got) == set(want)
    for rid, polys in want.items():
        r = got[rid]
        assert r["geom_type"] == ("Polygon" if len(polys) == 1 else "MultiPolygon"), rid
        # exact coordinate equality, ring by ring
        got_coords = [
            [[tuple(pt) for pt in ring] for ring in poly] for poly in r["coords"]
        ]
        want_coords = [
            [[(float(x), float(y)) for x, y in ring] for ring in poly]
            for poly in polys
        ]
        assert got_coords == want_coords, f"relation {rid}"


def test_way_features_classification(spark, fx, enc):
    from lazyosm_spark.operators.osm import decode_nodes, decode_ways, way_features

    wf = {
        r["osm_id"]: r["geom_type"]
        for r in way_features(
            decode_ways(enc["ways_encoded"]), decode_nodes(enc["nodes_encoded"])
        ).collect()
    }
    for w in fx["ways"].collect():
        refs = list(w["refs"])
        tags = dict(w["tags"])
        closed = len(refs) > 1 and refs[0] == refs[-1]
        want = "Polygon" if closed and tags.get("area") != "no" else "LineString"
        assert wf[w["id"]] == want, w["id"]


def test_node_features_only_tagged(spark, enc):
    from lazyosm_spark.operators.osm import decode_nodes, node_features

    nodes = decode_nodes(enc["nodes_encoded"])
    n_tagged = nodes.filter(F.size("tags") > 0).count()
    feats = node_features(nodes)
    assert feats.count() == n_tagged
    assert feats.filter(F.col("geom_type") != "Point").count() == 0
