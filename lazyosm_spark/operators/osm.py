"""Entity decode + feature assembly — the reference pipeline, Spark-first.

Maps the reference's three execution passes (SURVEY.md §3.1) onto
declarative DataFrame transforms:

- ProcessDenseNodes (process.go:276-295,116-154) -> decode_nodes +
  node_features: delta decode, tag unpack, tagless skip, Point features.
- ProcessWays (process.go:241-273,23-89) -> decode_ways + the
  way->node equi-join (J1) replacing the hand-rolled IdMap/LRU block
  scheduling: explode refs, shuffle join on node id, re-assemble in ref
  order with collect_list over a sorted window.
- ProcessRelations (relation_handler.go:284-508) -> relation->way->node
  3-level join (J2+J3) + ring connect / PIP nesting in applyInPandas.

Scale notes (100 TB): every join here is a key-partitioned shuffle
join — Catalyst/AQE pick broadcast automatically when a side is small.
The exploded way->node join is the heavy hitter; it shuffles
O(sum(len(refs))) rows hashed on node id, which is exactly what the
reference's greedy block-locality path (shortest_path.go:99-281)
approximates single-node.  Block-level pruning (TagsBool, id zone maps)
is a filter on the block rows' `has_tags` / min-max columns rather than
a hand-built catalog.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lazyosm_spark.functions.decode import (
    delta_decode,
    tags_from_keys_vals,
    unpack_dense_tags,
)
from lazyosm_spark.functions.geometry import (
    assemble_polygons,
    connect_rings,
    round_ref_np,
)

# ------------------------------------------------------------- decode ----


def decode_nodes(nodes_encoded: DataFrame, prune_tagless_blocks: bool = False) -> DataFrame:
    """Block rows (read_pbf's ``nodes_encoded``) -> per-node rows
    (id, lon, lat, tags, block_id).

    ``prune_tagless_blocks`` applies the TagsBool block filter
    (densenode.go:274-278 / process.go:283) BEFORE decode: blocks whose
    has_tags is false are dropped without unpacking their arrays.

    Coordinates use each block's granularity / lat_offset / lon_offset
    (process.go:121-123,136-137: deg = 1e-9 * (offset + granularity * q)).
    """
    df = nodes_encoded
    if prune_tagless_blocks:
        df = df.filter(F.col("has_tags"))
    z = df.select(
        "block_id",
        "granularity",
        "lat_offset",
        "lon_offset",
        F.explode(
            F.arrays_zip(
                delta_decode("ids_delta").alias("id"),
                delta_decode("lon_delta").alias("qlon"),
                delta_decode("lat_delta").alias("qlat"),
                unpack_dense_tags("keys_vals", "stringtable").alias("tags"),
            )
        ).alias("n"),
    )

    def degrees(q: str, offset: str):
        return (
            F.col(offset).cast("double")
            + F.col("granularity").cast("double") * F.col(q).cast("double")
        ) * F.lit(1e-9)

    return z.select(
        F.col("n.id").alias("id"),
        degrees("n.qlon", "lon_offset").alias("lon"),
        degrees("n.qlat", "lat_offset").alias("lat"),
        F.col("n.tags").alias("tags"),
        "block_id",
    )


def decode_ways(ways_encoded: DataFrame) -> DataFrame:
    """-> (id, refs array<long>, tags map) — refs delta-decoded
    (process.go:40-49), tags dictionary-decoded (process.go:31-37)."""
    return ways_encoded.select(
        "id",
        delta_decode("refs_delta").alias("refs"),
        tags_from_keys_vals("keys", "vals", "stringtable").alias("tags"),
        "block_id",
    )


def decode_relations(relations_encoded: DataFrame) -> DataFrame:
    """-> (id, memids array<long>, roles, member_types, tags)
    (relation_handler.go:138-154 memid delta decode)."""
    return relations_encoded.select(
        "id",
        delta_decode("memids_delta").alias("memids"),
        "roles",
        "member_types",
        "tags",
    )


# ------------------------------------------------------- way geometry ----


def way_lines(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """The workhorse J1 join: way refs -> ordered coordinate lists.

    -> (id, tags, line array<array<double>>, is_closed)
    Missing node refs drop the ref (inner join), matching the
    reference's skip-on-missing (nodemap.go:89-102 returns empty).
    """
    exploded = ways.select("id", "tags", F.posexplode("refs").alias("pos", "ref"))
    coords = nodes.select(
        F.col("id").alias("ref"), "lon", "lat"
    )
    return (
        exploded.join(coords, "ref", "inner")
        .groupBy("id")
        .agg(
            F.first("tags").alias("tags"),
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "lon", "lat"))
                ),
                lambda s: F.array(s["lon"], s["lat"]),
            ).alias("line"),
        )
        .withColumn(
            "is_closed",
            F.element_at("line", 1) == F.element_at("line", -1),
        )
    )


def way_features(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Way classify (G5, process.go:59-74): closed + area!=no -> Polygon
    (single ring), else LineString.  Coords NOT rounded (SURVEY §1.2)."""
    lines = way_lines(ways, nodes)
    is_poly = F.col("is_closed") & (
        F.coalesce(F.col("tags").getItem("area"), F.lit("")) != F.lit("no")
    )
    return lines.select(
        F.col("id").alias("osm_id"),
        F.when(is_poly, F.lit("Polygon")).otherwise(F.lit("LineString")).alias("geom_type"),
        # uniform 4-deep nesting: parts -> rings/lines -> points -> [x,y]
        F.array(F.array(F.col("line"))).alias("coords"),
        F.col("tags").alias("properties"),
    )


def node_features(nodes: DataFrame) -> DataFrame:
    """Tagged nodes -> Point features (process.go:140-152); tagless
    skipped (row-level filter; block level handled at scan)."""
    return nodes.filter(F.size("tags") > 0).select(
        F.col("id").alias("osm_id"),
        F.lit("Point").alias("geom_type"),
        F.array(F.array(F.array(F.array("lon", "lat")))).alias("coords"),
        F.col("tags").alias("properties"),
    )


# -------------------------------------------------- relation assembly ----

_ASSEMBLY_SCHEMA = (
    "osm_id long, geom_type string, coords array<array<array<array<double>>>>, "
    "n_outers int, n_inners int"
)


def _assemble_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map kernel: one relation's member ways (+role, +ordered
    coords) -> one (Multi)Polygon row.  Runs Connect -> RoundPt ->
    Within nesting exactly per reference order (relation_handler.go:
    439-488): rings connect on raw coords, rounding applies to the
    assembled ring coords before PIP nesting."""
    rel_id = int(pdf["rel_id"].iloc[0])
    members: dict[str, list[list[tuple]]] = {"outer": [], "inner": []}
    for row in pdf.sort_values("member_pos").itertuples(index=False):
        if row.role not in ("outer", "inner"):
            # the reference appends ONLY role=='inner'/'outer' members
            # (relation_handler.go:430-435, no else branch) — any other
            # role ('outline', '', etc.) is dropped, not coerced
            continue
        line = [tuple(pt) for pt in row.line]
        if len(line) >= 2:
            members[row.role].append(line)
    outers = connect_rings(members["outer"])
    inners = connect_rings(members["inner"])
    # RoundPt: half-up/floor rounding to 6dp on relation rings ONLY
    outers = [round_ref_np(np.asarray(r, dtype=np.float64)) for r in outers]
    inners = [round_ref_np(np.asarray(r, dtype=np.float64)) for r in inners]
    polys = assemble_polygons(outers, inners)
    geom_type = "Polygon" if len(polys) == 1 else "MultiPolygon"
    # uniform 4-deep nesting: polygons -> rings -> points -> [x,y]
    coords = [[ring.tolist() for ring in p] for p in polys]
    return pd.DataFrame(
        [
            dict(
                osm_id=rel_id,
                geom_type=geom_type,
                coords=coords,
                n_outers=len(outers),
                n_inners=len(inners),
            )
        ]
    )


def relation_features(
    relations: DataFrame, ways: DataFrame, nodes: DataFrame
) -> DataFrame:
    """Relation -> (Multi)Polygon features: the 3-level join (J2+J3)
    plus per-relation geometry assembly in applyInPandas.

    Only type=multipolygon relations are assembled
    (relation_handler.go:312,417).  The per-relation group is tiny
    (its member rings), so the grouped-map kernel is cheap; all the
    data movement is plain shuffle joins Catalyst can plan.
    """
    mp = relations.filter(F.col("tags").getItem("type") == "multipolygon")
    members = mp.select(
        F.col("id").alias("rel_id"),
        F.posexplode(F.arrays_zip(F.col("memids").alias("memid"), F.col("roles").alias("role"))).alias(
            "member_pos", "m"
        ),
    ).select("rel_id", "member_pos", F.col("m.memid").alias("way_id"), F.col("m.role").alias("role"))

    lines = way_lines(ways, nodes).select(F.col("id").alias("way_id"), "line")
    joined = members.join(lines, "way_id", "inner")

    assembled = joined.groupBy("rel_id").applyInPandas(
        _assemble_group, schema=_ASSEMBLY_SCHEMA
    )
    props = mp.select(F.col("id").alias("osm_id"), F.col("tags").alias("properties"))
    return assembled.join(props, "osm_id", "inner").select(
        "osm_id", "geom_type", "coords", "properties", "n_outers", "n_inners"
    )


def all_features(
    nodes: DataFrame, ways: DataFrame, relations: DataFrame
) -> DataFrame:
    """The full ProcessFile analog (process.go:339-348): relations +
    ways + tagged nodes, one features DataFrame (geobuf-sink analog is
    just .write.parquet / to_json)."""
    rel = relation_features(relations, ways, nodes).select(
        "osm_id", "geom_type", "coords", "properties"
    )
    way = way_features(ways, nodes)
    node = node_features(nodes)
    return rel.unionByName(way).unionByName(node)


# ------------------------------------------------------------- sinks ----


def features_to_geojson(features: DataFrame) -> DataFrame:
    """Feature rows -> GeoJSON Feature strings (S7, the geobuf-writer
    analog: process.go:77-79, relation_handler.go:476-487).  The
    uniform 4-deep coords nesting is unwrapped per geometry type; all
    string assembly is JVM-side (to_json + concat), no Python.

    -> (osm_id, geojson string); write with .write.text / .json.
    """
    c = F.col("coords")
    coords_json = (
        F.when(F.col("geom_type") == "Point", F.to_json(c[0][0][0]))
        .when(F.col("geom_type") == "LineString", F.to_json(c[0][0]))
        .when(F.col("geom_type") == "Polygon", F.to_json(c[0]))
        .otherwise(F.to_json(c))
    )
    props = F.when(
        F.col("properties").isNull(), F.lit("{}")
    ).otherwise(F.to_json(F.col("properties")))
    feature = F.concat(
        F.lit('{"type":"Feature","geometry":{"type":"'),
        F.col("geom_type"),
        F.lit('","coordinates":'),
        coords_json,
        F.lit('},"properties":'),
        props,
        F.lit(',"id":'),
        F.col("osm_id").cast("string"),
        F.lit("}"),
    )
    return features.select(F.col("osm_id"), feature.alias("geojson"))


def block_multipoints(nodes: DataFrame) -> DataFrame:
    """Per-block MultiPoint debug feature (G7, process.go:459-500):
    the block's point cloud as one feature, with the block's bbox
    (A2 min/max aggregation, densenode.go:128-163)."""
    return nodes.groupBy("block_id").agg(
        F.count("*").alias("n_points"),
        F.min("lon").alias("w"),
        F.min("lat").alias("s"),
        F.max("lon").alias("e"),
        F.max("lat").alias("n"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("id", "lon", "lat"))),
            lambda p: F.array(p["lon"], p["lat"]),
        ).alias("points"),
    )
