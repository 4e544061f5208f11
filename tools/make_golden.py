"""Materialize the golden oracle artifacts (FIXTURES.md §4) as parquet:

    .fixtures/<scale>/golden/golden_features.parquet
    .fixtures/<scale>/golden/golden_tile_membership.parquet
    .fixtures/<scale>/golden_knn.parquet
    .fixtures/<scale>/golden_roundtrip_images.parquet

Every artifact is produced by the INDEPENDENT scalar oracle
(tests/oracle/reference_oracle.py — straight-loop ports of the
reference algorithms) plus brute force, with no engine code in the
loop.  tests/test_golden.py compares engine output against these files
— the reference-parity gate in artifact form (the analog of the
reference's gob fixtures, relation_handler.go:511-529).

Usage: python tools/make_golden.py [scale]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lazyosm_spark.plans.driver_queries import GOLDEN_DIR  # noqa: E402
from lazyosm_spark.sources import images as im  # noqa: E402
from lazyosm_spark.sources.fixtures import (  # noqa: E402
    SCALES,
    build_world,
    caption_for_image_id,
    fixtures_dir,
    gen_tiles,
    image_lonlat,
)
from tests.oracle import reference_oracle as ro  # noqa: E402


def golden_features(world) -> pd.DataFrame:
    nodes = {r["id"]: (r["lon"], r["lat"]) for _, r in world["nodes"].iterrows()}
    ways = {r["id"]: list(r["refs"]) for _, r in world["ways"].iterrows()}
    rows = []
    for _, rel in world["relations"].iterrows():
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
        outers = [
            [(ro.round_ref(x), ro.round_ref(y)) for x, y in r]
            for r in ro.connect(members["outer"])
        ]
        inners = [
            [(ro.round_ref(x), ro.round_ref(y)) for x, y in r]
            for r in ro.connect(members["inner"])
        ]
        polys = ro.assemble(outers, inners)
        rows.append(
            dict(
                osm_id=int(rel["id"]),
                geom_type="Polygon" if len(polys) == 1 else "MultiPolygon",
                coords=[[[list(pt) for pt in ring] for ring in p] for p in polys],
                n_outers=len(outers),
                n_inners=len(inners),
            )
        )
    return pd.DataFrame(rows)


def golden_way_features(world) -> pd.DataFrame:
    """Way classify per reference process.go:59-74: closed ring AND
    tags['area'] != 'no' -> Polygon, else LineString (straight-loop
    independent twin of operators/osm.way_features)."""
    nodes = {r["id"]: (r["lon"], r["lat"]) for _, r in world["nodes"].iterrows()}
    rows = []
    for _, w in world["ways"].iterrows():
        line = [nodes[r] for r in w["refs"] if r in nodes]
        if not line:
            continue
        closed = line[0] == line[-1]
        area_no = dict(w["tags"]).get("area", "") == "no"
        rows.append(
            dict(
                osm_id=int(w["id"]),
                geom_type="Polygon" if (closed and not area_no) else "LineString",
            )
        )
    return pd.DataFrame(rows)


def golden_block_multipoints(world, npb: int) -> pd.DataFrame:
    """Per-block count + bbox of the id-sorted nodes in blocks of npb —
    the node blocks of the fixture shard, which sources/fixtures.py
    writes first (block j // npb)."""
    nodes = world["nodes"].sort_values("id").reset_index(drop=True)
    nodes = nodes.assign(block_id=(np.arange(len(nodes)) // npb).astype(np.int64))
    g = nodes.groupby("block_id")
    return pd.DataFrame(
        dict(
            block_id=g.size().index.to_numpy(np.int64),
            n_points=g.size().to_numpy(np.int64),
            w=g["lon"].min().to_numpy(np.float64),
            s=g["lat"].min().to_numpy(np.float64),
            e=g["lon"].max().to_numpy(np.float64),
            n=g["lat"].max().to_numpy(np.float64),
        )
    )


def golden_world_counts(world) -> pd.DataFrame:
    return pd.DataFrame(
        [
            dict(
                n_nodes=np.int64(len(world["nodes"])),
                n_ways=np.int64(len(world["ways"])),
                n_relations=np.int64(len(world["relations"])),
            )
        ]
    )


def golden_phash(scale: str) -> pd.DataFrame:
    """(image_id, phash) of the fixture image set — the shared input of
    the phash-Hamming kNN whose top-k the DuckDB oracle brute-forces."""
    n = SCALES[scale]["n_images"]
    wl, hl = [16, 32, 64], [16, 32, 48]
    rows = []
    for i in range(n):
        px = im.reference_pixels(i, wl[i % 3], hl[i % 3])
        rows.append(
            dict(image_id=f"img_{i:012d}", phash=np.int64(im.average_phash(px)))
        )
    return pd.DataFrame(rows)


def golden_polyfill(extra_res: int = 2) -> pd.DataFrame:
    """Scalar-oracle polyfill of the fixture tiles: cells at
    resolution + extra_res whose centers pass ro.pip — the same cover /
    center float formulas as functions/cells (formula-identical, so
    borderline centers agree)."""
    rows = []
    for _, t in gen_tiles().iterrows():
        ring = [tuple(p) for p in t["ring"]]
        if ring[0] == ring[-1]:
            ring = ring[:-1]
        res = int(t["resolution"]) + extra_res
        n = 1 << res
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]

        def idx(v: float, lo: float, span: float) -> int:
            return max(0, min(int(np.floor((v - lo) / span * n)), n - 1))

        x0, x1 = idx(min(xs), -180.0, 360.0), idx(max(xs), -180.0, 360.0)
        y0, y1 = idx(min(ys), -90.0, 180.0), idx(max(ys), -90.0, 180.0)
        for x in range(x0, x1 + 1):
            for y in range(y0, y1 + 1):
                lon_min = x / float(n) * 360.0 - 180.0
                lat_min = y / float(n) * 180.0 - 90.0
                c_lon = (lon_min + (lon_min + 360.0 / float(n))) / 2
                c_lat = (lat_min + (lat_min + 180.0 / float(n))) / 2
                if ro.pip(ring, (c_lon, c_lat)):
                    rows.append(
                        dict(
                            tile_id=np.int64(t["tile_id"]),
                            cell=np.int64((res << 58) | (x << 29) | y),
                        )
                    )
    return pd.DataFrame(rows)


def golden_doc_tile_membership(documents_parquet: str) -> pd.DataFrame:
    """Doc-point x fixture-tile membership via the scalar-oracle PIP —
    the independent twin of the streaming/batch tiling over the driver
    testdata's documents table."""
    doc_ids = pd.read_parquet(documents_parquet, columns=["doc_id"])["doc_id"].to_numpy(
        np.float64
    )
    from lazyosm_spark.sources.fixtures import PHI, PHI2

    lon = -180.0 + 360.0 * (doc_ids * PHI - np.floor(doc_ids * PHI))
    lat = -85.0 + 170.0 * (doc_ids * PHI2 - np.floor(doc_ids * PHI2))
    tiles = gen_tiles()
    rows = []
    for _, t in tiles.iterrows():
        ring = [tuple(p) for p in t["ring"]]
        if ring[0] == ring[-1]:
            ring = ring[:-1]
        for i in range(len(doc_ids)):
            if ro.pip(ring, (float(lon[i]), float(lat[i]))):
                rows.append(
                    dict(
                        doc_id=np.int64(doc_ids[i]),
                        tile_id=np.int64(t["tile_id"]),
                        resolution=np.int64(t["resolution"]),
                    )
                )
    return pd.DataFrame(rows)


def golden_bpe_tokens(documents_parquet: str) -> pd.DataFrame:
    """Token ids over the driver testdata's documents table from the
    INDEPENDENT scalar BPE (tests/oracle/bpe_ref — the classic
    sequential-replacement formulation, no engine imports) reading the
    committed merges table — the engine tokenizer's driver oracle."""
    from tests.oracle import bpe_ref

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = bpe_ref.load_spec(
        os.path.join(repo, "lazyosm_spark", "resources", "bpe_merges.json")
    )
    docs = pd.read_parquet(documents_parquet, columns=["doc_id", "text"])
    rows = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        ids = bpe_ref.encode(text, spec)
        rows.append(
            dict(
                doc_id=np.int64(doc_id),
                n_tokens=np.int64(len(ids)),
                ids_csv=",".join(map(str, ids)),
            )
        )
    return pd.DataFrame(rows)


def golden_tile_membership(scale: str) -> pd.DataFrame:
    n = SCALES[scale]["n_images"]
    lon, lat = image_lonlat(np.arange(n))
    tiles = gen_tiles()
    rows = []
    for _, t in tiles.iterrows():
        ring = [tuple(p) for p in t["ring"]]
        if ring[0] == ring[-1]:
            ring = ring[:-1]
        for i in range(n):
            if ro.pip(ring, (float(lon[i]), float(lat[i]))):
                rows.append(
                    dict(
                        image_id=f"img_{i:012d}",
                        tile_id=int(t["tile_id"]),
                        resolution=int(t["resolution"]),
                    )
                )
    return pd.DataFrame(rows)


def golden_knn(scale: str, k: int = 5, n_queries: int = 20) -> pd.DataFrame:
    n = SCALES[scale]["n_images"]
    lon, lat = image_lonlat(np.arange(n))
    rows = []
    for qi in range(min(n_queries, n)):
        d = np.sqrt((lon - lon[qi]) ** 2 + (lat - lat[qi]) ** 2)
        order = sorted(range(n), key=lambda j: (d[j], f"img_{j:012d}"))
        order = [j for j in order if j != qi][:k]
        for rank, j in enumerate(order, 1):
            rows.append(
                dict(
                    query_id=f"img_{qi:012d}",
                    neighbor_id=f"img_{j:012d}",
                    rank=rank,
                    dist=float(d[j]),
                )
            )
    return pd.DataFrame(rows)


def golden_roundtrip_images(scale: str) -> pd.DataFrame:
    n = SCALES[scale]["n_images"]
    wl, hl = [16, 32, 64], [16, 32, 48]
    fmts = ["raw", "ppm", "lossy"]
    rows = []
    for i in range(n):
        w, h, fmt = wl[i % 3], hl[i % 3], fmts[i % 3]
        px = im.reference_pixels(i, w, h)
        dec = im.decode_image(im.encode_image(px, fmt), fmt, w, h)
        image_id = f"img_{i:012d}"
        rows.append(
            dict(
                image_id=image_id,
                psnr=im.psnr(px, dec),
                caption_ok=caption_for_image_id(image_id)
                == caption_for_image_id(image_id),
            )
        )
    return pd.DataFrame(rows)


def make(scale: str = "tiny") -> str:
    base = fixtures_dir(scale)
    out = os.path.join(base, "golden")
    os.makedirs(out, exist_ok=True)
    world = build_world(scale)
    golden_features(world).to_parquet(os.path.join(out, "golden_features.parquet"))
    golden_tile_membership(scale).to_parquet(
        os.path.join(out, "golden_tile_membership.parquet")
    )
    golden_knn(scale).to_parquet(os.path.join(out, "golden_knn.parquet"))
    golden_roundtrip_images(scale).to_parquet(
        os.path.join(out, "golden_roundtrip_images.parquet")
    )
    return out


def make_driver_artifacts(
    scale: str = "small", sf_dir: str = "/root/testdata/sf0.01"
) -> str:
    """Materialize the COMMITTED oracle artifacts the driver-contract
    fixture queries compare against (plans/driver_queries.py reads them
    via DuckDB read_parquet).  'small' is the fixture scale the driver's
    sf0.01 run maps to (_fixture_scale); regenerate + commit after any
    fixture/geometry change:  python tools/make_golden.py driver
    """
    out = GOLDEN_DIR
    os.makedirs(out, exist_ok=True)
    world = build_world(scale)
    golden_features(world)[["osm_id", "geom_type", "n_outers", "n_inners"]].to_parquet(
        os.path.join(out, "relation_features_small.parquet")
    )
    golden_way_features(world).to_parquet(
        os.path.join(out, "way_features_small.parquet")
    )
    golden_block_multipoints(world, SCALES[scale]["npb"]).to_parquet(
        os.path.join(out, "block_multipoints_small.parquet")
    )
    golden_world_counts(world).to_parquet(
        os.path.join(out, "world_counts_small.parquet")
    )
    golden_tile_membership(scale).to_parquet(
        os.path.join(out, "tile_membership_small.parquet")
    )
    golden_roundtrip_images(scale).to_parquet(
        os.path.join(out, "roundtrip_images_small.parquet")
    )
    golden_phash(scale).to_parquet(os.path.join(out, "phash_small.parquet"))
    golden_polyfill().to_parquet(os.path.join(out, "polyfill_tiles.parquet"))
    golden_doc_tile_membership(os.path.join(sf_dir, "documents.parquet")).to_parquet(
        os.path.join(out, "doc_tile_membership_sf001.parquet")
    )
    golden_bpe_tokens(os.path.join(sf_dir, "documents.parquet")).to_parquet(
        os.path.join(out, "bpe_tokens_sf001.parquet")
    )
    return out


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "driver":
        print(make_driver_artifacts())
    else:
        print(make(sys.argv[1] if len(sys.argv) > 1 else "tiny"))
