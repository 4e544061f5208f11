"""Seeded input generators.  Everything here is a pure function of a
``numpy.random.Generator``: the same seed gives byte-identical inputs,
and the engine only ever sees the tables and files written from them.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

GRAN_DEG = 1e-7  # PBF granularity 100 (nanodegree units x 100)
NODE_TAGS = ["amenity", "shop", "name", "highway"]
WAY_TAGS = ["primary", "residential", "service", "track"]


def tile_pyramid(rng: np.random.Generator, n_per_res: int = 24) -> pd.DataFrame:
    """Tile polygons at resolutions 3..8, one per distinct cell.  A third
    are the exact cell box; the rest are convex-ish polygons strictly
    inside their cell, so every ring lies inside the cell its tile_id
    names (the engine's candidate join relies on that)."""
    rows, seen = [], set()
    for res in range(3, 9):
        nx = 1 << res
        for t in range(n_per_res):
            x = int(rng.integers(0, nx))
            y = int(rng.integers(int(nx * 0.05), int(nx * 0.95)))
            cell = (res << 58) | (x << 29) | y
            if cell in seen:
                continue
            seen.add(cell)
            lon0, lat0 = x / nx * 360.0 - 180.0, y / nx * 180.0 - 90.0
            dlon, dlat = 360.0 / nx, 180.0 / nx
            if t % 3 == 0:
                ring = [[lon0, lat0], [lon0 + dlon, lat0], [lon0 + dlon, lat0 + dlat],
                        [lon0, lat0 + dlat], [lon0, lat0]]
            else:
                k = int(rng.integers(5, 13))
                angs = np.sort(rng.uniform(0, 2 * np.pi, k))
                rad = rng.uniform(0.25, 0.48, k)
                cx, cy = lon0 + dlon / 2, lat0 + dlat / 2
                ring = [[cx + float(np.cos(a) * r * dlon), cy + float(np.sin(a) * r * dlat)]
                        for a, r in zip(angs, rad)]
                ring.append(ring[0])
            rows.append({"tile_id": cell, "resolution": np.int32(res), "ring": ring})
    return pd.DataFrame(rows)


def point_cloud(rng: np.random.Generator, n: int, first_id: int = 0) -> pd.DataFrame:
    """(point_id long, lon, lat) uniform over the tile band."""
    return pd.DataFrame({
        "point_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "lon": rng.uniform(-180.0, 180.0, n),
        "lat": rng.uniform(-85.0, 85.0, n),
    })


def skewed_cloud(rng: np.random.Generator, n: int, tiles: pd.DataFrame,
                 hot_frac: float = 0.35) -> pd.DataFrame:
    """A uniform cloud where ``hot_frac`` of the points fall inside the
    cell of one coarse tile: the dense-city case that salting exists for."""
    pts = point_cloud(rng, n)
    coarse = tiles[tiles["resolution"] == tiles["resolution"].min()]
    hot = int(coarse["tile_id"].iloc[int(rng.integers(0, len(coarse)))])
    res = hot >> 58
    nx = 1 << res
    hx, hy = (hot >> 29) & ((1 << 29) - 1), hot & ((1 << 29) - 1)
    is_hot = rng.random(n) < hot_frac
    m = int(is_hot.sum())
    pts.loc[is_hot, "lon"] = hx / nx * 360.0 - 180.0 + rng.uniform(0.02, 0.98, m) * 360.0 / nx
    pts.loc[is_hot, "lat"] = hy / nx * 180.0 - 90.0 + rng.uniform(0.02, 0.98, m) * 180.0 / nx
    return pts


def knn_panel(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """(query_id long, lon, lat) query panel."""
    return point_cloud(rng, n).rename(columns={"point_id": "query_id"})


def documents(rng: np.random.Generator, n: int, vocab: int = 3000,
              dup_frac: float = 0.15) -> tuple[pd.DataFrame, np.ndarray]:
    """(doc_id long, text) with planted near-duplicates: ``dup_frac`` of
    the documents copy an earlier one with a few words replaced, so the
    LSH verify step has real pairs to find.  Also returns each
    document's family (the original it descends from)."""
    words = np.array([f"w{i:04d}" for i in range(vocab)])
    lens = rng.integers(20, 60, n)
    texts: list[str] = []
    family = np.arange(n)
    for i in range(n):
        if i > 0 and rng.random() < dup_frac:
            src = int(rng.integers(0, i))
            family[i] = family[src]
            toks = texts[src].split()
            for j in rng.integers(0, len(toks), int(rng.integers(1, 4))):
                toks[j] = words[int(rng.integers(0, vocab))]
        else:
            toks = list(words[rng.integers(0, vocab, lens[i])])
        texts.append(" ".join(toks))
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts}), family


def osm_world(rng: np.random.Generator, n_nodes: int, n_ways: int, n_rels: int) -> dict:
    """Seeded OSM entities in write_pbf_shard's input shape.

    - ``n_nodes`` standalone nodes, 60% tagged (each tagged one is a
      Point feature);
    - ``n_ways`` lines of 3-8 fresh untagged nodes, 40% closed;
    - ``n_rels`` multipolygon relations: a square outer ring split into
      2-4 member ways (shuffled, some reversed), every other one with a
      square hole.  Member ways are ways too, so they are features.

    Returns the entity frames and ``n_features``, the feature count the
    conversion must produce: tagged nodes + all ways + relations.
    """
    node_rows: list[tuple] = []
    way_rows: list[tuple] = []
    rel_rows: list[tuple] = []
    nid, wid, rid = [0], [0], [0]

    def node(qlon: int, qlat: int, tags: dict) -> int:
        nid[0] += 1
        node_rows.append((nid[0], qlon, qlat, tags))
        return nid[0]

    def way(refs: list[int], tags: dict) -> int:
        wid[0] += 1
        way_rows.append((wid[0], refs, tags))
        return wid[0]

    def q(deg: float) -> int:
        return int(round(deg / GRAN_DEG))

    lon = rng.uniform(-179.0, 179.0, n_nodes)
    lat = rng.uniform(-84.0, 84.0, n_nodes)
    tagged = rng.random(n_nodes) < 0.6
    for j in range(n_nodes):
        tags = {NODE_TAGS[j % 4]: f"v{j % 97}", "name": f"n{j}"} if tagged[j] else {}
        node(q(lon[j]), q(lat[j]), tags)

    for w in range(n_ways):
        cx, cy = rng.uniform(-179.0, 179.0), rng.uniform(-84.0, 84.0)
        n = int(rng.integers(3, 9))
        refs = [node(q(cx + dx), q(cy + dy), {})
                for dx, dy in rng.uniform(-0.005, 0.005, (n, 2))]
        if rng.random() < 0.4:
            refs.append(refs[0])
        way(refs, {"highway": WAY_TAGS[w % 4]})

    def ring_ways(cx: float, cy: float, half: float, n_split: int) -> list[int]:
        corners = [(cx - half, cy - half), (cx + half, cy - half),
                   (cx + half, cy + half), (cx - half, cy + half)]
        pts = [(a[0] + (b[0] - a[0]) * t / 3, a[1] + (b[1] - a[1]) * t / 3)
               for a, b in zip(corners, corners[1:] + corners[:1]) for t in range(3)]
        ids = [node(q(x), q(y), {}) for x, y in pts]
        cyc = ids + [ids[0]]
        cuts = sorted(rng.choice(np.arange(1, len(cyc) - 1), n_split - 1, replace=False))
        bounds = [0, *cuts, len(cyc) - 1]
        members = []
        for s, e in zip(bounds[:-1], bounds[1:]):
            seg = cyc[s:e + 1]
            members.append(way(seg[::-1] if rng.random() < 0.4 else seg, {"building": "yes"}))
        return [members[i] for i in rng.permutation(len(members))]

    for r in range(n_rels):
        cx, cy = rng.uniform(-170.0, 170.0), rng.uniform(-75.0, 75.0)
        half = rng.uniform(0.05, 0.3)
        memids = ring_ways(cx, cy, half, int(rng.integers(2, 5)))
        roles = ["outer"] * len(memids)
        if r % 2:
            inner = ring_ways(cx, cy, half / 4, 2)
            memids += inner
            roles += ["inner"] * len(inner)
        rid[0] += 1
        rel_rows.append((rid[0], memids, roles, [1] * len(memids),
                         {"type": "multipolygon", "name": f"r{r}"}))

    nodes = pd.DataFrame(node_rows, columns=["id", "qlon", "qlat", "tags"])
    ways = pd.DataFrame(way_rows, columns=["id", "refs", "tags"])
    rels = pd.DataFrame(rel_rows, columns=["id", "memids", "roles", "member_types", "tags"])
    return {
        "nodes": nodes, "ways": ways, "relations": rels,
        "n_entities": len(nodes) + len(ways) + len(rels),
        "n_features": int(tagged.sum()) + len(ways) + len(rels),
    }


def write_pbf_world(world: dict, out_dir: str, node_shards: int) -> None:
    """Write the world as ``node_shards`` node shards plus one way and one
    relation shard."""
    from lazyosm_spark.sources.pbf import write_pbf_shard

    nodes = world["nodes"]
    for i, idx in enumerate(np.array_split(np.arange(len(nodes)), node_shards)):
        write_pbf_shard(os.path.join(out_dir, f"n{i}.osm.pbf"), nodes=nodes.iloc[idx])
    write_pbf_shard(os.path.join(out_dir, "w.osm.pbf"), ways=world["ways"])
    write_pbf_shard(os.path.join(out_dir, "r.osm.pbf"), relations=world["relations"])
