"""Deterministic synthetic fixtures (seed=42) per FIXTURES.md.

Generates the logical "world" first (decoded nodes/ways/relations with
real ring geometry), then writes it as one real .osm.pbf shard
(sources/pbf.write_pbf_shard: delta-coded DenseNodes / Ways / Relations
blocks with per-block stringtables, SURVEY.md §1) that the engine reads
back through sources/pbf.read_pbf, so the decode transforms have real
work to do.  Round-trip equality (decode(read(write(w))) == w) is
itself a test.

All coordinates are generated as quantized ints (units of granularity
100 nanodegrees → 1e-7 deg), so delta coding is exact.

Scales: tiny (~10^2, unit tests), small (~10^4, pytest correctness).
Written once to a cache dir: the shard plus parquet tables of the
logical world, images and tiles.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

from lazyosm_spark.sources.images import average_phash, encode_image, reference_pixels
from lazyosm_spark.sources.pbf import read_pbf, write_pbf_shard

SEED = 42
# R2 low-discrepancy constants (1/x, 1/x^2 of the plastic number):
# genuinely 2-D equidistributed — (phi, phi^2) of the golden ratio is
# NOT (phi^2 = 1 - phi makes lat a mirror of lon: all points on a line)
PHI = 0.7548776662466927
PHI2 = 0.5698402909980532
GRAN_DEG = 1e-7  # granularity 100 nanodeg

# npb: entities per PBF block (nodes, ways and relations alike)
SCALES = {
    "tiny": dict(n_images=60, n_rel=8, n_ways=24, n_extra_nodes=400, npb=50),
    "small": dict(n_images=600, n_rel=40, n_ways=150, n_extra_nodes=5000, npb=100),
}

ADJ = ["quiet", "bright", "ancient", "mossy", "vast", "narrow", "golden"]
NOUN = ["harbor", "forest", "bridge", "square", "市場", "café", "tower", "mill", "quay", "garden", "atrium"]

TAG_KEYS = ["highway", "building", "name", "amenity", "boundary"]
TAG_VALS = ["primary", "yes", "no", "center", "fuel", "park", "étang", "北京"]


# --------------------------------------------------------------- world ----


def _frac(x: np.ndarray) -> np.ndarray:
    return x - np.floor(x)


def image_lonlat(i: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Derived deterministic geolocation (FIXTURES.md §1): golden-ratio
    low-discrepancy sequence.  SQL twin: image_lonlat_sql."""
    i = np.asarray(i, dtype=np.float64)
    lon = -180.0 + 360.0 * _frac(i * PHI)
    lat = -85.0 + 170.0 * _frac(i * PHI2)
    return lon, lat


def image_lonlat_sql(i_expr: str) -> tuple[str, str]:
    p, p2 = repr(PHI), repr(PHI2)
    lon = f"(-180.0 + 360.0 * (({i_expr}) * {p} - floor(({i_expr}) * {p})))"
    lat = f"(-85.0 + 170.0 * (({i_expr}) * {p2} - floor(({i_expr}) * {p2})))"
    return lon, lat


def _square_ring(cx: int, cy: int, half: int, nper: int = 3) -> list[tuple[int, int]]:
    """Closed square ring in quantized coords, nper points per side
    (excluding the shared corner), counterclockwise, first==last NOT
    duplicated here (way splitting handles closure)."""
    corners = [
        (cx - half, cy - half),
        (cx + half, cy - half),
        (cx + half, cy + half),
        (cx - half, cy + half),
    ]
    pts = []
    for a, b in zip(corners, corners[1:] + corners[:1]):
        for t in range(nper):
            f = t / nper
            pts.append(
                (int(round(a[0] + (b[0] - a[0]) * f)), int(round(a[1] + (b[1] - a[1]) * f)))
            )
    return pts


class _World:
    def __init__(self):
        self.node_rows = []  # (id, qlon, qlat, tags_dict)
        self.way_rows = []  # (id, [refs], tags_dict)
        self.rel_rows = []  # (id, [memids], [roles], [types], tags_dict)
        self._nid = 1000
        self._wid = 500_000
        self._rid = 900_000

    def add_node(self, qlon: int, qlat: int, tags=None) -> int:
        self._nid += 1
        self.node_rows.append((self._nid, qlon, qlat, tags or {}))
        return self._nid

    def add_way(self, refs, tags=None) -> int:
        self._wid += 1
        self.way_rows.append((self._wid, list(refs), tags or {}))
        return self._wid

    def add_rel(self, memids, roles, tags) -> int:
        self._rid += 1
        self.rel_rows.append(
            (self._rid, list(memids), list(roles), [1] * len(memids), tags)
        )
        return self._rid


def _ring_to_ways(world: _World, ring_pts, n_ways, rng, close=True):
    """Register ring vertices as nodes; split the closed cycle into
    n_ways ways with shared endpoints; shuffle order + reverse some
    (exercises Connect's endpoint matching + reversal)."""
    ids = [world.add_node(qx, qy) for qx, qy in ring_pts]
    cyc = ids + [ids[0]]  # closed cycle of node ids
    cuts = sorted(rng.choice(np.arange(1, len(cyc) - 1), size=n_ways - 1, replace=False)) if n_ways > 1 else []
    bounds = [0, *cuts, len(cyc) - 1]
    ways = []
    for s, e in zip(bounds[:-1], bounds[1:]):
        seg = cyc[s : e + 1]
        if not close and e == bounds[-1]:
            seg = seg[:-1]  # drop closure -> degenerate unclosable chain
        ways.append(world.add_way(seg))
    order = rng.permutation(len(ways))
    out = []
    for j in order:
        w = ways[j]
        if rng.random() < 0.4:  # reverse some ways in place
            for i, (wid, refs, tags) in enumerate(world.way_rows):
                if wid == w:
                    world.way_rows[i] = (wid, refs[::-1], tags)
        out.append(w)
    return out


def build_world(scale: str = "small") -> dict[str, pd.DataFrame]:
    cfg = SCALES[scale]
    rng = np.random.default_rng(SEED)
    world = _World()

    # --- relations: multipolygons with holes, split/scrambled rings ---
    for r in range(cfg["n_rel"]):
        cx = int((-160 + 320 * _frac((r + 1) * PHI)) / GRAN_DEG)
        cy = int((-70 + 140 * _frac((r + 1) * PHI2)) / GRAN_DEG)
        half = int((0.05 + 0.3 * rng.random()) / GRAN_DEG)
        n_outer_ways = int(rng.integers(2, 7))
        memids, roles = [], []
        n_outers = 2 if r % 5 == 4 else 1  # some multi-outer relations
        for o in range(n_outers):
            ox = cx + o * 3 * half
            ring = _square_ring(ox, cy, half, nper=3)
            ws = _ring_to_ways(world, ring, n_outer_ways, rng)
            memids += ws
            roles += ["outer"] * len(ws)
        n_holes = int(rng.integers(0, 3))
        for hidx in range(n_holes):
            hh = half // 4
            hx = cx + int((hidx - 0.5) * 2.2 * hh)
            ring = _square_ring(hx, cy, hh, nper=2)
            ws = _ring_to_ways(world, ring, min(2, len(ring) - 1), rng)
            memids += ws
            roles += ["inner"] * len(ws)
        tags = {"type": "multipolygon", "name": f"rel {r}"}
        if r % 7 == 6:
            tags = {"type": "boundary", "name": f"rel {r}"}  # must be dropped
        world.add_rel(memids, roles, tags)

    # one degenerate unclosable relation (generation<100 bound)
    ring = _square_ring(0, 0, int(0.02 / GRAN_DEG), nper=2)
    ws = _ring_to_ways(world, ring, 3, rng, close=False)
    world.add_rel(ws, ["outer"] * len(ws), {"type": "multipolygon", "name": "degenerate"})

    # one relation carrying a NON-standard member role: the reference
    # appends only 'inner'/'outer' members (relation_handler.go:430-435),
    # so the 'outline' ring — a far-away closed square that would add a
    # second polygon if coerced to outer — must be dropped entirely
    ring = _square_ring(int(100.0 / GRAN_DEG), int(40.0 / GRAN_DEG), int(0.04 / GRAN_DEG), nper=2)
    ws = _ring_to_ways(world, ring, 2, rng)
    stray = _square_ring(int(-120.0 / GRAN_DEG), int(-40.0 / GRAN_DEG), int(0.03 / GRAN_DEG), nper=2)
    stray_w = _ring_to_ways(world, stray, 1, rng)
    world.add_rel(
        ws + stray_w,
        ["outer"] * len(ws) + ["outline"] * len(stray_w),
        {"type": "multipolygon", "name": "nonstandard role"},
    )

    # --- standalone ways: open lines + closed rings (some area=no) ---
    for wix in range(cfg["n_ways"]):
        cx = int((-170 + 340 * _frac((wix + 3) * PHI)) / GRAN_DEG)
        cy = int((-80 + 160 * _frac((wix + 3) * PHI2)) / GRAN_DEG)
        npts = int(rng.integers(3, 9))
        step = int(0.001 / GRAN_DEG)
        pts = [
            (cx + int(rng.integers(-50, 50)) * step, cy + int(rng.integers(-50, 50)) * step)
            for _ in range(npts)
        ]
        ids = [world.add_node(qx, qy) for qx, qy in pts]
        tags = {"highway": TAG_VALS[wix % 3]} if wix % 2 == 0 else {"building": "yes"}
        if wix % 5 < 2:  # closed ways
            ids.append(ids[0])
            if wix % 10 == 5:
                tags["area"] = "no"  # closed but NOT a polygon (process.go:68)
        world.add_way(ids, tags)

    # --- extra standalone nodes: tagged + untagged, incl. fully-untagged
    # id runs (block-level TagsBool pruning analog) ---
    n = cfg["n_extra_nodes"]
    lon, lat = image_lonlat(np.arange(2, n + 2))
    qlon = np.round(lon / GRAN_DEG).astype(np.int64)
    qlat = np.round(lat / GRAN_DEG).astype(np.int64)
    for j in range(n):
        block_run = (j // cfg["npb"]) % 3 == 2  # every 3rd block fully untagged
        tagged = (not block_run) and (j % 10 < 6)
        tags = (
            {TAG_KEYS[j % 4]: TAG_VALS[j % len(TAG_VALS)], "name": f"n{j}"}
            if tagged
            else {}
        )
        world.add_node(int(qlon[j]), int(qlat[j]), tags)

    nodes = pd.DataFrame(world.node_rows, columns=["id", "qlon", "qlat", "tags"])
    ways = pd.DataFrame(world.way_rows, columns=["id", "refs", "tags"])
    rels = pd.DataFrame(
        world.rel_rows, columns=["id", "memids", "roles", "member_types", "tags"]
    )
    # decode EXACTLY as the engine does (1e-9 * granularity * q,
    # process.go:136-137) so round-trip equality is bit-for-bit
    nodes["lon"] = (nodes["qlon"] * 100).astype(np.float64) * 1e-9
    nodes["lat"] = (nodes["qlat"] * 100).astype(np.float64) * 1e-9
    return {"nodes": nodes, "ways": ways, "relations": rels}


# -------------------------------------------------------------- images ----


def gen_images(n: int) -> pd.DataFrame:
    fmts = ["raw", "ppm", "lossy"]
    wl = [16, 32, 64]
    hl = [16, 32, 48]
    lon, lat = image_lonlat(np.arange(n))
    rows = []
    for i in range(n):
        w, h = wl[i % 3], hl[i % 3]
        fmt = fmts[i % 3]
        px = reference_pixels(i, w, h)
        rows.append(
            dict(
                image_id=f"img_{i:012d}",
                bytes=encode_image(px, fmt),
                w=np.int32(w),
                h=np.int32(h),
                fmt=fmt,
                caption=make_caption(i, lon[i], lat[i]),
                phash=np.int64(average_phash(px)),
            )
        )
    return pd.DataFrame(rows)


def make_caption(i: int, lon: float, lat: float) -> str:
    return f"caption {i}: {ADJ[i % 7]} {NOUN[i % 11]} at ({lon:.4f},{lat:.4f})"


def caption_for_image_id(image_id: str) -> str:
    i = int(image_id.split("_")[1])
    lon, lat = image_lonlat(np.array([i]))
    return make_caption(i, float(lon[0]), float(lat[0]))


# --------------------------------------------------------------- tiles ----


def gen_tiles(n_per_res: int = 24) -> pd.DataFrame:
    """Vector tile polygons at resolutions 3..8 (FIXTURES.md §3).
    Rings are stored as array<array<double>> [[lon,lat],...], closed.
    ~30% are exact cell bboxes (coarse-join provable by arithmetic);
    a couple of coarse 'city' tiles create skew."""
    rng = np.random.default_rng(SEED + 1)
    rows = []
    seen: set[int] = set()  # tile_id is a key — no duplicate cells
    for res in range(3, 9):
        nx = 1 << res
        for t in range(n_per_res):
            x = int(rng.integers(0, nx))
            y = int(rng.integers(int(nx * 0.05), int(nx * 0.95)))  # avoid poles
            if ((res << 58) | (x << 29) | y) in seen:
                continue
            seen.add((res << 58) | (x << 29) | y)
            lon0 = x / nx * 360.0 - 180.0
            lat0 = y / nx * 180.0 - 90.0
            dlon, dlat = 360.0 / nx, 180.0 / nx
            cell = (res << 58) | (x << 29) | y
            if t % 3 == 0:  # exact bbox ring
                ring = [
                    [lon0, lat0],
                    [lon0 + dlon, lat0],
                    [lon0 + dlon, lat0 + dlat],
                    [lon0, lat0 + dlat],
                    [lon0, lat0],
                ]
            else:  # convex-ish polygon inside the cell
                k = int(rng.integers(5, 13))
                angs = np.sort(rng.uniform(0, 2 * np.pi, k))
                rad = rng.uniform(0.25, 0.5, k)
                cxl = lon0 + dlon / 2
                cyl = lat0 + dlat / 2
                pts = [
                    [cxl + float(np.cos(a) * r * dlon), cyl + float(np.sin(a) * r * dlat)]
                    for a, r in zip(angs, rad)
                ]
                ring = pts + [pts[0]]
            rows.append(dict(tile_id=cell, resolution=np.int32(res), ring=ring))
    return pd.DataFrame(rows)


# --------------------------------------------------------------- cache ----


ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
OSM_SHARD = "osm.osm.pbf"


def fixtures_dir(scale: str = "small") -> str:
    """Build-once cache of all fixture files for a scale, under
    $LAZYOSM_FIXTURES or the checkout's .fixtures/.  A directory whose
    _DONE marker has no OSM shard beside it (another layout, or an
    interrupted build) is rebuilt from scratch."""
    base = os.environ.get("LAZYOSM_FIXTURES", os.path.join(ROOT, ".fixtures"))
    path = os.path.join(base, scale)
    marker = os.path.join(path, "_DONE")
    if os.path.exists(marker) and os.path.exists(os.path.join(path, OSM_SHARD)):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    cfg = SCALES[scale]
    world = build_world(scale)
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(name: str, pdf: pd.DataFrame, schema: pa.Schema | None = None):
        tbl = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
        pq.write_table(tbl, os.path.join(path, f"{name}.parquet"))

    # explicit map type for tags: pandas dicts would infer as structs
    tags = pa.map_(pa.string(), pa.string())
    ids = pa.list_(pa.int64())
    world_schemas = {
        "nodes": [("id", pa.int64()), ("lon", pa.float64()), ("lat", pa.float64()), ("tags", tags)],
        "ways": [("id", pa.int64()), ("refs", ids), ("tags", tags)],
        "relations": [
            ("id", pa.int64()),
            ("memids", ids),
            ("roles", pa.list_(pa.string())),
            ("member_types", pa.list_(pa.int32())),
            ("tags", tags),
        ],
    }
    for name, fields in world_schemas.items():
        schema = pa.schema(fields)
        write(name, world[name][schema.names], schema)
    # nodes are the shard's first blocks, so node j lands in block j // npb
    write_pbf_shard(
        os.path.join(path, OSM_SHARD),
        nodes=world["nodes"],
        ways=world["ways"],
        relations=world["relations"],
        block_size=cfg["npb"],
    )
    write("images", gen_images(cfg["n_images"]))
    write("tiles", gen_tiles())
    with open(marker, "w") as f:
        json.dump(cfg, f)
    return path


def load_fixtures(spark, scale: str = "small") -> dict:
    """The logical world, images and tiles as parquet frames (no Spark
    job runs); the OSM shard's block frames come from fixture_pbf."""
    path = fixtures_dir(scale)
    return {
        n: spark.read.parquet(os.path.join(path, f"{n}.parquet"))
        for n in ["nodes", "ways", "relations", "images", "tiles"]
    }


def fixture_pbf(spark, scale: str = "small") -> dict:
    """read_pbf on the fixture OSM shard: its block frames
    (``*_encoded``, ``header``), parsed by one eager job."""
    return read_pbf(spark, os.path.join(fixtures_dir(scale), OSM_SHARD))
