"""The flagship spatial join: cell-key equi-join prefilter + PIP refine.

Distributes the reference's point-in-polygon theta-join (SURVEY.md §2.3
J6 — ray-cast Pip over ring vertices, relation_handler.go:43-81) as a
two-phase Spark plan:

  1. COARSE: encode each point to a cell id at every resolution the tile
     set uses (pure JVM arithmetic, functions/cells.py) and equi-join on
     cell == tile_id.  Because tile_id packs its resolution in the high
     bits, one long-vs-long equi-join handles a mixed-resolution tile
     pyramid.  Catalyst/AQE picks broadcast vs shuffle.
  2. REFINE: a map-side Arrow filter over the candidate rows — per
     Arrow batch, one vectorized ray-cast (numpy,
     functions/geometry.pip_mask) per distinct tile in the batch.

Skew (the "dense city" tile): the refine is map-side, so a hot tile is
never a group one task must own — it is refined by whichever tasks the
coarse join's output lands in.  At scale the coarse join is a
sort-merge join, and AQE's skew-join splits a hot cell key there.  This
is the engine's answer to the reference's LRU-thrash Limit override
(nodemap.go:156-158).

At 10^12 points the coarse join shuffles |points| × |resolutions| rows;
keep the tile pyramid to the 2-3 resolutions that bound tile sizes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lazyosm_spark.functions.cells import cell_encode
from lazyosm_spark.functions.geometry import pip_mask


def _open_ring(ring) -> np.ndarray:
    """A ring as an (M, 2) array without a repeated closing vertex:
    pip_mask closes the ring implicitly (reference wraparound)."""
    xy = np.asarray([list(p) for p in ring], dtype=np.float64)
    if len(xy) > 1 and (xy[0] == xy[-1]).all():
        xy = xy[:-1]
    return xy


def _pip_per_tile(tid: np.ndarray, lon: np.ndarray, lat: np.ndarray, ring_at) -> np.ndarray:
    """Inside mask for one Arrow batch of (tile, point) rows: one
    vectorized ray-cast per distinct tile id.  Rows of a tile need not
    be contiguous; tile ids are keys, so ``ring_at(i)`` gives the ring
    of row i's tile (None skips the tile)."""
    out = np.zeros(len(tid), dtype=bool)
    order = np.argsort(tid, kind="stable")
    bounds = np.flatnonzero(np.diff(tid[order])) + 1
    for seg in np.split(order, bounds):
        if len(seg) == 0:
            continue
        ring = ring_at(seg[0])
        if ring is None:
            continue
        out[seg] = pip_mask(ring, np.column_stack([lon[seg], lat[seg]]))
    return out


def _inside_ring(
    tile_id: pd.Series, ring: pd.Series, lon: pd.Series, lat: pd.Series
) -> pd.Series:
    """Arrow-batch PIP filter over rows that carry their tile's ring:
    each tile's ring is parsed once, from its first row in the batch."""
    return pd.Series(_pip_per_tile(
        tile_id.to_numpy(np.int64), lon.to_numpy(np.float64),
        lat.to_numpy(np.float64), lambda i: _open_ring(ring.iloc[i]),
    ))


def tile_points(
    points: DataFrame,
    tiles: DataFrame,
    point_id: str = "point_id",
    lon: str = "lon",
    lat: str = "lat",
    salt: int | None = None,
    broadcast_limit: int = 200_000,
    n_tiles: int | None = None,
) -> DataFrame:
    """points(point_id, lon, lat) × tiles(tile_id, resolution, ring)
    -> exact membership (point_id, tile_id, resolution).

    SHUFFLE-FREE plan (the 100 TB path — the point side is never
    shuffled): cell-encode each point at the pyramid's resolutions
    (pure JVM), BROADCAST-join candidates against the tile keys
    (tile_id packs its resolution, so one long=long join covers a
    mixed-resolution pyramid), then refine with a vectorized pandas
    UDF that looks rings up in a broadcast dict and ray-casts each
    tile's batch slice in one numpy call.  Every stage is map-side;
    AQE/salting is unnecessary because no shuffle exists to skew;
    ``salt`` has no effect (it is passed on to tile_points_shuffle,
    which ignores it too).

    AUTO-DISPATCH: a tile set above ``broadcast_limit`` rows would OOM
    the driver collect, so it falls through to tile_points_shuffle
    (identical output, rings stay distributed) instead of leaving the
    caller a footgun.  ``tile_id`` must be unique (it is the key).
    ``n_tiles`` is the fast path: pass the (already known) tile count
    and the dispatch probe costs ZERO jobs — pipelines calling
    tile_points repeatedly on the same tile pyramid shouldn't re-scan
    it once per call (a pytest pins that no count job runs).

    Ring vertex-on-boundary semantics are the reference Pip's (bottom/
    left inclusive, top/right exclusive) — golden fixtures pin them.
    """
    if (tiles.count() if n_tiles is None else n_tiles) > broadcast_limit:
        return tile_points_shuffle(points, tiles, point_id, lon, lat, salt)

    tile_rows = tiles.select("tile_id", "resolution", "ring").collect()
    res_list = sorted({int(r["resolution"]) for r in tile_rows})
    rings = {int(r["tile_id"]): _open_ring(r["ring"]) for r in tile_rows}
    sc = points.sparkSession.sparkContext
    b_rings = sc.broadcast(rings)

    @F.pandas_udf("boolean")
    def inside_tile(tile_id: pd.Series, lon_s: pd.Series, lat_s: pd.Series) -> pd.Series:
        ring_map = b_rings.value
        tid = tile_id.to_numpy(np.int64)
        return pd.Series(_pip_per_tile(
            tid, lon_s.to_numpy(np.float64), lat_s.to_numpy(np.float64),
            lambda i: ring_map.get(int(tid[i])),
        ))

    pts = points.select(
        F.col(point_id).cast("string").alias("point_id"),
        F.col(lon).alias("lon"),
        F.col(lat).alias("lat"),
    )
    cells = pts.select(
        "point_id",
        "lon",
        "lat",
        F.explode(
            F.array(*[cell_encode(F.col("lon"), F.col("lat"), r) for r in res_list])
        ).alias("cell"),
    )
    keys = tiles.select(F.col("tile_id").alias("cell"), "tile_id", "resolution")
    cand = cells.join(F.broadcast(keys), "cell")
    return cand.filter(inside_tile(F.col("tile_id"), F.col("lon"), F.col("lat"))).select(
        "point_id", "tile_id", "resolution"
    )


def tile_points_shuffle(
    points: DataFrame,
    tiles: DataFrame,
    point_id: str = "point_id",
    lon: str = "lon",
    lat: str = "lat",
    salt: int | None = None,
) -> DataFrame:
    """Variant for tile sets too large to broadcast (rings stay
    distributed): coarse cell equi-join carrying each tile's ring on
    its candidate rows, then a map-side Arrow filter that ray-casts
    each batch once per distinct tile (ring parsed from the tile's
    first row in the batch).  Plan: scan -> explode to cells -> coarse
    join -> one ArrowEvalPython filter; nothing is grouped, so no
    refine shuffle exists and a hot tile is refined by whichever tasks
    its candidates land in.  A hot cell key in a sort-merge coarse
    join is split by AQE's skew-join.

    ``salt`` has no effect: there is no grouped stage left to salt.  It
    stays in the signature for existing callers.
    """
    res_rows = tiles.select("resolution").distinct().collect()
    res_list = sorted(int(r[0]) for r in res_rows)

    pts = points.select(
        F.col(point_id).cast("string").alias("point_id"),
        F.col(lon).alias("lon"),
        F.col(lat).alias("lat"),
    )
    cells = pts.select(
        "point_id",
        "lon",
        "lat",
        F.explode(
            F.array(*[cell_encode(F.col("lon"), F.col("lat"), r) for r in res_list])
        ).alias("cell"),
    )
    cand = cells.join(
        tiles.select(
            F.col("tile_id").alias("cell"), "tile_id", "resolution", "ring"
        ),
        "cell",
    )
    inside_ring = F.pandas_udf(_inside_ring, "boolean")
    return cand.filter(
        inside_ring(F.col("tile_id"), F.col("ring"), F.col("lon"), F.col("lat"))
    ).select(
        "point_id",
        F.col("tile_id").cast("long").alias("tile_id"),
        F.col("resolution").cast("int").alias("resolution"),
    )


def polyfill(
    tiles: DataFrame,
    res_col=None,
    ring_col: str = "ring",
    id_col: str = "tile_id",
    max_cells_per_ring: int | None = 65536,
) -> DataFrame:
    """H3-polyfill analog: the cells at a (possibly per-row) resolution
    whose CENTERS lie inside each polygon ring — the standard polyfill
    containment rule.  Plan: ring bbox (JVM array math) -> cover_bbox
    cells (JVM) -> explode -> vectorized ray-cast of the cell centers
    (one Arrow batch pass, rings grouped within the batch).  No shuffle:
    everything is map-side over the tiles table.

    SCALE GUARD: a ring much larger than the target cell size explodes
    bbox_area/cell_area candidate rows — ``max_cells_per_ring`` FAILS
    the job (assert_true) instead of silently materializing an
    unbounded explode; pick a coarser res for continental polygons.
    The ``resolution + 2`` default ties the cell size to the tile's
    own scale (<= ~16 interior cells), so the guard never fires there.

    -> (tile_id, cell, center_lon, center_lat)."""
    from lazyosm_spark.functions.cells import cell_bounds, cover_bbox

    res = res_col if res_col is not None else (F.col("resolution") + 2)
    xs = F.transform(F.col(ring_col), lambda p: F.element_at(p, 1))
    ys = F.transform(F.col(ring_col), lambda p: F.element_at(p, 2))
    cover = cover_bbox(
        F.array_min(xs), F.array_min(ys), F.array_max(xs), F.array_max(ys), res
    )
    base = tiles.select(
        F.col(id_col).alias("tile_id"),
        F.col(ring_col).alias("_ring"),
        cover.alias("_cover"),
    )
    if max_cells_per_ring is not None:
        # assert_true must live in a FILTER — as a dropped projection
        # column Catalyst prunes it away and the check never runs
        base = base.filter(
            F.assert_true(
                F.size("_cover") <= max_cells_per_ring,
                F.concat(
                    F.lit("polyfill ring covers > max_cells_per_ring cells at tile "),
                    F.col("tile_id").cast("string"),
                ),
            ).isNull()
        )
    cand = base.select(
        "tile_id", "_ring", F.explode("_cover").alias("cell")
    )
    lon_min, lat_min, lon_max, lat_max = cell_bounds(F.col("cell"))
    cand = cand.select(
        "tile_id",
        "_ring",
        "cell",
        ((lon_min + lon_max) / 2).alias("center_lon"),
        ((lat_min + lat_max) / 2).alias("center_lat"),
    )

    center_inside = F.pandas_udf(_inside_ring, "boolean")
    return cand.filter(
        center_inside(
            F.col("tile_id"), F.col("_ring"), F.col("center_lon"), F.col("center_lat")
        )
    ).select("tile_id", "cell", "center_lon", "center_lat")


def rasterize_membership(
    points: DataFrame,
    membership: DataFrame,
    grid: int = 8,
    point_id: str = "point_id",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Vector -> raster: bin each tile's member points into a grid x
    grid count raster over the tile's cell bbox (long form: one row per
    nonzero raster cell).  The north-star's raster<->vector leg: tile
    bounds come from pure cell-id arithmetic (tile_id packs res/x/y),
    so the whole transform is JVM columnar — one groupBy, no Python.

    -> (tile_id, resolution, gx, gy, n_points); gx/gy clamped to the
    grid so boundary points (PIP keeps bottom/left edges) stay inside.
    """
    from lazyosm_spark.functions.cells import cell_bounds

    pts = points.select(
        F.col(point_id).cast("string").alias("point_id"),
        F.col(lon).alias("lon"),
        F.col(lat).alias("lat"),
    )
    m = membership.join(pts, "point_id")
    lon_min, lat_min, lon_max, lat_max = cell_bounds(F.col("tile_id"))
    g = F.lit(float(grid))
    gx = F.least(
        F.lit(grid - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col("lon") - lon_min) / (lon_max - lon_min) * g).cast("int"),
        ),
    )
    gy = F.least(
        F.lit(grid - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col("lat") - lat_min) / (lat_max - lat_min) * g).cast("int"),
        ),
    )
    return (
        m.select("tile_id", "resolution", gx.alias("gx"), gy.alias("gy"))
        .groupBy("tile_id", "resolution", "gx", "gy")
        .agg(F.count("*").cast("long").alias("n_points"))
    )


def raster_to_boxes(raster: DataFrame, grid: int = 8, min_count: int = 1) -> DataFrame:
    """Raster -> vector: nonzero raster cells back to bbox polygons
    (rings as [[lon,lat],...], closed) — the inverse leg, again pure
    cell-id arithmetic + array construction (JVM)."""
    from lazyosm_spark.functions.cells import cell_bounds

    lon_min, lat_min, lon_max, lat_max = cell_bounds(F.col("tile_id"))
    g = F.lit(float(grid))
    cw = (lon_max - lon_min) / g
    ch = (lat_max - lat_min) / g
    x0 = lon_min + F.col("gx") * cw
    y0 = lat_min + F.col("gy") * ch
    ring = F.array(
        F.array(x0, y0),
        F.array(x0 + cw, y0),
        F.array(x0 + cw, y0 + ch),
        F.array(x0, y0 + ch),
        F.array(x0, y0),
    )
    return raster.filter(F.col("n_points") >= min_count).select(
        "tile_id", "resolution", "gx", "gy", "n_points", ring.alias("ring")
    )
