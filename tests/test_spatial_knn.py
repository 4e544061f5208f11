"""Spatial join + kNN vs brute-force oracles on tiny fixtures."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from tests.oracle import reference_oracle as ro


def _points(n=200):
    phi, phi2 = 0.7548776662466927, 0.5698402909980532
    i = np.arange(n, dtype=float)
    lon = -180.0 + 360.0 * ((i * phi) % 1.0)
    lat = -85.0 + 170.0 * ((i * phi2) % 1.0)
    return [(f"p{j}", float(lon[j]), float(lat[j])) for j in range(n)]


def test_tile_points_matches_bruteforce_oracle(spark, fx):
    from lazyosm_spark.operators.spatial_join import tile_points

    pts = _points(300)
    pdf = spark.createDataFrame(pts, "point_id string, lon double, lat double")
    tiles = fx["tiles"]
    got = {
        (r["point_id"], r["tile_id"])
        for r in tile_points(pdf, tiles).collect()
    }
    # brute force: oracle pip over every (point, tile) pair
    want = set()
    for t in tiles.collect():
        ring = [tuple(p) for p in t["ring"]]
        if ring[0] == ring[-1]:
            ring = ring[:-1]
        for pid, lon, lat in pts:
            if ro.pip(ring, (lon, lat)):
                want.add((pid, t["tile_id"]))
    assert got == want


def test_tile_points_variants_agree(spark, fx):
    """broadcast (flagship) == shuffle, called with and without a salt
    (which has no effect) — both physical strategies share exact
    semantics."""
    from lazyosm_spark.operators.spatial_join import tile_points, tile_points_shuffle

    pdf = spark.createDataFrame(
        _points(200), "point_id string, lon double, lat double"
    )
    base = {
        (r["point_id"], r["tile_id"])
        for r in tile_points(pdf, fx["tiles"]).collect()
    }
    shuffled = {
        (r["point_id"], r["tile_id"])
        for r in tile_points_shuffle(pdf, fx["tiles"]).collect()
    }
    salted = {
        (r["point_id"], r["tile_id"])
        for r in tile_points_shuffle(pdf, fx["tiles"], salt=8).collect()
    }
    assert base == shuffled == salted


def test_tile_points_skewed_hotspot(spark, fx):
    """Dense-city skew: 90% of points inside ONE tile's cell.  The
    shuffle variant (called with a salt, which has no effect) must
    agree with broadcast on the hot tile."""
    from lazyosm_spark.operators.spatial_join import tile_points, tile_points_shuffle

    # pick one real tile and aim points at its ring centroid
    t = fx["tiles"].first()
    ring = [list(p) for p in t["ring"]]
    cx = sum(p[0] for p in ring) / len(ring)
    cy = sum(p[1] for p in ring) / len(ring)
    hot = [(f"h{i}", cx + (i % 7) * 1e-6, cy + (i % 5) * 1e-6) for i in range(900)]
    spread = _points(100)
    pdf = spark.createDataFrame(
        hot + spread, "point_id string, lon double, lat double"
    )
    base = {
        (r["point_id"], r["tile_id"])
        for r in tile_points(pdf, fx["tiles"]).collect()
    }
    salted = {
        (r["point_id"], r["tile_id"])
        for r in tile_points_shuffle(pdf, fx["tiles"], salt=8).collect()
    }
    assert base == salted
    # the hot tile must dominate membership (skew actually present)
    hot_members = sum(1 for pid, tid in base if tid == t["tile_id"])
    assert hot_members >= 800


def test_tile_points_auto_dispatches_to_shuffle(spark, fx):
    """Above broadcast_limit the flagship must take the shuffle path
    (no driver ring collect; rings ride the coarse join into a map-side
    Arrow PIP filter) and produce identical membership."""
    from lazyosm_spark.operators.spatial_join import tile_points
    from tools.explain_plans import map_side_refine_checks, plan_of

    pts = spark.createDataFrame(
        [(f"p{i}",
          -180.0 + 360.0 * ((i * 0.7548776662466927) % 1.0),
          -85.0 + 170.0 * ((i * 0.5698402909980532) % 1.0))
         for i in range(300)],
        "point_id string, lon double, lat double",
    )
    bc = tile_points(pts, fx["tiles"])  # broadcast path
    sh = tile_points(pts, fx["tiles"], broadcast_limit=3)  # forced dispatch
    plan = plan_of(sh)
    assert "_inside_ring(" in plan  # the ring-per-row refine, not inside_tile
    failed = [desc for desc, ok in map_side_refine_checks(plan) if not ok]
    assert not failed, failed
    a = {tuple(r) for r in bc.select("point_id", "tile_id").collect()}
    b = {tuple(r) for r in sh.select("point_id", "tile_id").collect()}
    assert a == b and len(a) > 0


def _cell(lon: float, lat: float, res: int) -> int:
    """cells.cell_encode in Python (same float operations, same ids)."""
    n = 1 << res
    x = max(0, min(int(np.floor((lon + 180.0) / 360.0 * n)), n - 1))
    y = max(0, min(int(np.floor((lat + 90.0) / 180.0 * n)), n - 1))
    return (res << 58) | (x << 29) | y


def _box(res: int, x: int, y: int, f0: float = 0.0, f1: float = 1.0) -> list:
    """Corners of cell (x, y)'s sub-box [f0, f1]^2, counter-clockwise."""
    n = 1 << res
    lon0, lat0, dlon, dlat = x / n * 360.0 - 180.0, y / n * 180.0 - 90.0, 360.0 / n, 180.0 / n
    return [[lon0 + a * dlon, lat0 + b * dlat] for a, b in
            [(f0, f0), (f1, f0), (f1, f1), (f0, f1)]]


def test_tile_points_shuffle_batch_boundaries_property(spark):
    """The map-side refine gets Arrow batches of 7 rows in which tile
    ids interleave and a tile's rows span several batches.  On nested
    tiles at resolutions 3-6 (closed and open rings, concave, exact cell
    boxes) and shuffled points on ring vertices, ring edges, cell
    boundaries and duplicated rows, tile_points_shuffle equals the
    scalar reference pip over cell candidates and broadcast
    tile_points, row for row; a cloud with no candidates gives an
    empty frame with the exact membership schema."""
    from collections import Counter

    from lazyosm_spark.operators.spatial_join import tile_points, tile_points_shuffle

    def mid(a, b):
        return [(a[0] + b[0]) / 2, (a[1] + b[1]) / 2]

    b3 = _box(3, 5, 4)
    b4 = _box(4, 10, 8, 0.1, 0.9)
    arrow = [b4[0], mid(b4[0], b4[1]), [mid(b4[0], b4[1])[0], mid(b4[1], b4[2])[1]],
             b4[1], b4[2], b4[3]]  # concave: a notch cut from the bottom edge
    b5 = _box(5, 21, 17)
    tri = [b5[0], b5[1], mid(b5[2], b5[3])]
    b6 = _box(6, 42, 34)
    diamond = [mid(b6[0], b6[1]), mid(b6[1], b6[2]), mid(b6[2], b6[3]), mid(b6[3], b6[0])]
    rings = {
        (3, 5, 4): b3 + [b3[0]],            # exact cell box, closed
        (4, 10, 8): arrow,                  # concave, open
        (4, 11, 9): _box(4, 11, 9),         # exact cell box, open
        (5, 21, 17): tri + [tri[0]],        # triangle, closed
        (5, 20, 16): _box(5, 20, 16, 0.3, 0.7),  # interior box, open
        (6, 42, 34): diamond,               # vertices on the cell's edges
        (6, 43, 35): _box(6, 43, 35, 0.0, 0.5) + [_box(6, 43, 35)[0]],  # on 2 cell edges
    }
    tile_rows = [((r << 58) | (x << 29) | y, r, ring) for (r, x, y), ring in rings.items()]
    tiles = spark.createDataFrame(
        tile_rows, "tile_id long, resolution long, ring array<array<double>>"
    )

    rng = np.random.default_rng(11)
    xy = []
    for (r, x, y), ring in rings.items():
        cell = _box(r, x, y)
        for poly in (ring, cell):
            for i in range(len(poly)):
                a, b = poly[i], poly[(i + 1) % len(poly)]
                xy += [a, mid(a, b), [a[0] + 0.25 * (b[0] - a[0]), a[1] + 0.25 * (b[1] - a[1])]]
    lo, hi = b3[0], b3[2]
    xy += [[float(u), float(v)] for u, v in
           zip(rng.uniform(lo[0], hi[0], 400), rng.uniform(lo[1], hi[1], 400))]
    pts = [(f"q{i}", float(p[0]), float(p[1])) for i, p in enumerate(xy)]
    pts += [(f"d{i}", lon, lat) for i, (_, lon, lat) in enumerate(pts[::5])]  # same place
    pts += pts[::7]  # duplicated rows, same id
    pts = [pts[i] for i in rng.permutation(len(pts))]

    want = Counter()
    for tid, r, ring in tile_rows:
        open_ring = [tuple(p) for p in ring]
        if open_ring[0] == open_ring[-1]:
            open_ring = open_ring[:-1]
        for pid, lon, lat in pts:
            if _cell(lon, lat, r) == tid and ro.pip(open_ring, (lon, lat)):
                want[(pid, tid, r)] += 1
    assert len(want) > 100

    schema = "point_id string, lon double, lat double"
    pdf = spark.createDataFrame(pts, schema)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        sh = tile_points_shuffle(pdf, tiles, salt=4)
        got = Counter(tuple(r) for r in sh.collect())
        bc = Counter(tuple(r) for r in tile_points(pdf, tiles).collect())
        empty = tile_points_shuffle(
            spark.createDataFrame([("far", -179.9, -89.9), ("far2", 179.9, 89.9)], schema), tiles
        )
        empty_rows = empty.collect()
    finally:
        spark.conf.set(key, prev)
    assert got == want
    assert bc == want
    membership = "struct<point_id:string,tile_id:bigint,resolution:int>"
    assert sh.schema.simpleString() == membership
    assert empty_rows == [] and empty.schema.simpleString() == membership


def test_dispatch_counts_cached(spark, fx):
    """Passing n_tiles / n_points skips the auto-dispatch/auto-res
    count JOB entirely (instance-level count() is poisoned to prove no
    call happens) and yields the identical result — the repeated-call
    fast path for pipelines reusing one tile pyramid / point cloud."""
    from lazyosm_spark.operators.knn import grid_knn
    from lazyosm_spark.operators.spatial_join import tile_points

    tiles = fx["tiles"]
    n_tiles = tiles.count()
    pts = spark.createDataFrame(
        [(str(i), -20.0 + i * 0.7, -10.0 + i * 0.4) for i in range(60)],
        "point_id string, lon double, lat double",
    )
    base = sorted(map(tuple, tile_points(pts, tiles).collect()))

    def boom():
        raise AssertionError("dispatch count() job ran despite the hint")

    poisoned = tiles.select("*")
    poisoned.count = boom  # instance-level: only the probe would hit it
    got = sorted(map(tuple, tile_points(pts, poisoned, n_tiles=n_tiles).collect()))
    assert got == base

    q = pts.selectExpr("point_id as query_id", "lon", "lat").limit(5)
    base_knn = sorted(map(tuple, grid_knn(q, pts, k=3).collect()))
    ppois = pts.select("*")
    ppois.count = boom
    got_knn = sorted(
        map(tuple, grid_knn(q, ppois, k=3, n_points=60).collect())
    )
    assert got_knn == base_knn


def test_polyfill_invariants(spark, fx):
    """Polyfill cells carry resolution+2, their centers are inside the
    tile's cell bbox, and an exact-bbox tile ring polyfills to exactly
    its 16 grandchildren (every finer-cell center is strictly interior)."""
    from pyspark.sql import functions as F

    from lazyosm_spark.functions.cells import cell_res
    from lazyosm_spark.operators.spatial_join import polyfill

    out = polyfill(fx["tiles"]).persist()
    j = out.join(fx["tiles"].select("tile_id", "resolution"), "tile_id")
    assert j.filter(cell_res(F.col("cell")) != F.col("resolution") + 2).count() == 0

    # exact-bbox rings: 5-point closed rectangles == the tile cell bbox
    exact = fx["tiles"].filter(F.size("ring") == 5).select("tile_id")
    counts = (
        out.join(exact, "tile_id").groupBy("tile_id").agg(F.count("*").alias("n"))
    )
    assert counts.count() > 0
    assert counts.filter(F.col("n") != 16).count() == 0


def test_rasterize_membership_roundtrip(spark, fx):
    """Raster cells partition each tile's members (sums match the
    membership counts), bins are in range, and raster_to_boxes rings
    contain the binned points' bbox."""
    from pyspark.sql import functions as F

    from lazyosm_spark.functions.cells import cell_bounds
    from lazyosm_spark.operators.spatial_join import (
        raster_to_boxes,
        rasterize_membership,
        tile_points,
    )

    pts = spark.createDataFrame(
        [(f"p{i}",
          -180.0 + 360.0 * ((i * 0.7548776662466927) % 1.0),
          -85.0 + 170.0 * ((i * 0.5698402909980532) % 1.0))
         for i in range(500)],
        "point_id string, lon double, lat double",
    )
    mem = tile_points(pts, fx["tiles"])
    raster = rasterize_membership(pts, mem, grid=4).persist()
    mem_counts = {
        r["tile_id"]: r["n"]
        for r in mem.groupBy("tile_id").agg(F.count("*").alias("n")).collect()
    }
    raster_sums = {
        r["tile_id"]: r["n"]
        for r in raster.groupBy("tile_id").agg(F.sum("n_points").alias("n")).collect()
    }
    assert raster_sums == mem_counts and len(raster_sums) > 0
    bad = raster.filter(
        (F.col("gx") < 0) | (F.col("gx") > 3) | (F.col("gy") < 0) | (F.col("gy") > 3)
    ).count()
    assert bad == 0

    boxes = raster_to_boxes(raster, grid=4)
    # every box ring sits inside its tile's cell bbox
    lon_min, lat_min, lon_max, lat_max = cell_bounds(F.col("tile_id"))
    eps = 1e-9
    out_of_tile = boxes.filter(
        (F.element_at(F.element_at("ring", 1), 1) < lon_min - eps)
        | (F.element_at(F.element_at("ring", 3), 1) > lon_max + eps)
        | (F.element_at(F.element_at("ring", 1), 2) < lat_min - eps)
        | (F.element_at(F.element_at("ring", 3), 2) > lat_max + eps)
    ).count()
    assert out_of_tile == 0


def test_grid_knn_equals_bruteforce(spark):
    from lazyosm_spark.operators.knn import grid_knn, knn_brute

    pts = _points(400)
    pdf = spark.createDataFrame(pts, "point_id string, lon double, lat double")
    q = spark.createDataFrame(
        [(pid, lon, lat) for pid, lon, lat in pts[:25]],
        "query_id string, lon double, lat double",
    )
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in grid_knn(q, pdf, k=5).collect()  # density-auto res
    }
    want = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in knn_brute(q, pdf, k=5).collect()
    }
    assert got == want


def test_grid_knn_stream_explode_identical(spark, monkeypatch):
    """The big-panel plan (pending broadcast un-exploded at res-1,
    POINTS exploded to ring_parent_cover — r6 optimization) must be
    bit-identical to the exploded-pending plan and to brute force:
    the candidate superset argument in grid_knn's docstring, pinned."""
    from lazyosm_spark.operators import knn

    pts = _points(400)
    pdf = spark.createDataFrame(pts, "point_id string, lon double, lat double")
    q = spark.createDataFrame(
        pts[:60], "query_id string, lon double, lat double"
    )
    covers = []
    cover = knn.ring_parent_cover
    monkeypatch.setattr(
        knn, "ring_parent_cover", lambda *a: covers.append(a) or cover(*a)
    )

    def run(explode_min: int) -> dict:
        # the crossover is max(EXPLODE_BROADCAST_MIN, 3 * n_points / dp):
        # 0 puts it at 3 * 400 / dp < 60 x 9 pending rows on >= 3 cores
        # (stream-explode at every level >= 1), 1 << 40 above any panel
        monkeypatch.setattr(knn, "EXPLODE_BROADCAST_MIN", explode_min)
        covers.clear()
        out = knn.grid_knn(q, pdf, k=5, n_points=400, n_queries=60).collect()
        return {(r["query_id"], r["rank"]): (r["neighbor_id"], r["dist"]) for r in out}

    assert spark.sparkContext.defaultParallelism >= 3
    got = run(0)
    assert covers, "EXPLODE_BROADCAST_MIN=0 did not take the stream-explode plan"
    legacy = run(1 << 40)
    assert not covers, "EXPLODE_BROADCAST_MIN=1<<40 took the stream-explode plan"
    brute = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["dist"])
        for r in knn.knn_brute(q, pdf, k=5).collect()
    }
    assert got == legacy == brute


def test_ring_parent_cover_superset(spark):
    """Property pin for cells.ring_parent_cover: for every cell C in
    k_ring(cell(p), ring), parent(C) is in ring_parent_cover(p, ring) —
    the containment that makes the stream-explode join a candidate
    superset — and the cover stays <= (ring+1)^2 cells, all in-grid."""
    from lazyosm_spark.functions.cells import (
        cell_encode,
        cell_parent,
        k_ring,
        ring_parent_cover,
    )

    pdf = spark.createDataFrame(
        _points(500), "point_id string, lon double, lat double"
    )
    for res, ring in [(1, 1), (3, 1), (7, 1), (7, 2), (12, 1)]:
        rows = pdf.select(
            F.transform(
                k_ring(cell_encode("lon", "lat", res), ring),
                lambda c: cell_parent(c, res - 1),
            ).alias("ring_parents"),
            ring_parent_cover("lon", "lat", res, ring).alias("cover"),
        ).collect()
        for r in rows:
            assert set(r["ring_parents"]) <= set(r["cover"]), (res, ring)
            assert len(r["cover"]) <= (ring + 1) ** 2
            assert len(set(r["cover"])) == len(r["cover"])


def _phash_corpus(spark, n_items: int, n_queries: int, n_clusters: int):
    """Deterministic near-dup phash world: cluster base = xxhash64 of
    the cluster id; members/queries flip 1..8 bits off the base —
    mirrors the real phash regime (tight clusters, small kth dist)."""
    from pyspark.sql import functions as F

    def flips(j_expr, seed: int):
        h = F.xxhash64(F.col("cluster").cast("string"))
        for t in range(8):
            bit = F.expr(
                f"shiftleft(cast(1 as bigint), cast((id * {seed} + {t} * 7) % 59 as int))"
            )
            h = F.when(F.lit(t) < j_expr, h.bitwiseXOR(bit)).otherwise(h)
        return h

    items = (
        spark.range(n_items)
        .withColumn("cluster", F.col("id") % n_clusters)
        .select(
            F.concat(F.lit("i"), F.lpad(F.col("id").cast("string"), 6, "0")).alias(
                "image_id"
            ),
            flips(F.col("id") % 3, 13).alias("phash"),
        )
    )
    queries = (
        spark.range(n_queries)
        .withColumn("cluster", F.col("id") % n_clusters)
        .select(
            F.concat(F.lit("q"), F.lpad(F.col("id").cast("string"), 6, "0")).alias(
                "image_id"
            ),
            flips(F.col("id") % 8, 29).alias("phash"),
        )
    )
    return items, queries


def test_phash_hamming_knn_equals_brute(spark):
    """The banded radius-ladder kNN must equal the crossJoin brute
    force exactly (ids, ranks, distances) on a 10^4-query panel, and
    its plan must contain no CartesianProduct/BroadcastNestedLoopJoin —
    the scan x |queries| shape the ladder exists to kill."""
    import io
    from contextlib import redirect_stdout

    from lazyosm_spark.operators.knn import phash_hamming_knn, phash_hamming_topk

    items, queries = _phash_corpus(spark, 4000, 10_000, 500)
    items, queries = items.persist(), queries.persist()
    # materialize=False: the default checkpoints the result, whose
    # explained plan is just a Scan ExistingRDD — the no-cartesian
    # assertions must see the LAZY ladder plan to mean anything
    lazy = phash_hamming_knn(items, queries, k=5, materialize=False)
    buf = io.StringIO()
    with redirect_stdout(buf):
        lazy.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # values from the same lazy plan (identical to the default path,
    # which only adds a checkpoint — pinned by fx_phash_hamming_knn)
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["dist"])
        for r in lazy.collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["dist"])
        for r in phash_hamming_topk(items, queries, k=5).collect()
    }
    assert got == want and len(got) == 50_000


def test_phash_hamming_knn_fallback_exact(spark, monkeypatch):
    """Queries whose kth neighbor is beyond the last radius finish on
    the salted equi-join fallback — still exact."""
    from lazyosm_spark.operators import knn
    from lazyosm_spark.operators.knn import phash_hamming_knn, phash_hamming_topk

    rows = [("a", 0), ("b", -1), ("c", 0x0F0F0F0F0F0F0F0F), ("d", 3)]
    df = spark.createDataFrame(rows, "image_id string, phash long")
    monkeypatch.setattr(knn, "RADII", (2,))
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["dist"])
        for r in phash_hamming_knn(df, df, k=3).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["dist"])
        for r in phash_hamming_topk(df, df, k=3).collect()
    }
    assert got == want and len(got) == 12


def test_cell_hierarchy_invariants(spark):
    from lazyosm_spark.functions import cells

    pdf = spark.createDataFrame(_points(500), "point_id string, lon double, lat double")
    df = pdf.select(
        cells.cell_encode("lon", "lat", 12).alias("fine"),
        cells.cell_encode("lon", "lat", 5).alias("coarse"),
    ).withColumn("parent", cells.cell_parent(F.col("fine"), 5))
    assert df.filter(F.col("parent") != F.col("coarse")).count() == 0

    # k_ring contains the center and only valid in-grid neighbors
    kr = pdf.select(
        "point_id", cells.cell_encode("lon", "lat", 6).alias("c")
    ).select("point_id", "c", F.explode(cells.k_ring(F.col("c"), 2)).alias("n"))
    center_present = kr.filter(F.col("c") == F.col("n")).count()
    assert center_present == 500
    sizes = (
        kr.groupBy("point_id").count().agg(F.min("count"), F.max("count")).first()
    )
    assert sizes[0] >= 9 and sizes[1] <= 25  # clipped at edges, max (2k+1)^2


def test_cell_bounds_roundtrip(spark):
    from lazyosm_spark.functions import cells

    pdf = spark.createDataFrame(_points(300), "point_id string, lon double, lat double")
    c = cells.cell_encode("lon", "lat", 9)
    lo_lon, lo_lat, hi_lon, hi_lat = cells.cell_bounds(c)
    bad = pdf.select(
        ((F.col("lon") >= lo_lon) & (F.col("lon") < hi_lon)
         & (F.col("lat") >= lo_lat) & (F.col("lat") < hi_lat)).alias("ok")
    ).filter(~F.col("ok"))
    assert bad.count() == 0

