"""Hierarchical grid-cell index (quadkey-style), pure JVM-side column math.

The engine's spatial partitioning key.  Replaces the reference's 1-D
decimal-digit id bucketing (``/root/reference/idmap.go:113-124`` — its
``IdMap`` is a tiling of id space) with a 2-D lat/lon tiling that has
H3/S2-style semantics: hierarchical containment (parent/child by bit
shift), k-ring neighborhoods, and bbox covers.  No external geo libs —
everything here compiles to Catalyst expressions (whole-stage codegen),
so cell encoding of 10^12 points never leaves the JVM.

Cell id layout (int64):  ``(res << 58) | (x << 29) | y``
  - res: 0..15  (resolution; 2^res × 2^res global grid)
  - x:   column over lon in [-180, 180)
  - y:   row    over lat in [-90, 90)

Parent containment is ``x >> (r1-r0)`` — an ancestor test is integer
arithmetic, which is what makes cell-prefix partition pruning work
(SURVEY.md §4: zone-map pruning analog of idmap.go:89-135).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_RES = 15
_RES_SHIFT = 58
_X_SHIFT = 29


def _lit(v) -> Column:
    if isinstance(v, Column):
        return v
    if isinstance(v, str):  # column name
        return F.col(v)
    return F.lit(v)


def cell_nx(res) -> Column:
    """Grid width at resolution ``res`` (2^res).  Arithmetic instead of
    shiftleft: the PySpark wrapper only takes Python-int bit counts."""
    if isinstance(res, int):
        return F.lit(1 << res).cast("long")
    return F.pow(F.lit(2.0), _lit(res).cast("double")).cast("long")


def lon_to_x(lon, res) -> Column:
    """Column of the x index of ``lon`` at ``res`` (clamped to grid)."""
    n = cell_nx(res)
    raw = F.floor((_lit(lon) + F.lit(180.0)) / F.lit(360.0) * n.cast("double"))
    return F.greatest(F.lit(0).cast("long"), F.least(raw.cast("long"), n - 1))


def lat_to_y(lat, res) -> Column:
    n = cell_nx(res)
    raw = F.floor((_lit(lat) + F.lit(90.0)) / F.lit(180.0) * n.cast("double"))
    return F.greatest(F.lit(0).cast("long"), F.least(raw.cast("long"), n - 1))


def pack_cell(x, y, res) -> Column:
    return (
        _lit(res).cast("long") * F.lit(1 << _RES_SHIFT).cast("long")
        + _lit(x).cast("long") * F.lit(1 << _X_SHIFT).cast("long")
        + _lit(y).cast("long")
    )


def cell_encode(lon, lat, res) -> Column:
    """Point -> cell id at resolution ``res``.  Pure columnar arithmetic."""
    return pack_cell(lon_to_x(lon, res), lat_to_y(lat, res), res)


def cell_res(cell) -> Column:
    return F.shiftright(_lit(cell), _RES_SHIFT).cast("int")


def cell_x(cell) -> Column:
    return F.shiftright(_lit(cell).cast("long"), _X_SHIFT).bitwiseAND(
        F.lit((1 << _RES_SHIFT - _X_SHIFT) - 1).cast("long")
    )


def cell_y(cell) -> Column:
    return _lit(cell).cast("long").bitwiseAND(F.lit((1 << _X_SHIFT) - 1).cast("long"))


def cell_parent(cell, parent_res) -> Column:
    """Ancestor cell at coarser ``parent_res`` (hierarchical containment).
    x >> dr as floor division (x, y nonnegative; dr is a column)."""
    scale = F.pow(F.lit(2.0), (cell_res(cell) - _lit(parent_res)).cast("double"))
    return pack_cell(
        F.floor(cell_x(cell) / scale).cast("long"),
        F.floor(cell_y(cell) / scale).cast("long"),
        parent_res,
    )


def cell_bounds(cell):
    """(lon_min, lat_min, lon_max, lat_max) columns of a cell's bbox."""
    res = cell_res(cell)
    n = cell_nx(res).cast("double")
    x = cell_x(cell).cast("double")
    y = cell_y(cell).cast("double")
    lon_min = x / n * 360.0 - 180.0
    lat_min = y / n * 180.0 - 90.0
    return (lon_min, lat_min, lon_min + 360.0 / n, lat_min + 180.0 / n)


def k_ring(cell, k: int) -> Column:
    """Array of all valid cells within Chebyshev distance ``k`` of ``cell``.

    The kNN cell-ring expansion primitive (SURVEY.md §2.3 J-kNN).  Stays
    JVM-side: sequence × sequence → flatten → filter in-grid.
    """
    res = cell_res(cell)
    n = cell_nx(res)
    x, y = cell_x(cell), cell_y(cell)
    cand = F.flatten(
        F.transform(
            F.sequence(F.lit(-k), F.lit(k)),
            lambda dx: F.transform(
                F.sequence(F.lit(-k), F.lit(k)),
                lambda dy: F.struct((x + dx).alias("x"), (y + dy).alias("y")),
            ),
        )
    )
    valid = F.filter(
        cand,
        lambda c: (c["x"] >= 0) & (c["x"] < n) & (c["y"] >= 0) & (c["y"] < n),
    )
    return F.transform(valid, lambda c: pack_cell(c["x"], c["y"], res))


def ring_parent_cover(lon, lat, res: int, ring: int) -> Column:
    """Cells at ``res - 1`` covering the Chebyshev-``ring`` neighborhood
    of the ``res`` cell containing (lon, lat) — at most
    (floor(ring/2)+1+...)^2 cells; exactly <= 4 for ring=1.

    The stream-side dual of ``k_ring`` for kNN joins: instead of
    exploding each QUERY to its (2*ring+1)^2 ring cells and broadcasting
    that blown-up frame (a serial hash-relation build of
    |queries| x ring_cells rows), broadcast the query panel UN-exploded
    keyed by its single ``res - 1`` cell and explode the POINT side to
    this parent cover.  The join then yields a SUPERSET of the k_ring
    candidates (p in ring(q) => cell(q) in ring(p) => parent(cell(q))
    is one of p's ring-covering parents), and every candidate NOT in
    the ring is farther than the ring guarantee, so grid_knn's retire
    rule and output are unchanged (proof in operators/knn.grid_knn).

    ``res`` is a Python int >= 1 (constant-folded codegen).
    """
    if res < 1:
        raise ValueError("ring_parent_cover requires res >= 1")
    x, y = lon_to_x(lon, res), lat_to_y(lat, res)
    n1 = F.lit((1 << (res - 1)) - 1).cast("long")
    zero = F.lit(0).cast("long")
    # floor((x±ring)/2) via arithmetic shift (floors negatives), clamped
    px0 = F.greatest(zero, F.shiftright(x - ring, 1))
    px1 = F.least(n1, F.shiftright(x + ring, 1))
    py0 = F.greatest(zero, F.shiftright(y - ring, 1))
    py1 = F.least(n1, F.shiftright(y + ring, 1))
    return F.flatten(
        F.transform(
            F.sequence(px0, px1),
            lambda xx: F.transform(
                F.sequence(py0, py1), lambda yy: pack_cell(xx, yy, res - 1)
            ),
        )
    )


def cover_bbox(lon_min, lat_min, lon_max, lat_max, res) -> Column:
    """Array of cells covering a bbox at ``res`` (polygon/footprint cover).

    Spark analog of the reference block-dependency discovery
    (``way.go:29-80``): which partitions does this geometry touch.
    """
    x0, x1 = lon_to_x(lon_min, res), lon_to_x(lon_max, res)
    y0, y1 = lat_to_y(lat_min, res), lat_to_y(lat_max, res)
    return F.flatten(
        F.transform(
            F.sequence(x0, x1),
            lambda xx: F.transform(
                F.sequence(y0, y1), lambda yy: pack_cell(xx, yy, res)
            ),
        )
    )


def cell_encode_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """ANSI-SQL (DuckDB-runnable) equivalent of cell_encode — the oracle
    side of the correctness gate.  Must stay formula-identical to
    lon_to_x/lat_to_y/pack_cell above."""
    n = 1 << res
    x = (
        f"greatest(0, least(CAST(floor((({lon_expr}) + 180.0) / 360.0 * {n}) "
        f"AS BIGINT), {n - 1}))"
    )
    y = (
        f"greatest(0, least(CAST(floor((({lat_expr}) + 90.0) / 180.0 * {n}) "
        f"AS BIGINT), {n - 1}))"
    )
    return f"(CAST({res} AS BIGINT) * {1 << _RES_SHIFT} + {x} * {1 << _X_SHIFT} + {y})"
