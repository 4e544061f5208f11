"""kNN operators: grid kNN via cell-ring expansion, phash Hamming top-k.

The reference has no kNN (SURVEY.md §2.3 last row); the north rule
mandates grid kNN via cell-ring expansion.  Design:

- encode queries and points at one resolution (JVM-side),
- join queries' k-ring cell arrays (functions/cells.k_ring) against
  points' cells — an equi-join after explode, no cross join,
- rank candidates per query with a window top-k,
- EXACTNESS: a neighbor found within ring radius R is only guaranteed
  k-nearest if its distance <= R * cell_size (anything outside the ring
  is at least that far).  Queries whose k-th candidate fails the bound
  (or with < k candidates) ESCALATE TO A COARSER RESOLUTION (res-2 per
  level, same ring width -> 16x the covered area) until a level's ring
  covers the whole grid — at full coverage every point is a candidate,
  so that level's top-k is exact by construction and NO brute-force
  cross join exists anywhere (a straggler query can never trigger a
  |pending| x |points| cartesian blow-up; the worst case is an
  equi-join on a handful of coarse cell keys, and only the queries
  whose k-th neighbor is ~a grid-quadrant away ever reach it).
  Each level is a plain Spark equi-join — the loop is driver-side over
  DataFrames, never over rows, with exactly ONE driver action (a count
  of the retired rows, which proves emptiness arithmetically when the
  pending count is known) per retiring level and one more per
  escalating level; at typical densities level 0 satisfies every query
  and the whole operator is a handful of Spark jobs.

Distance is planar Euclidean in degrees (documented engine semantic;
fixtures pin it).  Ties break by neighbor id ascending (SURVEY.md §7
determinism choice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lazyosm_spark.functions.cells import cell_encode, k_ring, ring_parent_cover
from lazyosm_spark.functions.hashing import hamming64


# Plan constants.  Both ladders' results are invariant to them
# (exactness comes from a distance bound + escalation), so each one is
# pure plan tuning.
RING = 1  # Chebyshev ring radius (cells) around a query's cell
LEVEL_STEP = 2  # resolutions dropped per escalation level
BROADCAST_ROWS = 4_000_000  # pending x ring cells at or below: broadcast queries
COMPACT_POINTS_ROWS = 100_000_000  # known point counts at or below: compact mode
EXPLODE_BROADCAST_MIN = 65_536  # floor of the explode-side crossover
# phash_hamming_knn: Hamming radius ladder, then the salted exact fallback
RADII = (2, 6, 14, 30, 62)
FALLBACK_SALT = 32


def _sides(queries: DataFrame, points: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(query_id, qlon, qlat) and (neighbor_id, plon, plat) projections.
    Ids keep their INPUT type: numeric ids sort/shuffle cheaper than
    their string casts in the top-k window; callers needing string
    tie-break semantics (e.g. the DuckDB-oracle twins) pre-cast."""
    q = queries.select("query_id", F.col("lon").alias("qlon"), F.col("lat").alias("qlat"))
    p = points.select(
        F.col("point_id").alias("neighbor_id"),
        F.col("lon").alias("plon"),
        F.col("lat").alias("plat"),
    )
    return q, p


def _with_dist(cand: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, dist): planar Euclidean in degrees."""
    dx, dy = F.col("qlon") - F.col("plon"), F.col("qlat") - F.col("plat")
    return cand.select("query_id", "neighbor_id", F.sqrt(dx * dx + dy * dy).alias("dist"))


def _topk(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dist")
    )


def pick_res(n_points: int, k: int) -> int:
    """Density-derived start resolution: expected ring candidates per
    query ~= max(256, 48k).  grid_knn's result is res-INVARIANT
    (exactness comes from the distance bound + escalation), so this is
    pure plan tuning.  The target gives ~pi/18 x tc ~= max(45, 8.4k)
    expected candidates inside the guarantee circle — enough margin
    over k that escalation is a never-executed safety net on roughly
    uniform data.  Round-6 A/B (BENCH/r06): the old max(32, 4k) target
    left ~9% of a 200k panel escalating at sf1 (an extra full point
    pass + driver round trip per level, 7.1s median); 48k retired
    everything at level 0 (4.0s); 96k over-coarsened (window input x4,
    8.2s).  The window top-k is candidate-linear, so going coarser than
    the escalation break-even only adds cost."""
    import math

    tc = max(256, 48 * k)
    ring_cells = (2 * RING + 1) ** 2
    # pts/cell = n / 4^res; solve ring_cells * pts/cell ~= tc.  ROUND
    # (not floor) the half-log: flooring overshot realized candidates
    # by up to 4x of target (the window top-k is candidate-linear —
    # measured ~15% of grid_knn wall at sf0.1); rounding lands within
    # 2x either side, and undershoot is safe — stragglers with < k
    # in-guarantee candidates escalate, exactness is res-invariant.
    return max(0, min(12, round(math.log2(max(n_points * ring_cells / tc, 1.0)) / 2)))


def grid_knn(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    res: int | None = None,
    n_points: int | None = None,
    n_queries: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """queries(query_id, lon, lat) × points(point_id, lon, lat) ->
    exact (query_id, neighbor_id, rank, dist).

    ``res=None`` (default) picks the start resolution from point
    density (pick_res): the per-query window top-k is the dominant cost
    and scales linearly with candidates, so over-coarse cells waste a
    multiple of the whole runtime.  The result is res-INVARIANT
    (exactness comes from the distance bound + escalation), so this is
    pure plan tuning, like AQE picking partition sizes from stats.
    ``n_points`` skips the density count job when the caller already
    knows it.

    Levels: resolution res, res-LEVEL_STEP, ... down to the first
    resolution whose grid the ring fully covers (the provably-exact
    terminal level).  No cross join at any level — the plan-audit
    (tools/explain_plans.py) asserts no CartesianProduct node.

    Join-side dispatch: whenever the pending count is KNOWN (the
    ``n_queries`` hint at level 0 — no count job is added for unhinted
    callers — and the emptiness probe's count() at every later level)
    and pending x ring_cells <= BROADCAST_ROWS, the query side is
    broadcast and the points table is only SCANNED, never shuffled.
    This matters twice: at level 0 a small-panel query set turns the
    whole level into one scan + one candidate shuffle, and at
    escalation levels (a handful of pending stragglers by design) it
    prevents re-shuffling the full points table per level — at 100 TB
    that re-shuffle would dwarf the actual work.  Above the threshold
    (huge query panels) both sides shuffle on the cell key, the
    all-pairs-safe plan.

    WHICH side explodes depends on the pending size (guide §3.1: a
    broadcast hash relation is built SERIALLY, ~2.5 us/row on this box,
    so a big exploded panel turns into seconds of single-thread build
    time).  The crossover balances the two serial-equivalent costs: the
    ring build is ~2.5 us x pending x ring_cells on ONE thread, the
    stream explode adds ~3 extra probe rows per POINT spread over every
    core, so it sits near 3 x n_points / parallelism exploded rows
    (floored at EXPLODE_BROADCAST_MIN; twice that when n_points is
    unknown):

    - small pending (pending x ring_cells <= crossover): explode
      pending to its (2*RING+1)^2 ring cells at res_l and broadcast
      that — the points side streams with ONE probe per point,
      candidates are exactly the ring candidates.
    - large pending (above the crossover, level 0 of a big panel):
      broadcast pending UN-EXPLODED keyed by its single res_l - 1 cell
      and explode the POINT side to its <= 4 ring-covering parent cells
      (cells.ring_parent_cover).  The build side shrinks ring_cells x
      (the serial build cost drops with it); the stream side pays
      (ring+?)-cell explode probes, which parallelize across cores.
      Candidates become a SUPERSET of the ring candidates — p in
      ring(q) implies parent(cell(q)) is among p's ring-covering
      parents — but every within-guarantee point lies inside the ring
      (|dx|,|dy| <= guarantee = ring * cell_h <= one cell extent), so
      the post-filter candidate set, the retire decisions, and the
      exact top-k output are all UNCHANGED — the plan shape is pure
      tuning, like the broadcast/shuffle dispatch itself.  (res_l = 0
      has no parent grid; the terminal level always uses the ring
      formulation.)

    The ``n_queries`` hint is ADVISORY and trusted as given (validating
    it would cost the very count job the hint exists to skip, and a
    limit-probe re-executes the upstream plan under AQE): an
    UNDERSTATED hint — e.g. a stale value reused across calls while the
    panel grew — broadcasts an exploded frame of the panel's TRUE size
    x ring_cells, a memory hazard well past BROADCAST_ROWS.  Pass the
    exact panel count or nothing; a missing hint only costs the shuffle
    plan at level 0, never correctness.

    COMPACT MODE (see the inline comment): a known-small points table
    (n_points <= COMPACT_POINTS_ROWS) is round-robin repartitioned to
    core count, so probe stages are not capped at the source's parquet
    row-group parallelism (guide §2.5 input skew).  Points above the
    threshold — the 100 TB shape — are never shuffled.

    Every call scans and encodes its points table; there is no
    repeat-call path.  A caller serving many panels against one points
    table can persist that frame itself; how much of the removed
    prepared-points path's saving (1.2 s against 2.35 s cold per call
    at sf0.1 on 32 cores, BENCH_r06.json) that recovers is unmeasured.

    ``materialize=True`` (default) eagerly localCheckpoints the final
    union and unpersists every per-level cache, so a finished call
    leaves NO superseded persisted frame behind (pytest inspects
    getPersistentRDDs); pass False to get the lazy ladder plan (for
    plan audits / further composition) — then the per-level caches stay
    alive as long as the returned plan does.
    """
    if res is None:
        if n_points is None:
            n_points = points.count()  # also enables compact mode
        res = pick_res(n_points, k)
    q, p = _sides(queries, points)
    # COMPACT MODE (guide §2.5 input skew): a source whose files carry
    # few parquet row groups caps every level's probe stage at
    # row-group parallelism (measured: sf1 lineitem has 6 row groups,
    # so the 32-core box ran the 24M-probe stage 6-wide — q50 task
    # 0.28s, q100 5.1s).  When the point count is KNOWN and small
    # enough that one shuffle is cheap, round-robin repartition the
    # 3-column projection; the probe then runs core-wide off the
    # exchange.  At 10^12 points (n_points > COMPACT_POINTS_ROWS, or
    # unknown) the points table is NEVER shuffled — the original
    # streaming plan.
    dp = points.sparkSession.sparkContext.defaultParallelism
    if n_points is not None and 0 < n_points <= COMPACT_POINTS_ROWS:
        # NOT persisted (r6 A/B): with the pick_res default the ladder
        # is single-level in the common case, so the repartitioned
        # frame is consumed exactly once — caching it cost a fill pass
        # + an extra AQE materialization (interleaved medians: 4.3-7.4s
        # cached vs 3.4s plain at sf1).  A rare escalation level
        # re-runs scan+exchange, which is correct and cheaper than
        # paying the cache on every call.
        p = p.repartition(dp)
    explode_rows = (
        max(EXPLODE_BROADCAST_MIN, 3 * n_points // max(dp, 1))
        if n_points is not None
        else 2 * EXPLODE_BROADCAST_MIN
    )

    # resolution ladder: stop at the first level the ring fully covers
    # (Chebyshev radius >= grid_dim - 1 -> every cell is in the ring)
    levels: list[int] = []
    r = res
    while True:
        r = max(r, 0)
        levels.append(r)
        if (1 << r) - 1 <= RING or r == 0:
            break
        r -= LEVEL_STEP

    pending = q
    # No extra count job for unhinted callers: level 0 broadcasts only
    # when the caller supplied n_queries; escalation levels always know
    # their pending count from the emptiness probe, so the expensive
    # case (re-shuffling the full points table for a few stragglers)
    # is avoided either way.
    n_pending = n_queries  # None = unknown -> shuffle plan at level 0
    ring_cells = (2 * RING + 1) ** 2
    done_parts: list[DataFrame] = []
    prev_pending: DataFrame | None = None  # persisted nxt superseded per level
    wq = Window.partitionBy("query_id")
    for i, res_l in enumerate(levels):
        is_final = i == len(levels) - 1
        cell_h = 180.0 / (1 << res_l)  # lat extent of a cell (tighter bound)
        guarantee = float(RING * cell_h)
        stream_explode = (
            res_l >= 1
            and n_pending is not None
            and n_pending * ring_cells > explode_rows
            and n_pending <= BROADCAST_ROWS
        )
        if stream_explode:
            # big-panel plan: broadcast pending un-exploded (single
            # res_l - 1 key), explode the POINT side to its ring-
            # covering parents — candidate superset, identical output
            # (see docstring); no ring_cells-x serial relation build
            qside = pending.select(
                "query_id",
                "qlon",
                "qlat",
                cell_encode("qlon", "qlat", res_l - 1).alias("pcell"),
            )
            pl = p.select(
                "neighbor_id",
                "plon",
                "plat",
                F.explode(ring_parent_cover("plon", "plat", res_l, RING)).alias("pcell"),
            )
            cand = pl.join(F.broadcast(qside), "pcell")
        else:
            exploded = pending.select(
                "query_id",
                "qlon",
                "qlat",
                F.explode(k_ring(cell_encode("qlon", "qlat", res_l), RING)).alias("pcell"),
            )
            if n_pending is not None and n_pending * ring_cells <= BROADCAST_ROWS:
                exploded = F.broadcast(exploded)
            pl = p.withColumn("pcell", cell_encode("plon", "plat", res_l))
            cand = exploded.join(pl, "pcell")
        cand = _with_dist(cand)
        # Non-final levels: a query retires iff its rank-k distance over
        # ALL ring candidates is <= guarantee — which holds iff it has
        # >= k candidates WITHIN guarantee, and then its top-k over just
        # those equals the true top-k.  So drop beyond-guarantee
        # candidates BEFORE the window (cheap JVM filter): provably
        # identical output, and the shuffle + top-k window processes
        # ~pi*r^2/(2r+1)^2 (~35-50%) of the ring candidates.
        if not is_final:
            cand = cand.filter(F.col("dist") <= F.lit(guarantee))
        # single stats pass: kth = dist of the rank-k row (NULL when the
        # query has < k candidates within the bound)
        kth = F.max(F.when(F.col("rank") == k, F.col("dist"))).over(wq)
        scored = _topk(cand, k).withColumn("kth", kth)
        # at the terminal level the ring covers the whole grid, so the
        # top-k is exact regardless of the distance bound (and queries
        # with fewer than k reachable points emit what exists)
        ok = (
            scored
            if is_final
            else scored.filter(F.col("kth").isNotNull())
        ).select("query_id", "neighbor_id", "rank", "dist").persist()
        done_parts.append(ok)
        if is_final:
            break
        # the ONE action per retiring level: materializes `ok` into
        # cache (it is reused by the final union) and doubles as the
        # emptiness probe.  At a NON-final level a query retires iff
        # its rank-k row exists, so every retired query contributes
        # EXACTLY k rows — n_retired = count(ok) // k, and when the
        # pending count is known the level can prove "everyone retired"
        # WITHOUT executing the anti-join (r6: the anti-join's
        # broadcast build of up to |panel| x k ids was a serial
        # relation build + an extra job on the common path).  A panel
        # with duplicate query ids under-counts retires here, which
        # only costs one provably-empty extra level, never correctness.
        n_ok = ok.count()
        if n_pending is not None and n_pending - n_ok // k <= 0:
            break
        # someone (or an unknown count) is still pending: build the
        # next pending frame and count it for real
        nxt = pending.join(ok.select("query_id"), "query_id", "left_anti").persist()
        n_pending = nxt.count()
        if n_pending == 0:
            nxt.unpersist()
            break
        # the superseded pending's cache is no longer referenced (ok and
        # nxt are both materialized) — release it now
        if prev_pending is not None:
            prev_pending.unpersist()
        prev_pending = nxt
        pending = nxt

    out = done_parts[0]
    for part in done_parts[1:]:
        out = out.unionByName(part)
    if materialize:
        # one copy of the RESULT replaces all intermediate caches:
        # after this epilogue the operator leaves nothing persisted
        # behind except the checkpoint blocks the returned frame reads.
        # (A tempting "skip the checkpoint when one level retired all"
        # shortcut is WRONG here: leaving `ok` persisted makes Spark's
        # CacheManager substitute it into the next structurally
        # identical call's plan — cross-call result memoization, which
        # both games repeat-benchmarks and leaks one cache per call.)
        out = out.localCheckpoint(eager=True)
        for part in done_parts:
            part.unpersist()
        if prev_pending is not None:
            prev_pending.unpersist()
    return out


def knn_brute(queries: DataFrame, points: DataFrame, k: int) -> DataFrame:
    """Reference-quality brute force (the oracle shape): cross join +
    window top-k.  Use only for verification / tiny query sets."""
    q, p = _sides(queries, points)
    return _topk(_with_dist(q.crossJoin(p)), k)


def phash_hamming_knn(
    items: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "image_id",
    hash_col: str = "phash",
    materialize: bool = True,
) -> DataFrame:
    """EXACT top-k by 64-bit Hamming distance with NO cross join — the
    scale path for large query panels (phash_hamming_topk is
    scan x |queries| by design and only fits small panels).

    Radius-escalation ladder (grid_knn's structure on Hamming space):
    at radius r, pigeonhole-band both sides into r+1 disjoint bit
    blocks (a pair within r differing bits shares >= 1 exact block,
    dedup._simhash_blocks) and equi-join per band.  Candidates within
    r are COMPLETE, so a query whose rank-k candidate has dist <= r is
    exact and retires; the rest escalate to a larger radius (more,
    narrower bands).  Queries still pending after the last radius in
    RADII (kth neighbor differs in > RADII[-1] of 64 bits — genuinely
    exhaustive territory) finish on a salted equi-join: items get
    pmod(xxhash64(id), FALLBACK_SALT), queries replicate over the salt
    values — a shuffled hash/SMJ plan, never a BroadcastNestedLoopJoin
    or CartesianProduct node (plan-audited).

    Arithmetic-shift note: F.shiftright sign-extends, but masking to
    the block width keeps the true bit field, so the sign bit (bit 63)
    bands correctly.  Ties break by (dist, neighbor_id) ascending.

    ``materialize=True`` (default) eagerly localCheckpoints the final
    union and unpersists the items cache and every per-level cache —
    a finished call leaves no superseded persisted frame behind; pass
    False to get the lazy ladder plan (plan audits / composition), at
    the cost of the caches living as long as the returned plan.
    -> (query_id, neighbor_id, rank, dist)."""
    from lazyosm_spark.operators.dedup import _simhash_blocks

    it = items.select(
        F.col(id_col).alias("neighbor_id"), F.col(hash_col).alias("nhash")
    ).persist()
    wq = Window.partitionBy("query_id")

    def banded(df: DataFrame, hcol: str, blocks) -> DataFrame:
        return df.select(
            "*",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bi).alias("block"),
                            F.shiftright(F.col(hcol), off)
                            .bitwiseAND(F.lit((1 << wd) - 1).cast("long"))
                            .alias("key"),
                        )
                        for bi, (off, wd) in enumerate(blocks)
                    ]
                )
            ).alias("b"),
        ).select(*df.columns, F.col("b.block").alias("block"), F.col("b.key").alias("key"))

    def hamming(joined: DataFrame) -> DataFrame:
        return joined.filter(F.col("neighbor_id") != F.col("query_id")).select(
            "query_id",
            "neighbor_id",
            F.bit_count(F.col("qhash").bitwiseXOR(F.col("nhash"))).cast("long").alias("dist"),
        )

    pending = queries.select(
        F.col(id_col).alias("query_id"), F.col(hash_col).alias("qhash")
    )
    parts: list[DataFrame] = []
    exhausted = True
    prev_pending: DataFrame | None = None  # persisted nxt superseded per level
    for r in RADII:
        blocks = _simhash_blocks(64, r + 1)
        cand = hamming(
            banded(pending, "qhash", blocks).join(banded(it, "nhash", blocks), ["block", "key"])
        ).distinct()  # a pair can share several bands
        # accept a query iff its rank-k dist <= r: candidates within r
        # are complete by pigeonhole, so that top-k is provably exact
        kth = F.max(F.when(F.col("rank") == k, F.col("dist"))).over(wq)
        ok = (
            _topk(cand, k)
            .withColumn("kth", kth)
            .filter(F.col("kth") <= r)
            .select("query_id", "neighbor_id", "rank", "dist")
            .persist()
        )
        parts.append(ok)
        nxt = pending.join(
            ok.select("query_id").distinct(), "query_id", "left_anti"
        ).persist()
        # the one driver action per level (materializes ok's cache too)
        if nxt.count() == 0:
            nxt.unpersist()
            exhausted = False
            break
        # the superseded pending's cache is no longer referenced (ok and
        # nxt are both materialized) — release it instead of leaking one
        # cached frame per level for the session lifetime
        if prev_pending is not None:
            prev_pending.unpersist()
        prev_pending = nxt
        pending = nxt
    if exhausted:
        # salted exact fallback for the (normally empty) residue
        ib = it.withColumn(
            "jk", F.pmod(F.xxhash64("neighbor_id"), F.lit(FALLBACK_SALT)).cast("int")
        )
        qb = pending.select(
            "*",
            F.explode(F.array(*[F.lit(i) for i in range(FALLBACK_SALT)])).alias("jk"),
        )
        parts.append(_topk(hamming(qb.join(ib, "jk")), k))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if materialize:
        out = out.localCheckpoint(eager=True)
        for p in parts:
            p.unpersist()  # no-op on the never-persisted fallback part
        it.unpersist()
        if prev_pending is not None:
            prev_pending.unpersist()
    return out


def phash_hamming_topk(
    items: DataFrame, queries: DataFrame, k: int, id_col: str = "image_id", hash_col: str = "phash"
) -> DataFrame:
    """Top-k nearest by 64-bit Hamming distance (phash near-dup search).

    Reuses the reference's byte-vector Hamming idea
    (shortest_path.go:60-96) as bit_count(xor) on packed longs — fully
    JVM-side.  Queries broadcast (small side); scan x |queries| work,
    so SMALL PANELS ONLY — phash_hamming_knn is the scale path."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(hash_col).alias("qhash")
    )
    it = items.select(
        F.col(id_col).alias("neighbor_id"), F.col(hash_col).alias("nhash")
    )
    cand = it.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        cand.select(
            "query_id",
            "neighbor_id",
            hamming64("qhash", "nhash").cast("long").alias("dist"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
