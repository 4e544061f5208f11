"""Driver-contract query registry: Spark query + DuckDB oracle twins.

Every SQL-expressible operator from SURVEY.md §2 (plus the
training-data-pipeline suite) is registered here as a pair:

    QUERIES[name]  = fn(spark, sf_dir) -> DataFrame
    ORACLES[name]  = DuckDB SQL over the same parquet views

The driver compares row count + schema + order-insensitive value hash,
so both sides must produce IDENTICAL values:
- every computed column is aliased the same on both sides;
- float aggregates are built from formula-identical expressions (same
  op order -> same IEEE result) or integer-unit arithmetic;
- hashes are md5-prefix-to-int64 (functions/hashing), portable;
- DuckDB sums of INTEGER promote to HUGEINT -> always CAST to BIGINT;
  integer division differs -> always CAST before '/'.

Geometry/fixture operators that the DuckDB views can't express are in
FIXTURE_QUERIES (rows-only checks; pytest carries their oracles).
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lazyosm_spark.functions import cells
from lazyosm_spark.functions.decode import (
    delta_decode,
    round_ref,
    round_ref_sql,
    zigzag_decode,
)
from lazyosm_spark.functions.hashing import md5_long, md5_long_sql
from lazyosm_spark.operators import dedup, similarity, text

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# derived point cloud: deterministic lon/lat from doc_id (golden-ratio
# sequence, same formula as fixtures.image_lonlat) — SQL-expressible, so
# spatial operators get real oracle checks on driver testdata.
# --------------------------------------------------------------------------

# R2 low-discrepancy constants (1/x, 1/x^2 of the plastic number):
# 2-D equidistributed, unlike (phi, phi^2) whose phi^2 = 1 - phi puts
# every point on one diagonal line (a 1-D lattice)
PHI = 0.7548776662466927
PHI2 = 0.5698402909980532


def _doc_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("double")
    lon = F.lit(-180.0) + F.lit(360.0) * (i * PHI - F.floor(i * PHI))
    lat = F.lit(-85.0) + F.lit(170.0) * (i * PHI2 - F.floor(i * PHI2))
    return d.select("doc_id", lon.alias("lon"), lat.alias("lat"))


_DOC_POINTS_SQL = f"""
SELECT doc_id,
       (-180.0 + 360.0 * (CAST(doc_id AS DOUBLE) * {PHI!r} - floor(CAST(doc_id AS DOUBLE) * {PHI!r}))) AS lon,
       (-85.0  + 170.0 * (CAST(doc_id AS DOUBLE) * {PHI2!r} - floor(CAST(doc_id AS DOUBLE) * {PHI2!r}))) AS lat
FROM documents
"""


# ======================================================================
# Aggregations (SURVEY §2.4) — TPC-H Q1 shape, integer-unit money math
# ======================================================================


@_register(
    "tpch1_pricing",
    """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(l_quantity)) AS BIGINT)                                   AS sum_qty,
       CAST(round(sum(l_extendedprice * 100)) AS BIGINT)                        AS sum_base_cents,
       CAST(round(sum(round(l_extendedprice * (1 - l_discount) * 10000))) AS BIGINT) AS sum_disc_e4,
       CAST(count(*) AS BIGINT)                                                 AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_tpch1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity")).cast("long").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * 100)).cast("long").alias("sum_base_cents"),
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000))
            )
            .cast("long")
            .alias("sum_disc_e4"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


@_register(
    "bbox_minmax_agg",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT)            AS n,
       round(min(value), 6)                AS vmin,
       round(max(value), 6)                AS vmax
FROM events GROUP BY event_type
""",
)
def q_bbox_agg(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.min("value"), 6).alias("vmin"),
        F.round(F.max("value"), 6).alias("vmax"),
    )


@_register(
    "distinct_agg",
    """
SELECT l_suppkey,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem GROUP BY l_suppkey
""",
)
def q_distinct_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").cast("long").alias("n_parts"),
        F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
    )


@_register(
    "rollup_counts",
    """
SELECT coalesce(l_returnflag, '<all>')  AS rf,
       coalesce(l_linestatus, '<all>')  AS ls,
       CAST(count(*) AS BIGINT)         AS n
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
""",
)
def q_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").cast("long").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("ls"),
            "n",
        )
    )


@_register(
    "pivot_case_agg",
    """
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'view'  THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN event_type NOT IN ('click','view') THEN 1 ELSE 0 END) AS BIGINT) AS n_other
FROM events GROUP BY user_id
""",
)
def q_pivot(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).cast("long").alias("n_click"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).cast("long").alias("n_view"),
        F.sum(F.when(~F.col("event_type").isin("click", "view"), 1).otherwise(0)).cast("long").alias("n_other"),
    )


# ======================================================================
# Windows (SURVEY §2.5 W1: delta decode == prefix sum) + sessionize
# ======================================================================


@_register(
    "cumsum_window",
    """
SELECT event_id,
       CAST(sum(CAST(floor(value * 100) AS BIGINT))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
FROM events
""",
)
def q_cumsum(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        F.sum(F.floor(F.col("value") * 100).cast("long")).over(w).cast("long").alias("running_cents"),
    )


@_register(
    "delta_decode_arrays",
    """
SELECT event_id,
       CAST(sum(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS decoded
FROM events
""",
)
def q_delta_decode_arrays(spark, sf_dir):
    """The engine's intra-row array delta decode (Arrow cumsum UDF,
    reference process.go:131-137) checked against the window form."""
    ev = _t(spark, sf_dir, "events")
    packed = (
        ev.select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("ts", "event_id"))).alias("s")
        )
        .select(
            "user_id",
            F.transform("s", lambda x: x["event_id"]).alias("ids"),
        )
    )
    decoded = packed.select(
        "user_id",
        F.explode(
            F.arrays_zip(
                F.col("ids").alias("event_id"),
                delta_decode("ids").alias("decoded"),
            )
        ).alias("z"),
    )
    return decoded.select(
        F.col("z.event_id").alias("event_id"),
        F.col("z.decoded").cast("long").alias("decoded"),
    )


@_register(
    "topk_per_group",
    """
SELECT o_custkey, o_orderkey, rnk FROM (
  SELECT o_custkey, o_orderkey,
         CAST(row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rnk
  FROM orders) WHERE rnk <= 3
""",
)
def q_topk(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    )


@_register(
    "sessionize",
    """
WITH g AS (
  -- date_diff('second') counts second boundaries == Spark's
  -- unix_timestamp (truncating) difference
  SELECT user_id, event_id, ts,
         CASE WHEN date_diff('second', lag(ts) OVER w, ts) > 3600 OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id,
       CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
FROM g
""",
)
def q_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    g = ev.withColumn(
        "new_s", F.when(gap.isNull() | (gap > 3600), 1).otherwise(0)
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    return g.select(
        "user_id",
        "event_id",
        F.sum("new_s").over(wsum).cast("long").alias("session_id"),
    )


# ======================================================================
# Joins (SURVEY §2.3)
# ======================================================================


@_register(
    "way_node_assembly",
    """
SELECT l_orderkey,
       array_to_string(list_sort(list(l_linenumber)), ',') AS line_seq,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem GROUP BY l_orderkey
""",
)
def q_assembly(spark, sf_dir):
    """J1 shape: ordered collect per key (way refs -> coordinate list),
    serialized as a string so the hash compares across engines."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.concat_ws(",", F.array_sort(F.collect_list("l_linenumber"))).alias("line_seq"),
        F.count("*").cast("long").alias("n_items"),
    )


@_register(
    "three_level_join",
    """
SELECT r.r_name,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(o.o_totalprice * 100)) AS BIGINT) AS total_cents
FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY r.r_name
""",
)
def q_three_level(spark, sf_dir):
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        r.join(n, n.n_regionkey == r.r_regionkey)
        .join(c, c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .groupBy("r_name")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice") * 100)).cast("long").alias("total_cents"),
        )
    )


@_register(
    "semi_join_members",
    """
SELECT c_custkey FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
""",
)
def q_semi(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")


@_register(
    "bloom_semi_join",
    """
SELECT l_orderkey, l_linenumber FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
""",
)
def q_bloom_semi(spark, sf_dir):
    """Bloom-prefiltered semi join (operators/bloom.py): the big side
    is cut to bloom survivors BEFORE the exact join, so at 100 TB the
    shuffle carries ~matches + 0.8% FPs instead of the whole table;
    the final exact semi join removes the FPs, so the oracle is the
    plain IN-subquery."""
    from lazyosm_spark.operators.bloom import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return bloom_semi_join(
        li, o, key_col="l_orderkey", small_key_col="o_orderkey"
    ).select("l_orderkey", "l_linenumber")


@_register(
    "anti_join_missing",
    """
SELECT c_custkey FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def q_anti(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@_register(
    "zone_map_prune",
    """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       CAST(min(l_orderkey) AS BIGINT) AS min_key, CAST(max(l_orderkey) AS BIGINT) AS max_key
FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 2000
GROUP BY l_returnflag
""",
)
def q_zone_prune(spark, sf_dir):
    """J4 analog: id-range predicate -> parquet row-group pruning (the
    reference's IdMap zone maps, idmap.go:89-135, for free)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey").between(1000, 2000))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("l_orderkey").cast("long").alias("min_key"),
            F.max("l_orderkey").cast("long").alias("max_key"),
        )
    )


# ======================================================================
# Scalar functions (SURVEY §2.8): zigzag, round_ref, hamming
# ======================================================================


@_register(
    "zigzag_decode",
    """
SELECT event_id,
       CAST(xor(event_id >> 1, -(event_id & 1)) AS BIGINT) AS zz
FROM events
""",
)
def q_zigzag(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select("event_id", zigzag_decode("event_id").alias("zz"))


@_register(
    "round_half_ref",
    f"""
SELECT l_orderkey, l_linenumber,
       {round_ref_sql("l_discount - 0.05")} AS r_pos_neg,
       {round_ref_sql("l_extendedprice * (1 - l_discount) / 7.0")} AS r_price
FROM lineitem
""",
)
def q_round_ref(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        round_ref(F.col("l_discount") - 0.05).alias("r_pos_neg"),
        round_ref(F.col("l_extendedprice") * (1 - F.col("l_discount")) / 7.0).alias("r_price"),
    )


@_register(
    "hamming_distance",
    """
SELECT CAST(bit_count(xor(l_orderkey, l_partkey)) AS BIGINT) AS hamming,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY 1
""",
)
def q_hamming(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.bit_count(F.col("l_orderkey").bitwiseXOR(F.col("l_partkey")))
            .cast("long")
            .alias("hamming")
        )
        .groupBy("hamming")
        .agg(F.count("*").cast("long").alias("n"))
    )


# ======================================================================
# Cell index (SURVEY §2.9 G-new): encode / parent / bbox cover
# ======================================================================


@_register(
    "cell_encode",
    f"""
SELECT doc_id, {cells.cell_encode_sql('lon', 'lat', 6)} AS cell
FROM ({_DOC_POINTS_SQL})
""",
)
def q_cell_encode(spark, sf_dir):
    pts = _doc_points(spark, sf_dir)
    return pts.select("doc_id", cells.cell_encode("lon", "lat", 6).alias("cell"))


@_register(
    "cell_parent",
    f"""
SELECT doc_id,
       {cells.cell_encode_sql('lon', 'lat', 10)} AS cell_fine,
       {cells.cell_encode_sql('lon', 'lat', 4)}  AS cell_coarse
FROM ({_DOC_POINTS_SQL})
""",
)
def q_cell_parent(spark, sf_dir):
    """Hierarchy invariant: parent(encode(p, 10), 4) == encode(p, 4) —
    the engine computes the parent via bit shifts, the oracle re-encodes
    at the coarse resolution; equality IS the containment proof."""
    pts = _doc_points(spark, sf_dir)
    fine = cells.cell_encode("lon", "lat", 10)
    return pts.select(
        "doc_id",
        fine.alias("cell_fine"),
        cells.cell_parent(fine, 4).alias("cell_coarse"),
    )


@_register(
    "cover_bbox",
    f"""
WITH p AS ({_DOC_POINTS_SQL})
SELECT doc_id,
       CAST((greatest(0, least(CAST(floor((lon + 0.5 + 180.0) / 360.0 * 256) AS BIGINT), 255))
           - greatest(0, least(CAST(floor((lon - 0.5 + 180.0) / 360.0 * 256) AS BIGINT), 255)) + 1)
          * (greatest(0, least(CAST(floor((lat + 0.5 + 90.0) / 180.0 * 256) AS BIGINT), 255))
           - greatest(0, least(CAST(floor((lat - 0.5 + 90.0) / 180.0 * 256) AS BIGINT), 255)) + 1) AS BIGINT) AS n_cells,
       {cells.cell_encode_sql('lon - 0.5', 'lat - 0.5', 8)} AS first_cell,
       {cells.cell_encode_sql('lon + 0.5', 'lat + 0.5', 8)} AS last_cell
FROM p
""",
)
def q_cover_bbox(spark, sf_dir):
    pts = _doc_points(spark, sf_dir)
    cover = cells.cover_bbox(
        F.col("lon") - 0.5, F.col("lat") - 0.5, F.col("lon") + 0.5, F.col("lat") + 0.5, 8
    )
    return pts.select(
        "doc_id",
        F.size(cover).cast("long").alias("n_cells"),
        F.element_at(cover, 1).alias("first_cell"),
        F.element_at(cover, -1).alias("last_cell"),
    )


@_register(
    "tile_membership_coarse",
    f"""
WITH p AS ({_DOC_POINTS_SQL}),
     pc AS (SELECT doc_id, {cells.cell_encode_sql('lon', 'lat', 4)} AS cell FROM p),
     t AS (SELECT DISTINCT {cells.cell_encode_sql('lon', 'lat', 4)} AS cell
           FROM (SELECT c_custkey AS doc_id,
                        (-180.0 + 360.0 * (CAST(c_custkey AS DOUBLE) * {PHI!r} - floor(CAST(c_custkey AS DOUBLE) * {PHI!r}))) AS lon,
                        (-85.0  + 170.0 * (CAST(c_custkey AS DOUBLE) * {PHI2!r} - floor(CAST(c_custkey AS DOUBLE) * {PHI2!r}))) AS lat
                 FROM customer))
SELECT pc.cell AS cell, CAST(count(*) AS BIGINT) AS n_docs
FROM pc JOIN t ON pc.cell = t.cell GROUP BY pc.cell
""",
)
def q_tile_coarse(spark, sf_dir):
    """The spatial join's coarse phase on driver testdata: doc points vs
    'tiles' = distinct cells of a customer-derived point set."""
    pts = _doc_points(spark, sf_dir).select(
        "doc_id", cells.cell_encode("lon", "lat", 4).alias("cell")
    )
    cust = _t(spark, sf_dir, "customer")
    i = F.col("c_custkey").cast("double")
    lon = F.lit(-180.0) + F.lit(360.0) * (i * PHI - F.floor(i * PHI))
    lat = F.lit(-85.0) + F.lit(170.0) * (i * PHI2 - F.floor(i * PHI2))
    tiles = cust.select(cells.cell_encode(lon, lat, 4).alias("cell")).distinct()
    return (
        pts.join(tiles, "cell")
        .groupBy("cell")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


# ======================================================================
# kNN (grid + cosine)
# ======================================================================


@_register(
    "grid_knn",
    f"""
WITH p AS ({_DOC_POINTS_SQL}),
     q AS (SELECT * FROM p WHERE doc_id < 20)
SELECT q.doc_id AS query_id, CAST(p.doc_id AS STRING) AS neighbor_id, rnk AS rank
FROM (
  SELECT q.doc_id, p.doc_id AS pid,
         row_number() OVER (PARTITION BY q.doc_id
            ORDER BY sqrt((q.lon - p.lon)*(q.lon - p.lon) + (q.lat - p.lat)*(q.lat - p.lat)) ASC,
                     CAST(p.doc_id AS STRING) ASC) AS rnk
  FROM q, p WHERE p.doc_id != q.doc_id
) s JOIN p ON p.doc_id = s.pid JOIN q ON q.doc_id = s.doc_id
WHERE rnk <= 5
""",
)
def q_grid_knn(spark, sf_dir):
    from lazyosm_spark.operators.knn import grid_knn

    pts = _doc_points(spark, sf_dir)
    # ids pre-cast to string: the oracle breaks distance ties by the
    # VARCHAR id ordering, so the engine must sort the same strings
    queries = pts.filter(F.col("doc_id") < 20).selectExpr(
        "cast(doc_id as string) as query_id", "lon", "lat"
    )
    # keep all points; ask for k=6 and drop the self pair afterwards to
    # mirror the oracle's p != q
    points = pts.selectExpr("cast(doc_id as string) as point_id", "lon", "lat")
    out = grid_knn(queries, points, k=6, res=5)
    out = out.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("rank").asc())
    return (
        out.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            "neighbor_id",
            "rank",
        )
    )


@_register(
    "cosine_topk",
    """
WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 10),
     it AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT query_id, neighbor_id, rank FROM (
  SELECT q.vec_id AS query_id, it.vec_id AS neighbor_id,
         row_number() OVER (PARTITION BY q.vec_id
            ORDER BY (list_dot_product(q.v, it.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(it.v, it.v)))) DESC,
                     it.vec_id ASC) AS rank
  FROM q, it WHERE it.vec_id != q.vec_id
) WHERE rank <= 5
""",
)
def q_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


# ======================================================================
# Dedup + text suite over documents
# ======================================================================


_NORM_TEXT_SQL = r"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"
_NORM_HASH_SQL = md5_long_sql(_NORM_TEXT_SQL)


@_register(
    "exact_dedup",
    f"""
WITH h AS (SELECT doc_id,
       {_NORM_HASH_SQL} AS text_hash
FROM documents)
SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, text_hash, CAST(count(*) AS BIGINT) AS group_size
FROM h GROUP BY text_hash
""",
)
def q_exact_dedup(spark, sf_dir):
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


def _minhash_sql(n_hashes: int, ngram: int = 3) -> str:
    toks = "regexp_split_to_array(trim(lower(text)), '\\s+')"
    sh = (
        f"list_distinct([array_to_string(({toks})[i:i+{ngram - 1}], ' ') "
        f"for i in range(1, greatest(len({toks}) - {ngram - 1}, 0) + 1)])"
    )
    sig_cols = ", ".join(
        f"list_min(list_transform(sh, s -> {md5_long_sql('s', seed=i)})) AS sig_{i}"
        for i in range(n_hashes)
    )
    return f"WITH s AS (SELECT doc_id, {sh} AS sh FROM documents) SELECT doc_id, {sig_cols} FROM s"


@_register("minhash_signatures", _minhash_sql(4))
def q_minhash_sigs(spark, sf_dir):
    return dedup.minhash_signatures(
        _t(spark, sf_dir, "documents"), n_hashes=4
    )


@_register(
    "ngram_jaccard_pairs",
    """
WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk FROM documents),
     s AS (SELECT doc_id,
           list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, greatest(len(tk) - 2, 0) + 1)]) AS sh
           FROM toks)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 9) AS jaccard
FROM s a, s b
WHERE a.doc_id < b.doc_id
  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.12
""",
)
def q_ngram_jaccard(spark, sf_dir):
    out = dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.12
    )
    return out.select("doc_id_a", "doc_id_b", F.round("jaccard", 9).alias("jaccard"))


@_register(
    "token_stats",
    r"""
WITH t AS (SELECT doc_id, text,
        regexp_split_to_array(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_wordpieces,
       CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS avg_token_len
FROM t
""",
)
def q_token_stats(spark, sf_dir):
    return text.token_stats(_t(spark, sf_dir, "documents"))


@_register(
    "langid",
    r"""
WITH t AS (SELECT doc_id,
        regexp_split_to_array(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
FROM documents),
sc AS (SELECT doc_id,
  [struct_pack(score := CAST(len(list_filter(toks, x -> list_contains(['der','die','und','das','ist','nicht','ein'], x))) AS DOUBLE) / greatest(CAST(len(toks) AS DOUBLE), 1.0), lang := 'de'),
   struct_pack(score := CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is'], x))) AS DOUBLE) / greatest(CAST(len(toks) AS DOUBLE), 1.0), lang := 'en'),
   struct_pack(score := CAST(len(list_filter(toks, x -> list_contains(['le','la','et','les','des','est','une'], x))) AS DOUBLE) / greatest(CAST(len(toks) AS DOUBLE), 1.0), lang := 'fr')] AS scored
FROM t)
SELECT doc_id,
       list_sort(list_filter(scored, s -> s.score = list_max(list_transform(scored, x -> x.score))))[1].lang AS lang_pred,
       list_max(list_transform(scored, x -> x.score)) AS score
FROM sc
""",
)
def q_langid(spark, sf_dir):
    return text.langid(_t(spark, sf_dir, "documents"))


@_register(
    "quality_score",
    r"""
WITH t AS (SELECT doc_id, text,
        regexp_split_to_array(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
FROM documents)
SELECT doc_id,
       least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
       CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct_ratio,
       CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is'], x))) AS DOUBLE)
          / greatest(CAST(len(toks) AS DOUBLE), 1.0) AS stop_ratio,
       (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        * (1 - CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0))
        * (0.5 + 0.5 * (CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is'], x))) AS DOUBLE)
                        / greatest(CAST(len(toks) AS DOUBLE), 1.0)))) AS quality
FROM t
""",
)
def q_quality(spark, sf_dir):
    return text.quality_score(_t(spark, sf_dir, "documents"))


@_register(
    "doc_fingerprint",
    rf"""
WITH t AS (SELECT doc_id,
        regexp_split_to_array(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
FROM documents)
SELECT doc_id,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, t -> {md5_long_sql('t')})),
            (acc, h) -> (acc * 131 + h) % 2147483647) AS BIGINT) AS fingerprint
FROM t
""",
)
def q_fingerprint(spark, sf_dir):
    return text.fingerprint(_t(spark, sf_dir, "documents"))


@_register(
    "winnow_fingerprints",
    rf"""
WITH t AS (SELECT doc_id,
        regexp_split_to_array(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
FROM documents),
g AS (SELECT doc_id,
      [array_to_string(toks[i:i+2], ' ') for i in range(1, greatest(len(toks) - 2, 0) + 1)] AS grams
      FROM t),
h AS (SELECT doc_id, list_transform(grams, s -> {md5_long_sql('s')}) AS hs FROM g),
f AS (SELECT doc_id,
      list_distinct([list_min(hs[i:i+3]) for i in range(1, greatest(len(hs) - 3, 0) + 1)]) AS fps
      FROM h)
SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
       array_to_string(list_sort(fps), ',') AS fp_seq
FROM f
""",
)
def q_winnow(spark, sf_dir):
    """Winnowing fingerprints (k=3-gram hashes, window w=4) — the
    local-fingerprinting dedup family member (SWA 2003), value-checked
    against the identical DuckDB list-comprehension pipeline."""
    return text.winnow_fingerprints(_t(spark, sf_dir, "documents"), k=3, w=4)


# ======================================================================
# Fixture-backed operators (geometry / images / ANN).  Each now carries
# a DuckDB oracle too: either pure SQL (formula-identical twins of the
# LSH/simhash/kNN math) or read_parquet over the COMMITTED golden
# artifacts produced by the independent scalar oracle
# (tools/make_golden.py make_driver_artifacts -> tests/golden_driver/,
# regenerate + commit after fixture or geometry changes).
# ======================================================================

FIXTURE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

# repo-relative so the oracles survive a checkout at any path
GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "golden_driver",
)


def _golden(name: str) -> str:
    return f"read_parquet('{GOLDEN_DIR}/{name}.parquet')"


def _register_fixture(name: str, oracle: str | None = None):
    def deco(fn):
        FIXTURE_QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _fixture_scale(sf_dir: str) -> str:
    return {"sf0.001": "tiny", "sf0.01": "small", "sf0.1": "small"}.get(
        os.path.basename(sf_dir.rstrip("/")), "small"
    )


@functools.cache
def _stream_root() -> str:
    """The process's one scratch root for the streaming queries' trees,
    made under tempfile.gettempdir() on first use and removed at exit."""
    root = tempfile.mkdtemp(prefix="spark_graft_streams_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _run_stream(waves: list[DataFrame], start) -> DataFrame:
    """Write ``waves`` as the input files of a fresh tree under
    _stream_root(), run ``start(input_dir, input_schema, output_dir,
    checkpoint_dir)`` (a streaming/pipeline operator) to completion and
    read its output.  The tree outlives the call because the returned
    frame reads it lazily.  A query still running after 240 s is
    stopped and raises TimeoutError instead of returning partial
    output."""
    d = tempfile.mkdtemp(dir=_stream_root())
    in_dir, out_dir, ck_dir = (os.path.join(d, x) for x in ("in", "out", "ck"))
    for i, wave in enumerate(waves):
        wave.write.parquet(os.path.join(in_dir, f"w{i}"))
    q = start(in_dir + "/*", waves[0].schema.toDDL(), out_dir, ck_dir)
    if not q.awaitTermination(240):
        q.stop()
        raise TimeoutError(f"streaming query {q.id} did not finish in 240 s")
    return waves[0].sparkSession.read.parquet(out_dir)


def _halves(df: DataFrame, col: str) -> list[DataFrame]:
    """Two arrival waves: the rows whose SQL expression ``col`` is at
    most its median, then the rest."""
    split = df.agg(F.expr(f"percentile({col}, 0.5)")).first()[0]
    return [df.filter(F.expr(col) <= split), df.filter(F.expr(col) > split)]


@_register_fixture(
    "fx_relation_assembly",
    f"""
SELECT osm_id, geom_type,
       CAST(n_outers AS BIGINT) AS n_outers,
       CAST(n_inners AS BIGINT) AS n_inners
FROM {_golden('relation_features_small')}
""",
)
def q_fx_assembly(spark, sf_dir):
    """Ring connect + PIP nesting -> (Multi)Polygon features; oracle =
    the independent scalar-oracle golden artifact."""
    from lazyosm_spark.operators.osm import (
        decode_nodes,
        decode_relations,
        decode_ways,
        relation_features,
    )
    from lazyosm_spark.sources.fixtures import fixture_pbf

    enc = fixture_pbf(spark, _fixture_scale(sf_dir))
    rf = relation_features(
        decode_relations(enc["relations_encoded"]),
        decode_ways(enc["ways_encoded"]),
        decode_nodes(enc["nodes_encoded"]),
    )
    return rf.select(
        "osm_id",
        "geom_type",
        F.col("n_outers").cast("long").alias("n_outers"),
        F.col("n_inners").cast("long").alias("n_inners"),
    ).orderBy("osm_id")


@_register_fixture(
    "fx_way_features",
    f"SELECT osm_id, geom_type FROM {_golden('way_features_small')}",
)
def q_fx_way_features(spark, sf_dir):
    from lazyosm_spark.operators.osm import decode_nodes, decode_ways, way_features
    from lazyosm_spark.sources.fixtures import fixture_pbf

    enc = fixture_pbf(spark, _fixture_scale(sf_dir))
    wf = way_features(decode_ways(enc["ways_encoded"]), decode_nodes(enc["nodes_encoded"]))
    return wf.select("osm_id", "geom_type").orderBy("osm_id")


@_register_fixture(
    "fx_spatial_join_pip",
    f"""
SELECT image_id AS point_id,
       CAST(tile_id AS BIGINT) AS tile_id,
       CAST(resolution AS BIGINT) AS resolution
FROM {_golden('tile_membership_small')}
""",
)
def q_fx_spatial_join(spark, sf_dir):
    """The flagship: image points x tile polygons, coarse cell join +
    vectorized PIP refine; oracle = scalar ray-cast golden membership."""
    from lazyosm_spark.operators.spatial_join import tile_points
    from lazyosm_spark.sources.fixtures import image_lonlat_sql, load_fixtures

    fx = load_fixtures(spark, _fixture_scale(sf_dir))
    images = fx["images"]
    i = F.regexp_extract("image_id", r"(\d+)", 1).cast("long").cast("double")
    lon_sql, lat_sql = image_lonlat_sql("i")
    pts = images.select(F.col("image_id"), i.alias("i")).selectExpr(
        "image_id", f"{lon_sql} as lon", f"{lat_sql} as lat"
    )
    out = tile_points(pts, fx["tiles"], point_id="image_id")
    return out.select(
        "point_id", "tile_id", F.col("resolution").cast("long").alias("resolution")
    ).orderBy("point_id", "tile_id")


@_register_fixture(
    "fx_image_roundtrip",
    f"""
SELECT image_id, psnr >= 40.0 AS psnr_ok, caption_ok
FROM {_golden('roundtrip_images_small')}
""",
)
def q_fx_image_roundtrip(spark, sf_dir):
    """decode(encode(img)) fidelity + caption byte-equality (input_hint
    per-row invariant): psnr >= 40 lossy, inf lossless."""
    from lazyosm_spark.sources.fixtures import caption_for_image_id, load_fixtures
    from lazyosm_spark.sources.images import ROUNDTRIP_SCHEMA, roundtrip_verify_batches

    fx = load_fixtures(spark, _fixture_scale(sf_dir))
    out = fx["images"].mapInPandas(
        roundtrip_verify_batches(caption_for_image_id), ROUNDTRIP_SCHEMA
    )
    return out.select(
        "image_id",
        (F.col("psnr") >= 40.0).alias("psnr_ok"),
        "caption_ok",
    ).orderBy("image_id")


@_register_fixture(
    "fx_phash_hamming_knn",
    f"""
WITH im AS (SELECT image_id, phash FROM {_golden('phash_small')}),
q AS (SELECT image_id AS query_id, phash AS qhash FROM im
      WHERE image_id <= 'img_000000000009'),
c AS (SELECT q.query_id, im.image_id AS neighbor_id,
             CAST(bit_count(xor(q.qhash, im.phash)) AS BIGINT) AS dist
      FROM q, im WHERE im.image_id != q.query_id)
SELECT query_id, neighbor_id, dist, CAST(rnk AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY dist ASC, neighbor_id ASC) AS rnk FROM c)
WHERE rnk <= 5
""",
)
def q_fx_phash_knn(spark, sf_dir):
    """Runs the at-scale banded radius-ladder (phash_hamming_knn — no
    crossJoin anywhere); pytest pins it equal to phash_hamming_topk,
    and the oracle is the SQL brute force over the golden phashes."""
    from lazyosm_spark.operators.knn import phash_hamming_knn
    from lazyosm_spark.sources.fixtures import load_fixtures

    fx = load_fixtures(spark, _fixture_scale(sf_dir))
    images = fx["images"]
    queries = images.filter(F.col("image_id") <= "img_000000000009")
    return phash_hamming_knn(images, queries, k=5).select(
        "query_id", "neighbor_id", "dist", F.col("rank").cast("long").alias("rank")
    ).orderBy("query_id", "rank")


def _minhash_lsh_sql(
    n_hashes: int = 8, bands: int = 4, ngram: int = 3, threshold: float = 0.12
) -> str:
    """DuckDB twin of the FULL minhash-LSH pipeline: shingles ->
    signatures -> band keys (concat_ws, NULL-skipping like Spark's) ->
    bucket-share condition -> exact Jaccard verify.  Same md5 hashes,
    same int/int division -> identical doubles."""
    from lazyosm_spark.functions.hashing import shingles_sql

    sh = shingles_sql("text", ngram)
    sig_cols = ", ".join(
        f"list_min(list_transform(sh, s -> {md5_long_sql('s', seed=i)})) AS sig_{i}"
        for i in range(n_hashes)
    )
    rpb = n_hashes // bands
    key_cols = ", ".join(
        "concat_ws('_', "
        + ", ".join(f"sig_{b * rpb + r}" for r in range(rpb))
        + f") AS k{b}"
        for b in range(bands)
    )
    share = " OR ".join(f"a.k{b} = b.k{b}" for b in range(bands))
    return f"""
WITH s AS (SELECT doc_id, {sh} AS sh FROM documents),
g AS (SELECT doc_id, sh, {sig_cols} FROM s),
k AS (SELECT doc_id, sh, {key_cols} FROM g),
cand AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, a.sh AS sa, b.sh AS sb
         FROM k a JOIN k b ON ({share})
         WHERE a.doc_id < b.doc_id),
j AS (SELECT doc_id_a, doc_id_b,
             CAST(len(list_intersect(sa, sb)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(sa, sb))) AS DOUBLE) AS jac
      FROM cand)
SELECT doc_id_a, doc_id_b, round(jac, 9) AS jaccard FROM j WHERE jac >= {threshold!r}
"""


def _components_sql(threshold: float = 0.12) -> str:
    """Recursive-CTE reachability closure over the SAME minhash-LSH edge
    set: component = min reachable doc — the independent oracle of the
    engine's iterative min-label propagation."""
    edges = _minhash_lsh_sql(threshold=threshold)
    return f"""
WITH RECURSIVE
pairs AS (SELECT doc_id_a AS a, doc_id_b AS b FROM ({edges})),
und AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT u.a, reach.r FROM reach JOIN und u ON u.b = reach.id
)
SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS component
FROM reach GROUP BY id
"""


@_register("doc_dedup_components", _components_sql())
def q_doc_components(spark, sf_dir):
    """Transitive near-dup GROUPING: minhash-LSH pairs -> connected
    components (iterative min-label propagation, operators/graph.py) —
    the corpus-dedup step after pair generation.  Oracle: recursive-CTE
    reachability closure over the identical edge set."""
    from lazyosm_spark.operators.graph import connected_components

    docs = _t(spark, sf_dir, "documents")
    edges = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.12).select(
        F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")
    )
    out = connected_components(docs.select("doc_id"), edges, node_col="doc_id")
    return out.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


def _corpus_filter_sql(min_quality: float = 0.25, lang: str = "en") -> str:
    """The composed corpus filter's twin: the SAME per-leg oracle SQL
    (quality / langid / exact-dedup / LSH components) CTE-joined."""
    return f"""
WITH q AS ({ORACLES['quality_score']}),
l AS ({ORACLES['langid']}),
reps AS ({ORACLES['exact_dedup']}),
comp AS ({_components_sql(threshold=0.5)})
SELECT d.doc_id, l.lang_pred, q.quality
FROM documents d
JOIN q ON q.doc_id = d.doc_id
JOIN l ON l.doc_id = d.doc_id
WHERE q.quality >= {min_quality!r}
  AND l.lang_pred = '{lang}'
  AND d.doc_id IN (SELECT doc_id FROM reps)
  AND d.doc_id IN (SELECT doc_id FROM comp WHERE component = doc_id)
"""


@_register("corpus_filter", _corpus_filter_sql())
def q_corpus_filter(spark, sf_dir):
    """The composed end-to-end curation decision (quality + langid +
    exact dedup + transitive near-dup representatives) as one plan,
    value-checked against the CTE-joined per-leg oracles."""
    from lazyosm_spark.operators.corpus import filter_corpus

    out = filter_corpus(
        _t(spark, sf_dir, "documents"),
        min_quality=0.25,
        langs=("en",),
        near_dup_threshold=0.5,
    )
    return out.select("doc_id", "lang_pred", "quality")


# Deterministic PII injection (the synthetic corpus itself is
# digit-free): every doc gains one email + one IPv4, docs % 3 an
# SSN-style id, docs % 5 a phone — identical expressions both engines.
_PII_INJECT_SQL = (
    "text || ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.org ip 10.' || "
    "CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) || "
    "CASE WHEN doc_id % 3 = 0 THEN printf(' ssn %03d-%02d-%04d', "
    "100 + doc_id % 900, 10 + doc_id % 89, 1000 + doc_id % 9000) ELSE '' END || "
    "CASE WHEN doc_id % 5 = 0 THEN ' call +1 (555) 867-5309' ELSE '' END"
)


def _pii_injected(docs):
    d = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            d.cast("string"),
            F.lit("@mail.example.org ip 10."),
            (d % 200).cast("string"),
            F.lit(".0."),
            (d % 250).cast("string"),
            F.when(
                d % 3 == 0,
                F.format_string(
                    " ssn %03d-%02d-%04d",
                    (d % 900 + 100).cast("int"),
                    (d % 89 + 10).cast("int"),
                    (d % 9000 + 1000).cast("int"),
                ),
            ).otherwise(F.lit("")),
            F.when(d % 5 == 0, F.lit(" call +1 (555) 867-5309")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )


def _pii_scrub_sql() -> str:
    from lazyosm_spark.operators.text import pii_scrub_sql

    clean, counts = pii_scrub_sql("text")
    total = " + ".join(f"n_{name}" for name, _, _ in _pii_patterns())
    return f"""
WITH inj AS (SELECT doc_id, {_PII_INJECT_SQL} AS text FROM documents),
c AS (SELECT doc_id, {clean} AS clean_text, {', '.join(counts)} FROM inj)
SELECT doc_id, clean_text, n_email, n_ssn, n_ipv4, n_phone,
       CAST({total} AS BIGINT) AS n_pii
FROM c
"""


def _pii_patterns():
    from lazyosm_spark.operators.text import PII_PATTERNS

    return PII_PATTERNS


@_register("pii_scrub", _pii_scrub_sql())
def q_pii_scrub(spark, sf_dir):
    """PII redaction sweep (round-4 verdict item 6): vectorized JVM
    regexp chain, per-pattern hit counts on progressively redacted
    text; the DuckDB twin is GENERATED from the same pattern table so
    the regexes can never drift.  Both engines run the identical
    deterministic injection over the digit-free corpus."""
    from lazyosm_spark.operators.text import pii_scrub

    return pii_scrub(_pii_injected(_t(spark, sf_dir, "documents")))


def _corpus_pii_sql(min_quality: float = 0.25, lang: str = "en", max_pii: int = 3) -> str:
    from lazyosm_spark.operators.text import pii_scrub_sql

    _, counts = pii_scrub_sql("text")
    total = " + ".join(f"n_{name}" for name, _, _ in _pii_patterns())
    # the per-leg oracles are written over `documents`; point them at
    # the injected CTE by renaming the one FROM each contains
    q_leg = ORACLES["quality_score"].replace("FROM documents", "FROM dpii")
    l_leg = ORACLES["langid"].replace("FROM documents", "FROM dpii")
    r_leg = ORACLES["exact_dedup"].replace("FROM documents", "FROM dpii")
    return f"""
WITH dpii AS (SELECT doc_id, {_PII_INJECT_SQL} AS text FROM documents),
q AS ({q_leg}),
l AS ({l_leg}),
reps AS ({r_leg}),
pii AS (SELECT doc_id, {', '.join(counts)} FROM dpii)
SELECT d.doc_id, l.lang_pred, q.quality
FROM dpii d
JOIN q ON q.doc_id = d.doc_id
JOIN l ON l.doc_id = d.doc_id
WHERE q.quality >= {min_quality!r}
  AND l.lang_pred = '{lang}'
  AND d.doc_id IN (SELECT doc_id FROM reps)
  AND d.doc_id IN (SELECT doc_id FROM pii WHERE {total} <= {max_pii})
"""


@_register("corpus_pii_filter", _corpus_pii_sql())
def q_corpus_pii_filter(spark, sf_dir):
    """filter_corpus composed WITH the redaction sweep: documents whose
    PII hit count exceeds max_pii are dropped alongside the quality /
    langid / exact-dedup legs (every doc here carries injected PII;
    docs divisible by 15 carry 4 hits and fall out)."""
    from lazyosm_spark.operators.corpus import filter_corpus

    out = filter_corpus(
        _pii_injected(_t(spark, sf_dir, "documents")),
        min_quality=0.25,
        langs=("en",),
        max_pii=3,
    )
    return out.select("doc_id", "lang_pred", "quality")


def _corpus_repetition_sql(
    min_quality: float = 0.25,
    lang: str = "en",
    max_top_bigram: float = 0.05,
    max_dup_ngram: float = 0.1,
) -> str:
    from lazyosm_spark.operators.repetition import repetition_stats_sql

    return f"""
WITH q AS ({ORACLES['quality_score']}),
l AS ({ORACLES['langid']}),
reps AS ({ORACLES['exact_dedup']}),
rep AS ({repetition_stats_sql('documents')})
SELECT d.doc_id, l.lang_pred, q.quality
FROM documents d
JOIN q ON q.doc_id = d.doc_id
JOIN l ON l.doc_id = d.doc_id
WHERE q.quality >= {min_quality!r}
  AND l.lang_pred = '{lang}'
  AND d.doc_id IN (SELECT doc_id FROM reps)
  AND d.doc_id IN (SELECT doc_id FROM rep
                   WHERE top_bigram_frac <= {max_top_bigram!r}
                     AND dup_ngram_word_frac <= {max_dup_ngram!r})
"""


@_register("corpus_repetition_filter", _corpus_repetition_sql())
def q_corpus_repetition_filter(spark, sf_dir):
    """filter_corpus composed WITH the Gopher/C4 repetition leg: docs
    whose modal bigram owns > 5% of bigram slots or whose duplicated
    trigrams cover > 10% of words fall out alongside quality / langid /
    exact dedup — one shared repetition_stats pass for both bounds."""
    from lazyosm_spark.operators.corpus import filter_corpus

    out = filter_corpus(
        _t(spark, sf_dir, "documents"),
        min_quality=0.25,
        langs=("en",),
        max_top_bigram_frac=0.05,
        max_dup_ngram_frac=0.1,
    )
    return out.select("doc_id", "lang_pred", "quality")


@_register_fixture("fx_minhash_lsh_pairs", _minhash_lsh_sql())
def q_fx_lsh(spark, sf_dir):
    """Full LSH dedup pipeline (bands -> bucket join -> exploded-join
    Jaccard verify) vs the formula-identical DuckDB twin."""
    docs = _t(spark, sf_dir, "documents")
    out = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.12)
    return out.select(
        "doc_id_a", "doc_id_b", F.round("jaccard", 9).alias("jaccard")
    ).orderBy("doc_id_a", "doc_id_b")


@_register_fixture(
    "fx_simhash_near_pairs",
    f"""
WITH s AS (SELECT doc_id, {dedup.simhash64_sql('text')} AS simhash FROM documents)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
""",
)
def q_fx_simhash(spark, sf_dir):
    """simhash_near_pairs is EXACT (combination banding over
    max_hamming+2 pigeonhole blocks), so the oracle is a plain
    all-pairs bit_count over the identical simhash values
    (simhash64_sql twin).  A low bucket_threshold drives the one engine
    path through its recursive hot-bucket split, which emits the same
    exact pairs (pytest-pinned) while bounding band bucket sizes."""
    docs = _t(spark, sf_dir, "documents")
    out = dedup.simhash_near_pairs(
        docs, max_hamming=12, bucket_threshold=16, max_split_depth=2
    )
    return out.select(
        "doc_id_a", "doc_id_b", F.col("hamming").cast("long").alias("hamming")
    ).orderBy("doc_id_a", "doc_id_b")


def _lsh_ann_sql(k: int = 5, dim: int = 64, n_planes: int = 12, bands: int = 3) -> str:
    """DuckDB twin of lsh_ann_topk: identical plane weights / bucket
    keys / sequential-sum cosine -> the approximate result matches the
    approximate engine bit-for-bit."""
    bw = n_planes // bands
    keys = lambda v: ", ".join(  # noqa: E731
        f"{similarity.lsh_bucket_sql(v, dim, b, bw)} AS k{b}" for b in range(bands)
    )
    share = " OR ".join(f"qk.k{b} = ik.k{b}" for b in range(bands))
    cos = (
        f"({similarity.dot_sql('qv', 'nv', dim)} / "
        f"({similarity.norm_sql('qv', dim)} * {similarity.norm_sql('nv', dim)}))"
    )
    return f"""
WITH it AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ik AS (SELECT vec_id, v, {keys('v')} FROM it),
qk AS (SELECT * FROM ik WHERE vec_id < 10),
cand AS (SELECT qk.vec_id AS query_id, ik.vec_id AS neighbor_id,
                qk.v AS qv, ik.v AS nv
         FROM qk JOIN ik ON ({share})
         WHERE ik.vec_id != qk.vec_id)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
            ORDER BY {cos} DESC, neighbor_id ASC) AS rnk
  FROM cand)
WHERE rnk <= {k}
"""


@_register_fixture("fx_lsh_ann_topk", _lsh_ann_sql())
def q_fx_lsh_ann(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.lsh_ann_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    ).orderBy("query_id", "rank")


@_register_fixture(
    "fx_grid_knn_large",
    f"""
WITH p AS ({_DOC_POINTS_SQL}),
d AS (SELECT q.doc_id AS qid, CAST(pp.doc_id AS VARCHAR) AS nid,
             sqrt((q.lon - pp.lon)*(q.lon - pp.lon)
                + (q.lat - pp.lat)*(q.lat - pp.lat)) AS dist
      FROM p q, p pp),
r AS (SELECT qid, dist, row_number() OVER (PARTITION BY qid
             ORDER BY dist ASC, nid ASC) AS rnk FROM d)
SELECT CAST(qid AS VARCHAR) AS query_id,
       CAST(count(*) AS BIGINT) AS n,
       round(max(dist), 9) AS kth_dist
FROM r WHERE rnk <= 4 GROUP BY qid
""",
)
def q_fx_grid_knn(spark, sf_dir):
    """Grid kNN with a larger query fan-out (all doc points as queries)
    — exercises the ring-expansion levels; oracle = SQL brute force."""
    from lazyosm_spark.operators.knn import grid_knn

    pts = _doc_points(spark, sf_dir)
    q = pts.selectExpr("cast(doc_id as string) as query_id", "lon", "lat")
    p = pts.selectExpr("cast(doc_id as string) as point_id", "lon", "lat")
    # res=None: the density-auto resolution path (exactness is
    # res-invariant, so the oracle is unchanged)
    out = grid_knn(q, p, k=4)
    return out.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.max("dist"), 9).alias("kth_dist"),
    )


# Registration-order tail: the driver's correctness run caps at ~50
# queries per round, so redundant twins (each duplicating a family
# member that already has a green row) register LAST — every family's
# scale-shaped variant lands inside the cap.  All 66 stay registered
# and value-checked locally via tools/compare_driver.py regardless.
_REDUNDANT_TWINS = [
    "asof_join_pandas",       # duplicates asof_join's oracle
    "fx_streaming_sessionize",  # duplicates sessionize's oracle
    "cube_counts",            # rollup_counts covers grouping sets
    "cumsum_window",          # delta_decode_arrays is the W1 reference shape
    "ngram_jaccard_pairs",    # small-scale oracle of fx_minhash_lsh_pairs
    "cell_parent",            # cell_encode/cover_bbox cover the cell family
    "zigzag_decode",          # scalar fns: string_funcs/date_parts keep rows
    "round_half_ref",
    "hamming_distance",
    "ntile_buckets",          # windows: topk/sessionize/lead_lag keep rows
    "lead_lag_delta",
    "pivot_case_agg",         # aggs: tpch1/rollup/percentiles keep rows
    "set_ops",
    "anti_join_missing",      # semi_join_members keeps the id-join row
    "doc_fingerprint",        # winnow_fingerprints is the scale shape
    "token_stats",            # corpus_filter composes the text metrics
    "langid",                 # corpus_filter composes it (round-3 slots
    "quality_score",          # freed for pack_sequences + sampling)
    "cosine_near_dup",        # fx_embedding_near_dup_lsh is the scale shape
]


def _infer_round() -> int:
    """Rotation round number from EXPLICIT inputs only (round-4 ADVICE:
    globbing untracked CORRECTNESS_r*.json artifacts made registry
    order depend on leftover files and could flip parity between two
    processes if a round file landed mid-run):

    1. ``LAZYOSM_ROUND`` env var — a driver/CI override,
    2. the TRACKED ``ROUND`` file at the repo root (committed and
       bumped once per round as part of round work — deterministic on
       fresh clones and worked trees alike),
    3. fixed default 1 (odd ordering: every family's scale-shaped
       variant lands inside the driver cap)."""
    v = os.environ.get("LAZYOSM_ROUND", "").strip()
    if v.isdigit():
        return int(v)
    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    try:
        with open(os.path.join(repo, "ROUND")) as f:
            txt = f.read().strip()
    except OSError:
        return 1
    return int(txt) if txt.isdigit() else 1


# Pinned ONCE at import: queries() and oracle_sql() must agree on the
# registry order within a process even if the driver writes this
# round's CORRECTNESS file between the two calls (or a retry runs
# after it landed) — a call-time inference could flip the parity and
# mispair a capped run's query set against its oracle list.
_CURRENT_ROUND = _infer_round()


def _current_round() -> int:
    return _CURRENT_ROUND


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry in driver priority order.  The driver's correctness run
    caps at ~50 of the registered queries, so ordering decides who
    gets a driver-green row this round: on ODD rounds the redundant
    twins go LAST (every family's scale-shaped variant inside the cap —
    the round-3 layout); on EVEN rounds they go FIRST, so every query
    gets a driver-green CORRECTNESS row at least every other round
    (round-3 verdict item 6).  All stay registered and are
    value-checked locally via tools/compare_driver.py regardless."""
    merged = dict(QUERIES)
    merged.update(FIXTURE_QUERIES)
    twins = [n for n in _REDUNDANT_TWINS if n in merged]
    rest = [n for n in merged if n not in twins]
    order = rest + twins if _current_round() % 2 == 1 else twins + rest
    return {n: merged[n] for n in order}


# ======================================================================
# Additional operator coverage: as-of join, percentiles, string/date
# functions, tumbling windows (streaming twin), set ops
# ======================================================================


@_register(
    "asof_join",
    """
WITH tagged AS (
  SELECT user_id, ts, event_id, event_type,
         max(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_ts
  FROM events)
SELECT event_id, CAST(date_diff('second', last_view_ts, ts) AS BIGINT) AS secs_since_view
FROM tagged WHERE event_type = 'click'
""",
)
def q_asof(spark, sf_dir):
    """As-of join (Spark lacks a native one): for each click, the most
    recent prior view of the same user — expressed as a running max
    window over the unioned stream (the scalable formulation; per-group
    merge_asof in pandas is the applyInPandas fallback)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = ev.withColumn(
        "last_view_ts",
        F.max(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    return tagged.filter(F.col("event_type") == "click").select(
        "event_id",
        (F.unix_timestamp("ts") - F.unix_timestamp("last_view_ts"))
        .cast("long")
        .alias("secs_since_view"),
    )


@_register("asof_join_pandas", ORACLES["asof_join"])
def q_asof_pandas(spark, sf_dir):
    """The grouped-pandas as-of formulation (operators/asof.py) checked
    against the SAME oracle as the window form."""
    from lazyosm_spark.operators.asof import asof_join_pandas

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    views = ev.filter(F.col("event_type") == "view")
    return asof_join_pandas(clicks, views).select("event_id", "secs_since_view")


def _kmv_sql() -> str:
    from lazyosm_spark.operators.sketches import kmv_distinct_sql

    return kmv_distinct_sql("lineitem", "l_returnflag", "l_partkey", k=64)


@_register("kmv_distinct_sketch", _kmv_sql())
def q_kmv(spark, sf_dir):
    """KMV distinct-count sketch (deterministic md5 k-minimums) —
    estimate reproduced bit-for-bit by the DuckDB twin; accuracy is
    pytest-gated (~1/sqrt(k))."""
    from lazyosm_spark.operators.sketches import kmv_distinct

    return kmv_distinct(
        _t(spark, sf_dir, "lineitem"), "l_returnflag", "l_partkey", k=64
    )


@_register(
    "hypertable_rollup",
    """
SELECT 'hour' AS granularity, date_trunc('hour', ts) AS bucket_start,
       event_type AS key, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'day', date_trunc('day', ts), event_type, CAST(count(*) AS BIGINT),
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
FROM events GROUP BY 2, 3
""",
)
def q_hypertable(spark, sf_dir):
    """Multi-granularity continuous aggregate: the engine derives the
    day level FROM the hour level (one raw scan); the oracle computes
    BOTH levels directly from raw — hash equality proves the rollup
    reuse is lossless."""
    from lazyosm_spark.operators.hypertable import hypertable_rollup

    return hypertable_rollup(
        _t(spark, sf_dir, "events"), granularities=("hour", "day")
    )


@_register(
    "range_join_agg",
    """
SELECT o.o_orderkey AS interval_id,
       CAST(count(*) AS BIGINT) AS n_in_range,
       CAST(round(sum(l.l_extendedprice * 100)) AS BIGINT) AS sum_cents
FROM orders o JOIN lineitem l
  ON l.l_extendedprice BETWEEN o.o_totalprice AND o.o_totalprice + 1000.0
GROUP BY 1
""",
)
def q_range_join(spark, sf_dir):
    """Range (interval) join via bucketized equi-join
    (operators/ranges.py) — no cartesian/BNL node — rolled up per
    interval; oracle = the plain BETWEEN join DuckDB evaluates
    exactly."""
    from lazyosm_spark.operators.ranges import range_join

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("point_id"),
        F.col("l_extendedprice").alias("value"),
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("interval_id"),
        F.col("o_totalprice").alias("lo"),
        (F.col("o_totalprice") + 1000.0).alias("hi"),
    )
    out = range_join(li, o, bucket_width=1000.0)
    return out.groupBy("interval_id").agg(
        F.count("*").cast("long").alias("n_in_range"),
        F.round(F.sum(F.col("value") * 100)).cast("long").alias("sum_cents"),
    )


@_register(
    "percentiles",
    """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
FROM lineitem GROUP BY l_returnflag
""",
)
def q_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    `quantile_cont`, both linear interpolation).  approx_percentile is
    the at-scale variant (not oracle-comparable by construction)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99"),
    )


@_register(
    "string_funcs",
    """
SELECT p_partkey,
       upper(substr(p_name, 1, 8))                       AS name8,
       length(p_name)                                    AS name_len,
       replace(p_type, ' ', '_')                         AS type_u,
       CAST(len(string_split(p_name, ' ')) AS BIGINT)    AS n_words,
       contains(p_type, 'BRASS')                         AS is_brass
FROM part
""",
)
def q_string_funcs(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper(F.substring("p_name", 1, 8)).alias("name8"),
        F.length("p_name").cast("long").alias("name_len"),
        F.regexp_replace("p_type", " ", "_").alias("type_u"),
        F.size(F.split("p_name", " ", -1)).cast("long").alias("n_words"),
        F.col("p_type").contains("BRASS").alias("is_brass"),
    )


@_register(
    "date_parts",
    """
SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
       CAST(month(o_orderdate) AS BIGINT) AS m,
       CAST(count(*) AS BIGINT) AS n,
       CAST(round(sum(o_totalprice * 100)) AS BIGINT) AS cents
FROM orders GROUP BY 1, 2
""",
)
def q_date_parts(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum(F.col("o_totalprice") * 100)).cast("long").alias("cents"),
    )


@_register(
    "tumbling_window_agg",
    """
SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY 1, 2
""",
)
def q_tumbling(spark, sf_dir):
    """Batch twin of the streaming tumbling-window rollup
    (streaming/pipeline.windowed_event_counts) — bucket arithmetic is
    identical, so the streaming path is oracle-checked transitively."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hour_bucket"),
        "event_type",
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).cast("long").alias("cents"),
    )


@_register(
    "set_ops",
    """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey FROM orders WHERE o_totalprice > 200000
""",
)
def q_set_ops(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select(F.col("c_custkey"))
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return c.intersect(o)


@_register(
    "ntile_buckets",
    """
SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       CAST(min(o_orderkey) AS BIGINT) AS min_key
FROM (SELECT o_orderkey,
             CAST(ntile(7) OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS bucket
      FROM orders)
GROUP BY bucket
""",
)
def q_ntile(spark, sf_dir):
    """W2 analog (position -> bucket index, process.go:453-456)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("bucket", F.ntile(7).over(w).cast("long"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("o_orderkey").cast("long").alias("min_key"),
        )
    )


@_register(
    "lead_lag_delta",
    """
SELECT event_id,
       CAST(event_id - lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS id_delta,
       CAST(date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS BIGINT) AS ts_delta
FROM events
""",
)
def q_lead_lag(spark, sf_dir):
    """Delta ENCODE (the inverse of W1): id/ts deltas via lag — the
    write-side of the reference's delta coding."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        (F.col("event_id") - F.lag("event_id").over(w)).cast("long").alias("id_delta"),
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)))
        .cast("long")
        .alias("ts_delta"),
    )


@_register(
    "cosine_near_dup",
    """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 9) AS cos
FROM v a, v b
WHERE a.vec_id < b.vec_id
  AND list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35
""",
)
def q_cosine_near_dup(spark, sf_dir):
    """Exact embedding near-dup pairs (the dedup suite's embedding leg;
    the LSH/IVF approximate paths are recall-tested against this)."""
    out = similarity.cosine_near_dup_exact(
        _t(spark, sf_dir, "embeddings"), threshold=0.35
    )
    return out.select("id_a", "id_b", F.round("cos", 9).alias("cos"))


@_register_fixture(
    "fx_ivf_ann_topk",
    """
WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 10),
     it AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
  SELECT q.vec_id AS query_id, it.vec_id AS neighbor_id,
         row_number() OVER (PARTITION BY q.vec_id
            ORDER BY (list_dot_product(q.v, it.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(it.v, it.v)))) DESC,
                     it.vec_id ASC) AS rank
  FROM q, it WHERE it.vec_id != q.vec_id
) WHERE rank <= 5
""",
)
def q_fx_ivf(spark, sf_dir):
    """IVF with nprobe = n_centroids (probe everything): exercises the
    full machinery — centroid pick, assignment UDF, probe equi-join,
    re-rank — in its provably-exact configuration, so the oracle is
    plain brute-force top-k.  The pruned-probe recall (nprobe < n) is
    pytest-gated (test_similarity.test_ivf_recall_vs_exact)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.ivf_ann_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        n_centroids=16,
        nprobe=16,
        lloyd_iters=1,  # refinement exercised; nprobe=all stays exact
    )
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    ).orderBy("query_id", "rank")


def _emb_near_dup_sql(
    threshold: float = 0.35, dim: int = 64, n_planes: int = 12, bands: int = 3
) -> str:
    bw = n_planes // bands
    keys = ", ".join(
        f"{similarity.lsh_bucket_sql('v', dim, b, bw)} AS k{b}" for b in range(bands)
    )
    share = " OR ".join(f"a.k{b} = b.k{b}" for b in range(bands))
    cos = (
        f"({similarity.dot_sql('a.v', 'b.v', dim)} / "
        f"({similarity.norm_sql('a.v', dim)} * {similarity.norm_sql('b.v', dim)}))"
    )
    return f"""
WITH it AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bk AS (SELECT vec_id, v, {keys} FROM it)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({cos}, 9) AS cos
FROM bk a JOIN bk b ON ({share})
WHERE a.vec_id < b.vec_id AND {cos} >= {threshold!r}
"""


@_register_fixture("fx_embedding_near_dup_lsh", _emb_near_dup_sql())
def q_fx_emb_neardup(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.embedding_near_dup_pairs(emb, threshold=0.35)
    return out.select("id_a", "id_b", F.round("cos", 9).alias("cos")).orderBy(
        "id_a", "id_b"
    )


@_register_fixture(
    "fx_block_multipoints",
    f"""
SELECT CAST(block_id AS BIGINT) AS block_id,
       CAST(n_points AS BIGINT) AS n_points, w, s, e, n
FROM {_golden('block_multipoints_small')}
""",
)
def q_fx_multipoints(spark, sf_dir):
    from lazyosm_spark.operators.osm import block_multipoints, decode_nodes
    from lazyosm_spark.sources.fixtures import fixture_pbf

    enc = fixture_pbf(spark, _fixture_scale(sf_dir))
    out = block_multipoints(decode_nodes(enc["nodes_encoded"]))
    return out.select(
        F.col("block_id").cast("long").alias("block_id"),
        F.col("n_points").cast("long").alias("n_points"),
        "w", "s", "e", "n",
    ).orderBy("block_id")


@_register_fixture(
    "fx_pbf_roundtrip",
    f"""
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(n_ways AS BIGINT) AS n_ways,
       CAST(n_relations AS BIGINT) AS n_relations
FROM {_golden('world_counts_small')}
""",
)
def q_fx_pbf(spark, sf_dir):
    """Real .osm.pbf wire-format ingest: the fixture world's shard ->
    scan -> decode; returns per-kind entity counts (pytest checks the
    decoded entities against the world itself)."""
    from lazyosm_spark.operators.osm import decode_nodes, decode_ways
    from lazyosm_spark.sources.fixtures import fixture_pbf

    enc = fixture_pbf(spark, _fixture_scale(sf_dir))
    n = decode_nodes(enc["nodes_encoded"]).count()
    w = decode_ways(enc["ways_encoded"]).count()
    r = enc["relations_encoded"].count()
    return spark.createDataFrame(
        [(int(n), int(w), int(r))], "n_nodes long, n_ways long, n_relations long"
    )


@_register_fixture(
    "fx_streaming_tiling",
    f"""
SELECT CAST(resolution AS BIGINT) AS resolution, CAST(count(*) AS BIGINT) AS n
FROM {_golden('doc_tile_membership_sf001')} GROUP BY 1
""",
)
def q_fx_streaming(spark, sf_dir):
    """Structured Streaming micro-batch tiling (availableNow) — result
    provably equals the batch operator (pytest); here the driver sees
    the streaming path produce rows."""
    from lazyosm_spark.sources.fixtures import load_fixtures
    from lazyosm_spark.streaming.pipeline import stream_tile_points

    tiles = load_fixtures(spark, _fixture_scale(sf_dir))["tiles"]
    pts = _doc_points(spark, sf_dir).selectExpr(
        "cast(doc_id as string) as point_id", "lon", "lat"
    )
    out = _run_stream(
        [pts], lambda i, s, o, c: stream_tile_points(spark, i, s, tiles, o, c)
    )
    return (
        out.groupBy(F.col("resolution").cast("long").alias("resolution"))
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("resolution")
    )


def _tile_raster_sql(grid: int = 8) -> str:
    """SQL twin of rasterize_membership over the golden doc membership:
    tile bounds re-derived from the packed cell id with the SAME
    floating-point op order as functions/cells.cell_bounds, so the
    floor/clamp bin indices agree bit-for-bit."""
    mask = (1 << 29) - 1
    n = "CAST(CAST(pow(2.0, CAST((tile_id >> 58) AS DOUBLE)) AS BIGINT) AS DOUBLE)"
    x = f"CAST(((tile_id >> 29) & {mask}) AS DOUBLE)"
    y = f"CAST((tile_id & {mask}) AS DOUBLE)"
    lon0 = f"({x} / {n} * 360.0 - 180.0)"
    lat0 = f"({y} / {n} * 180.0 - 90.0)"
    lon1 = f"({lon0} + 360.0 / {n})"
    lat1 = f"({lat0} + 180.0 / {n})"
    gx = (
        f"least({grid - 1}, greatest(0, "
        f"CAST(floor((lon - {lon0}) / ({lon1} - {lon0}) * {float(grid)!r}) AS INT)))"
    )
    gy = (
        f"least({grid - 1}, greatest(0, "
        f"CAST(floor((lat - {lat0}) / ({lat1} - {lat0}) * {float(grid)!r}) AS INT)))"
    )
    return f"""
WITH p AS ({_DOC_POINTS_SQL}),
m AS (SELECT doc_id, tile_id, resolution FROM {_golden('doc_tile_membership_sf001')}),
j AS (SELECT m.tile_id, m.resolution, p.lon, p.lat FROM m JOIN p ON p.doc_id = m.doc_id)
SELECT tile_id, CAST(resolution AS BIGINT) AS resolution,
       CAST({gx} AS BIGINT) AS gx, CAST({gy} AS BIGINT) AS gy,
       CAST(count(*) AS BIGINT) AS n_points
FROM j GROUP BY 1, 2, 3, 4
"""


@_register("tile_raster_grid", _tile_raster_sql())
def q_tile_raster(spark, sf_dir):
    """Raster<->vector leg: engine PIP membership (doc points x fixture
    tiles) binned into per-tile 8x8 count rasters — checked against the
    scalar-oracle golden membership rasterized in SQL (so the full
    membership row set is transitively value-checked too)."""
    from lazyosm_spark.operators.spatial_join import (
        rasterize_membership,
        tile_points,
    )
    from lazyosm_spark.sources.fixtures import load_fixtures

    fx = load_fixtures(spark, _fixture_scale(sf_dir))
    pts = _doc_points(spark, sf_dir).selectExpr(
        "cast(doc_id as string) as point_id", "lon", "lat"
    )
    mem = tile_points(pts, fx["tiles"])
    out = rasterize_membership(pts, mem, grid=8)
    return out.select(
        "tile_id",
        F.col("resolution").cast("long").alias("resolution"),
        F.col("gx").cast("long").alias("gx"),
        F.col("gy").cast("long").alias("gy"),
        "n_points",
    )


@_register_fixture(
    "fx_tile_polyfill",
    f"""
SELECT tile_id, cell FROM {_golden('polyfill_tiles')}
""",
)
def q_fx_polyfill(spark, sf_dir):
    """H3-polyfill analog (cells whose centers fall inside each tile
    ring, resolution+2) vs the scalar-oracle golden polyfill."""
    from lazyosm_spark.operators.spatial_join import polyfill
    from lazyosm_spark.sources.fixtures import load_fixtures

    fx = load_fixtures(spark, _fixture_scale(sf_dir))
    return polyfill(fx["tiles"]).select("tile_id", "cell").orderBy("tile_id", "cell")


@_register_fixture("fx_streaming_sessionize", ORACLES["sessionize"])
def q_fx_stream_sessionize(spark, sf_dir):
    """Stateful streaming sessionization == the batch window query: the
    events table arrives in two TIME-SPLIT waves (per-user order
    preserved), sessions spanning the wave boundary carried by state —
    checked against the same DuckDB oracle as the batch `sessionize`."""
    from lazyosm_spark.streaming.pipeline import stream_sessionize

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    out = _run_stream(
        _halves(ev, "unix_timestamp(ts)"), functools.partial(stream_sessionize, spark)
    )
    return out.select("user_id", "event_id", "session_id")


def _bucket_dedup_sql(n_hashes: int = 8, bands: int = 4, ngram: int = 3) -> str:
    """SQL twin of the streaming LSH bucket-dedup decision: a doc has a
    collision iff ANY of its band buckets is shared with a LOWER doc_id
    (arrival order == doc_id order across the waves)."""
    from lazyosm_spark.functions.hashing import shingles_sql

    sh = shingles_sql("text", ngram)
    sig_cols = ", ".join(
        f"list_min(list_transform(sh, s -> {md5_long_sql('s', seed=i)})) AS sig_{i}"
        for i in range(n_hashes)
    )
    rpb = n_hashes // bands
    key_cols = ", ".join(
        "concat_ws('_', "
        + ", ".join(f"sig_{b * rpb + r}" for r in range(rpb))
        + f") AS k{b}"
        for b in range(bands)
    )
    unions = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, k{b} AS key FROM k" for b in range(bands)
    )
    return f"""
WITH s AS (SELECT doc_id, {sh} AS sh FROM documents),
g AS (SELECT doc_id, sh, {sig_cols} FROM s),
k AS (SELECT doc_id, {key_cols} FROM g),
b AS ({unions}),
coll AS (SELECT b.doc_id, b.band,
                max(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS c
         FROM b LEFT JOIN b e
           ON e.band = b.band AND e.key = b.key AND e.doc_id < b.doc_id
         GROUP BY b.doc_id, b.band)
SELECT doc_id, (max(c) = 1) AS any_collision FROM coll GROUP BY doc_id
"""


@_register_fixture("fx_streaming_lsh_dedup", _bucket_dedup_sql())
def q_fx_stream_lsh(spark, sf_dir):
    """Streaming LSH bucket-dedup over two doc_id-ordered waves: the
    keyed bucket state spans micro-batches; per-doc collision flags
    equal the pure-SQL EXISTS-an-earlier-doc rule."""
    from lazyosm_spark.streaming.pipeline import stream_minhash_bucket_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = _run_stream(
        _halves(docs, "doc_id"), functools.partial(stream_minhash_bucket_dedup, spark)
    )
    return out.groupBy("doc_id").agg(F.max("collided").alias("any_collision"))


@_register_fixture(
    "fx_stateful_stream_dedup",
    f"""
WITH h AS (SELECT DISTINCT {md5_long_sql(_NORM_TEXT_SQL)} AS th FROM documents)
SELECT CAST(count(*) AS BIGINT) AS n_unique,
       CAST(count(DISTINCT th) AS BIGINT) AS n_hashes
FROM h
""",
)
def q_fx_stateful(spark, sf_dir):
    """applyInPandasWithState streaming dedup over the documents table
    split into two arrival waves."""
    from lazyosm_spark.streaming.pipeline import stream_exact_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    waves = [docs.filter(F.col("doc_id") % 2 == k) for k in (0, 1)]
    out = _run_stream(waves, functools.partial(stream_exact_dedup, spark))
    return out.agg(
        F.count("*").alias("n_unique"),
        F.countDistinct("text_hash").alias("n_hashes"),
    )


def _stream_pack_sql(ctx: int = 512) -> str:
    """Batch twin of the streaming packer: per-lang running token sum
    in doc_id (arrival) order, same floor/modulo chunk math."""
    toks = (
        r"len(regexp_split_to_array("
        r"regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '))"
    )
    return f"""
WITH t AS (SELECT doc_id, lang, CAST({toks} AS BIGINT) AS n_tokens FROM documents),
c AS (SELECT doc_id, lang, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
SELECT doc_id, lang,
       CAST((cum - n_tokens) // {ctx} AS BIGINT) AS seq_id,
       CAST((cum - n_tokens) % {ctx} AS BIGINT) AS "offset",
       n_tokens
FROM c
"""


@_register_fixture("fx_streaming_pack", _stream_pack_sql())
def q_fx_stream_pack(spark, sf_dir):
    """Streaming per-stratum sequence packing over two doc_id-ordered
    arrival waves: the keyed token cursor spans micro-batches, so the
    result equals the batch per-lang cumsum SQL."""
    from lazyosm_spark.streaming.pipeline import stream_pack_sequences

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    out = _run_stream(
        _halves(docs, "doc_id"), functools.partial(stream_pack_sequences, spark)
    )
    return out.select("doc_id", "lang", "seq_id", "offset", "n_tokens")


def _stream_tok_pack_sql(ctx: int = 128) -> str:
    """Batch twin of the streaming BPE packer: per-lang running sum of
    the GOLDEN token counts (the independent scalar BPE's output) in
    doc_id (arrival) order."""
    return f"""
WITH g AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens
           FROM {_golden('bpe_tokens_sf001')}),
t AS (SELECT d.doc_id, d.lang, g.n_tokens
      FROM documents d JOIN g ON g.doc_id = d.doc_id),
c AS (SELECT doc_id, lang, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
SELECT doc_id, lang,
       CAST((cum - n_tokens) // {ctx} AS BIGINT) AS seq_id,
       CAST((cum - n_tokens) % {ctx} AS BIGINT) AS "offset",
       n_tokens
FROM c
"""


@_register_fixture("fx_stream_tokenize_pack", _stream_tok_pack_sql())
def q_fx_stream_tokenize_pack(spark, sf_dir):
    """Raw text -> BPE ids -> packed sequences in STRUCTURED STREAMING
    (two doc_id-ordered arrival waves, keyed cursor spanning them);
    n_tokens must equal the committed scalar-BPE golden per doc and
    the chunk math the batch cumsum."""
    from lazyosm_spark.streaming.pipeline import stream_tokenize_pack

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    out = _run_stream(
        _halves(docs, "doc_id"),
        functools.partial(stream_tokenize_pack, spark, ctx_len=128),
    )
    return out.select("doc_id", "lang", "seq_id", "offset", "n_tokens")


# ======================================================================
# Training-sequence packing + deterministic sampling (round 3)
# ======================================================================


def _pack_sql() -> str:
    from lazyosm_spark.operators.packing import pack_sequences_sql

    toks = (
        r"len(regexp_split_to_array("
        r"regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '))"
    )
    return pack_sequences_sql("documents", 512, tokens_expr=toks)


@_register("pack_sequences", _pack_sql())
def q_pack_sequences(spark, sf_dir):
    """GPT-style concat-then-chunk packing via the DISTRIBUTED prefix
    sum (range-bucketed hash -> partial sums -> broadcast offsets ->
    per-bucket window; no Exchange SinglePartition, plan-audited) —
    hash-equal to the oracle's one-window formulation."""
    from lazyosm_spark.operators.dedup import normalize_text
    from lazyosm_spark.operators.packing import pack_sequences

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(normalize_text("text"), " ")).alias("n_tokens")
    )
    return pack_sequences(d, ctx_len=512)


@_register_fixture(
    "bpe_tokenize",
    f"""
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, ids_csv
FROM {_golden('bpe_tokens_sf001')}
""",
)
def q_bpe_tokenize(spark, sf_dir):
    """Vocab-based BPE tokenizer (broadcast merges, Arrow-vectorized,
    per-worker word memo) vs the committed golden produced by the
    INDEPENDENT scalar BPE (tests/oracle/bpe_ref, classic
    sequential-replacement formulation).  ids_csv carries the FULL
    token-id sequence per doc, so the hash compare pins every id."""
    from lazyosm_spark.operators.tokenize import tokenize

    t = tokenize(_t(spark, sf_dir, "documents"))
    return t.select(
        "doc_id",
        "n_tokens",
        F.array_join(
            F.transform("token_ids", lambda x: x.cast("string")), ","
        ).alias("ids_csv"),
    )


def _bpe_pack_sql() -> str:
    from lazyosm_spark.operators.packing import pack_sequences_sql

    return pack_sequences_sql(_golden("bpe_tokens_sf001"), 128)


@_register_fixture("bpe_tokenize_pack", _bpe_pack_sql())
def q_bpe_tokenize_pack(spark, sf_dir):
    """Raw text -> BPE token ids -> packed training sequences
    END-TO-END (round-4 verdict item 1's composition ask): the engine
    tokenizes with the real vocab and packs with the distributed prefix
    sum; the oracle packs the golden token counts with the one-window
    SQL formulation."""
    from lazyosm_spark.operators.packing import pack_sequences
    from lazyosm_spark.operators.tokenize import tokenize

    toks = tokenize(_t(spark, sf_dir, "documents")).select("doc_id", "n_tokens")
    return pack_sequences(toks, ctx_len=128)


def _span_dedup_sql() -> str:
    from lazyosm_spark.operators.spans import duplicate_spans_sql

    toks = (
        "(SELECT doc_id, list_transform(string_split(ids_csv, ','), "
        f"x -> CAST(x AS INT)) AS ids FROM {_golden('bpe_tokens_sf001')}) AS g"
    )
    return duplicate_spans_sql(toks, span_len=8)


@_register_fixture("token_span_dedup", _span_dedup_sql())
def q_token_span_dedup(spark, sf_dir):
    """Lee-et-al-style duplicate token-span detection composed on the
    real tokenizer: raw text -> BPE ids -> every duplicated 8-token
    span -> per-doc covered-token fraction.  The engine groups spans
    by a 64-bit JVM hash in one shuffle; the oracle groups the golden
    token lists exactly — identical absent a 2^-64 collision."""
    from lazyosm_spark.operators.spans import duplicate_spans
    from lazyosm_spark.operators.tokenize import tokenize

    toks = tokenize(_t(spark, sf_dir, "documents"))
    return duplicate_spans(toks, span_len=8)


_MINLONG = -9223372036854775807 - 1

# deterministic 64-bit perceptual-hash stand-in, identical both engines:
# md5-60-bit cluster base (clusters of 5) ^ one id-derived bit flip ^
# sign bit on even ids — exercises the FULL 64-bit path (negative longs)
_PHASH_BASE_SQL = md5_long_sql("'ph:' || CAST(doc_id // 5 AS VARCHAR)")
_PHASH_SQL = (
    f"xor(xor({_PHASH_BASE_SQL}, "
    "(CAST(1 AS BIGINT) << CAST(doc_id % 60 AS INT))), "
    "CASE WHEN doc_id % 2 = 0 THEN CAST(-9223372036854775807 - 1 AS BIGINT) "
    "ELSE CAST(0 AS BIGINT) END)"
)


def _phash_frame(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    base = md5_long(F.concat(F.lit("ph:"), F.expr("CAST(doc_id div 5 AS STRING)")))
    flip = F.expr("shiftleft(cast(1 as bigint), cast(doc_id % 60 as int))")
    sign = F.when(F.col("doc_id") % 2 == 0, F.lit(_MINLONG)).otherwise(
        F.lit(0).cast("long")
    )
    return d.select(
        F.col("doc_id").alias("image_id"),
        base.bitwiseXOR(flip).bitwiseXOR(sign).alias("phash"),
    )


@_register(
    "phash_near_pairs",
    f"""
WITH p AS (SELECT doc_id, {_PHASH_SQL} AS phash FROM documents)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM p a JOIN p b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= 6
""",
)
def q_phash_near_pairs(spark, sf_dir):
    """Image near-dup PAIRS over full 64-bit perceptual hashes (sign
    bit set on half the corpus): hash_near_pairs — the simhash banding
    /split/numpy-verify engine generalized to any long hash column
    (n_bits=64 partitions all 64 bits into the pigeonhole blocks) —
    vs the brute-force all-pairs oracle.  phash kNN's sibling: pairs
    for dedup (feed connected_components), rank-k for retrieval."""
    from lazyosm_spark.operators.dedup import hash_near_pairs

    return hash_near_pairs(
        _phash_frame(spark, sf_dir),
        id_col="image_id",
        hash_col="phash",
        max_hamming=6,
        n_bits=64,
    )


_PHASH_PAIRS_SQL = f"""
WITH p AS (SELECT doc_id, {_PHASH_SQL} AS phash FROM documents)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
FROM p a JOIN p b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= 6
"""


@_register(
    "image_dedup_components",
    f"""
WITH RECURSIVE
pairs AS (SELECT doc_id_a AS a, doc_id_b AS b FROM ({_PHASH_PAIRS_SQL})),
und AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT u.a, reach.r FROM reach JOIN und u ON u.b = reach.id
)
SELECT id AS image_id, CAST(min(r) AS BIGINT) AS component
FROM reach GROUP BY id
""",
)
def q_image_dedup_components(spark, sf_dir):
    """Whole-corpus IMAGE dedup end to end: 64-bit perceptual hashes ->
    hash_near_pairs (banded exact Hamming pairs) -> connected
    components -> one canonical group id per image — doc_dedup's
    phash sibling.  Oracle: recursive-CTE reachability closure over
    the brute-force pair set."""
    from lazyosm_spark.operators.dedup import hash_near_pairs
    from lazyosm_spark.operators.graph import connected_components

    imgs = _phash_frame(spark, sf_dir)
    edges = hash_near_pairs(
        imgs, id_col="image_id", hash_col="phash", max_hamming=6, n_bits=64
    ).select(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst"))
    out = connected_components(imgs.select("image_id"), edges, node_col="image_id")
    return out.select(
        F.col("id").cast("long").alias("image_id"),
        F.col("component").cast("long").alias("component"),
    )


def _decontaminate_sql() -> str:
    from lazyosm_spark.operators.spans import contamination_sql

    toks = (
        "(SELECT doc_id, list_transform(string_split(ids_csv, ','), "
        f"x -> CAST(x AS INT)) AS ids FROM {_golden('bpe_tokens_sf001')}) AS g"
    )
    ev = (
        "(SELECT doc_id, list_transform(string_split(ids_csv, ','), "
        f"x -> CAST(x AS INT)) AS ids FROM {_golden('bpe_tokens_sf001')} "
        "WHERE doc_id % 50 = 0) AS e"
    )
    return contamination_sql(toks, ev, span_len=8)


@_register_fixture("decontaminate", _decontaminate_sql())
def q_decontaminate(spark, sf_dir):
    """Eval-set decontamination (GPT-3-style n-gram overlap): every
    corpus doc sharing any 8-token BPE span with the eval slice
    (doc_id % 50 == 0) is flagged with union span coverage.  The eval
    span hashes BROADCAST, so the corpus span stream shuffles only on
    doc_id for the fold; oracle = exact list matching over the golden
    ids."""
    from lazyosm_spark.operators.spans import contamination
    from lazyosm_spark.operators.tokenize import tokenize

    toks = tokenize(_t(spark, sf_dir, "documents"))
    ev = toks.filter(F.col("doc_id") % 50 == 0)
    return contamination(toks, ev, span_len=8)


def _word_counts_sql() -> str:
    from lazyosm_spark.operators.repetition import words_sql

    return f"""
SELECT word, CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT unnest({words_sql('text')}) AS word FROM documents)
GROUP BY word
"""


@_register("word_counts", _word_counts_sql())
def q_word_counts(spark, sf_dir):
    """The corpus word-frequency table that feeds distributed BPE
    vocabulary training (tools/train_bpe.py --from-spark): one groupBy
    with map-side partials over the engine-wide words_col definition."""
    from lazyosm_spark.operators.tokenize import word_counts

    return word_counts(_t(spark, sf_dir, "documents"))


@_register_fixture("fx_stream_decontaminate", _decontaminate_sql())
def q_fx_stream_decontaminate(spark, sf_dir):
    """Eval-set decontamination in STRUCTURED STREAMING (two arrival
    waves through foreachBatch, epoch-overwrite idempotent sink): the
    flagged set and every per-doc stat must equal the batch operator —
    spans never cross documents, so streaming is exact, and the oracle
    is literally the batch query's SQL."""
    from lazyosm_spark.operators.tokenize import tokenize
    from lazyosm_spark.streaming.pipeline import stream_decontaminate

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ev = tokenize(docs.filter(F.col("doc_id") % 50 == 0))
    out = _run_stream(
        _halves(docs, "doc_id"),
        lambda i, s, o, c: stream_decontaminate(spark, i, s, ev, o, c, span_len=8),
    )
    return out.select("doc_id", "n_tokens", "n_hit_spans", "hit_tokens", "hit_frac")


def _repetition_sql() -> str:
    from lazyosm_spark.operators.repetition import repetition_stats_sql

    return repetition_stats_sql("documents")


@_register("repetition_stats", _repetition_sql())
def q_repetition_stats(spark, sf_dir):
    """Gopher/C4 repetition quality signals: duplicated-line fractions
    (row + char), modal-bigram dominance, and union-covered duplicated
    trigram word fraction — every leg a JVM explode + count-window on
    per-doc keys (skew-free by construction), formula-identical SQL
    twin."""
    from lazyosm_spark.operators.repetition import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


def _corpus_span_sql(
    min_quality: float = 0.25, lang: str = "en", max_span_dup: float = 0.5
) -> str:
    from lazyosm_spark.operators.spans import duplicate_spans_sql

    toks = (
        "(SELECT doc_id, list_transform(string_split(ids_csv, ','), "
        f"x -> CAST(x AS INT)) AS ids FROM {_golden('bpe_tokens_sf001')}) AS g"
    )
    return f"""
WITH q AS ({ORACLES['quality_score']}),
l AS ({ORACLES['langid']}),
reps AS ({ORACLES['exact_dedup']}),
sp AS ({duplicate_spans_sql(toks, span_len=8)})
SELECT d.doc_id, l.lang_pred, q.quality
FROM documents d
JOIN q ON q.doc_id = d.doc_id
JOIN l ON l.doc_id = d.doc_id
WHERE q.quality >= {min_quality!r}
  AND l.lang_pred = '{lang}'
  AND d.doc_id IN (SELECT doc_id FROM reps)
  AND d.doc_id IN (SELECT doc_id FROM sp WHERE dup_frac <= {max_span_dup!r})
"""


@_register_fixture("corpus_span_filter", _corpus_span_sql())
def q_corpus_span_filter(spark, sf_dir):
    """filter_corpus composed WITH the Lee-et-al span-dedup leg: docs
    whose duplicated 8-token-span coverage exceeds half their tokens
    drop alongside quality / langid / exact dedup — the
    substring-level removal whole-doc dedup misses.  The leg
    BPE-tokenizes ONCE into an eager checkpoint and feeds both the
    span stream and the sizes hint from it (r6: the hint taken off the
    live tokenize plan re-ran the BPE UDF for the sizes leg)."""
    from lazyosm_spark.operators.corpus import filter_corpus

    out = filter_corpus(
        _t(spark, sf_dir, "documents"),
        min_quality=0.25,
        langs=("en",),
        max_span_dup_frac=0.5,
        span_len=8,
    )
    return out.select("doc_id", "lang_pred", "quality")


def _sample_sql() -> str:
    from lazyosm_spark.operators.packing import stratified_sample_sql

    inner = stratified_sample_sql(
        "documents", 0.25, group_col="lang",
        group_rates={"en": 0.1, "de": 0.5}, seed=7,
    )
    return f"SELECT doc_id, lang FROM ({inner}) s"


@_register("stratified_sample", _sample_sql())
def q_stratified_sample(spark, sf_dir):
    """Deterministic hash-threshold Bernoulli sample with per-stratum
    rates — identical keep-set at any parallelism (the reproducible /
    resumable corpus sampler)."""
    from lazyosm_spark.operators.packing import stratified_sample

    d = _t(spark, sf_dir, "documents")
    return stratified_sample(
        d, 0.25, group_col="lang", group_rates={"en": 0.1, "de": 0.5}, seed=7
    ).select("doc_id", "lang")


@_register(
    "cube_counts",
    """
SELECT coalesce(l_returnflag, '<all>') AS rf,
       coalesce(l_linestatus, '<all>') AS ls,
       coalesce(CAST(l_suppkey AS VARCHAR), '<all>') AS sk,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem WHERE l_suppkey <= 3 GROUP BY CUBE(l_returnflag, l_linestatus, l_suppkey)
""",
)
def q_cube(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 3)
    return (
        li.cube("l_returnflag", "l_linestatus", "l_suppkey")
        .agg(F.count("*").cast("long").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("ls"),
            F.coalesce(F.col("l_suppkey").cast("string"), F.lit("<all>")).alias("sk"),
            "n",
        )
    )
