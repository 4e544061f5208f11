"""Similarity search over embedding columns (array<float>).

- cosine_topk : brute-force exact top-k (baseline + oracle shape).
  Dot products stay JVM-side via zip_with + aggregate; the query side
  broadcasts.  Exact, O(|queries| x |items|) — for verification and
  small query fan-in.
- lsh_ann_topk: the scale path — random-hyperplane LSH buckets
  (deterministic, seeded via md5 of (plane, dim)), equi-join on bucket
  across probe permutations, exact re-rank inside buckets.  Recall<1 by
  construction; measured against cosine_topk in tests.
- embedding_near_dup_pairs: near-duplicate pairs by cosine >= threshold
  via LSH buckets (the embedding leg of the dedup suite).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """-> (query_id, neighbor_id, rank, cos) exact top-k by cosine.
    Ties break by neighbor id asc.

    Per-side norms are computed ONCE before the pair join (r6: the
    per-pair form re-ran both _norm aggregates for every one of the
    |q| x |items| pairs — same doubles, 3x the HOF work), and the items
    side is round-robin repartitioned to core count first: this
    operator is the O(|q| x |items|) exact baseline, so the one cheap
    exchange is dwarfed by the pair compute it parallelizes (single-
    row-group parquet otherwise pins the whole cross join to 1-2 tasks
    — guide §2.5 input skew; measured 2 tasks / 2.1 s at sf1)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    ).withColumn("qn", _norm(F.col("qv")))
    it = items.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("nv"),
    ).withColumn("nn", _norm(F.col("nv")))
    it = it.repartition(items.sparkSession.sparkContext.defaultParallelism)
    cand = it.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    # identical doubles to the per-pair form: same aggregate expression
    # over the same array, evaluated once per row instead of per pair
    cos = _dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _plane_weight(plane: int, dim: int) -> int:
    """Deterministic ±1 from the parity of a portable hash — no RNG, so
    executors and tests agree without broadcasting plane matrices."""
    import hashlib

    h = hashlib.md5(f"plane{plane}:dim{dim}".encode()).digest()
    return 1 if h[0] % 2 == 0 else -1


def lsh_bucket(vec_col, n_planes: int, dim: int, band: int, band_width: int):
    """Bucket key for one band of sign bits: bits [band*w, (band+1)*w)."""
    bits = []
    for p in range(band * band_width, (band + 1) * band_width):
        weights = F.array(
            *[F.lit(float(_plane_weight(p, d))) for d in range(dim)]
        )
        s = F.aggregate(
            F.zip_with(F.col(vec_col), weights, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(s >= 0, F.lit(1)).otherwise(F.lit(0)))
    key = F.lit(0)
    for b in bits:
        key = key * 2 + b
    return key


def dot_sql(va: str, vb: str, dim: int) -> str:
    """DuckDB twin of _dot(): the SAME left-to-right sequential sum
    F.aggregate performs (0.0 + p1 + p2 + ...), so the doubles are
    bit-identical and rank orderings agree exactly."""
    terms = " + ".join(f"({va}[{d + 1}] * {vb}[{d + 1}])" for d in range(dim))
    return f"(0.0 + {terms})"


def norm_sql(v: str, dim: int) -> str:
    terms = " + ".join(f"({v}[{d + 1}] * {v}[{d + 1}])" for d in range(dim))
    return f"sqrt(0.0 + {terms})"


def lsh_bucket_sql(vec_expr: str, dim: int, band: int, band_width: int) -> str:
    """DuckDB twin of lsh_bucket(): identical plane weights (md5 parity)
    embedded as +-1.0 literals, identical sequential dot, identical
    key packing — the oracle computes the same buckets bit-for-bit."""
    key = "0"
    for p in range(band * band_width, (band + 1) * band_width):
        terms = " + ".join(
            f"({vec_expr}[{d + 1}] * {float(_plane_weight(p, d))!r})"
            for d in range(dim)
        )
        s = f"(0.0 + {terms})"
        key = f"(({key}) * 2 + (CASE WHEN {s} >= 0 THEN 1 ELSE 0 END))"
    return key


def lsh_ann_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 12,
    bands: int = 3,
) -> DataFrame:
    """Approximate top-k: candidates = pairs sharing any sign-bit band
    bucket; exact cosine re-rank within candidates.  Multi-band probing
    trades shuffle volume for recall."""
    bw = n_planes // bands

    def bucketed(df: DataFrame, role: str) -> DataFrame:
        buckets = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    lsh_bucket(vec_col, n_planes, dim, b, bw).alias("key"),
                )
                for b in range(bands)
            ]
        )
        return df.select(
            F.col(id_col).alias(f"{role}_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(f"{role}_v"),
            F.explode(buckets).alias("bk"),
        ).select(
            f"{role}_id", f"{role}_v", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
        )

    qb = bucketed(queries, "query")
    ib = bucketed(items, "neighbor")
    cand = (
        qb.join(ib, ["band", "key"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "query_v", "neighbor_v")
        .distinct()
    )
    cos = _dot(F.col("query_v"), F.col("neighbor_v")) / (
        _norm(F.col("query_v")) * _norm(F.col("neighbor_v"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def embedding_near_dup_pairs(
    items: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 12,
    bands: int = 3,
) -> DataFrame:
    """Near-dup pairs (cos >= threshold) via LSH self-join, exact verify."""
    bw = n_planes // bands
    buckets = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                lsh_bucket(vec_col, n_planes, dim, b, bw).alias("key"),
            )
            for b in range(bands)
        ]
    )
    bd = items.select(
        F.col(id_col).alias("doc_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        F.explode(buckets).alias("bk"),
    ).select("doc_id", "v", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a, b = bd.alias("a"), bd.alias("b")
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.v").alias("va"),
            F.col("b.v").alias("vb"),
        )
        .distinct()
    )
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return (
        cand.select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def cosine_near_dup_exact(
    items: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 20_000,
) -> DataFrame:
    """EXACT all-pairs cosine near-dup (id_a < id_b, cos >= threshold) —
    the small-scale oracle for the LSH/IVF paths.  Guarded against
    accidental planet-scale cross joins."""
    n = items.count()
    if n > max_rows:
        raise ValueError(f"exact near-dup is the small-scale oracle (n={n})")
    v = items.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    a = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


# ---------------------------------------------------------------- IVF ----


def _make_assign_udf(spark_context, cmat):
    b_c = spark_context.broadcast(cmat)

    @F.pandas_udf("int")
    def assign(vec: pd.Series) -> pd.Series:
        c = b_c.value
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vec])
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        return pd.Series(np.argmax(m @ c.T, axis=1).astype(np.int32))

    return assign


def ivf_index(
    items: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 0,
):
    """Build an IVF index: centroids = deterministic seeded sample of
    the vectors themselves (ids hashed; no RNG so executors and re-runs
    agree), assignment = argmax cosine in one vectorized pandas batch
    matmul, plus optional ``lloyd_iters`` rounds of spherical k-means
    refinement (per-cluster elementwise mean -> renormalize -> reassign;
    the cosine objective is monotone non-decreasing, pytest-pinned).
    Each round is one groupBy over exploded vector positions — the
    centroid table stays tiny (n_centroids x dim collected rows), the
    vectors never leave the cluster.

    Returns (assigned DataFrame with 'centroid' column, centroids
    ndarray broadcastable to queries)."""
    import numpy as np

    cents = (
        items.select(id_col, vec_col)
        .orderBy(F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(9973)))
        .limit(n_centroids)
        .collect()
    )
    cmat = np.asarray([list(r[vec_col]) for r in cents], dtype=np.float64)
    cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
    sc = items.sparkSession.sparkContext

    v_dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    for _ in range(lloyd_iters):
        assign = _make_assign_udf(sc, cmat)
        means = (
            items.withColumn("centroid", assign(F.col(vec_col)))
            .select("centroid", F.posexplode(v_dbl).alias("pos", "x"))
            .groupBy("centroid", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new = cmat.copy()  # empty clusters keep their previous centroid
        touched = sorted({r["centroid"] for r in means})
        for r in means:
            new[r["centroid"], r["pos"]] = r["m"]
        for c in touched:
            n = np.linalg.norm(new[c])
            if n > 0:
                new[c] = new[c] / n
        cmat = new

    assigned = items.withColumn(
        "centroid", _make_assign_udf(sc, cmat)(F.col(vec_col))
    )
    return assigned, cmat


def ivf_ann_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF approximate top-k: items partition by nearest centroid;
    each query probes its nprobe nearest centroids' partitions only —
    an equi-join on centroid id (partition pruning at scale), exact
    cosine re-rank inside.  Recall measured vs cosine_topk in tests;
    ``lloyd_iters`` refines centroids (spherical k-means) first."""
    import numpy as np

    assigned, cmat = ivf_index(items, n_centroids, id_col, vec_col, lloyd_iters)
    sc = items.sparkSession.sparkContext
    b_c = sc.broadcast(cmat)

    @F.pandas_udf("array<int>")
    def probes(vec: pd.Series) -> pd.Series:
        c = b_c.value
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vec])
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        top = np.argsort(-(m @ c.T), axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(top))

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
        F.explode(probes(F.col(vec_col))).alias("centroid"),
    )
    it = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("nv"),
        "centroid",
    )
    cand = q.join(it, "centroid").filter(F.col("neighbor_id") != F.col("query_id"))
    cos = _dot(F.col("qv"), F.col("nv")) / (_norm(F.col("qv")) * _norm(F.col("nv")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.select("query_id", "neighbor_id", cos.alias("cos"))
        .distinct()
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
