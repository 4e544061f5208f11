"""Cache-lifetime discipline (round-3 verdict item 5): an iterative
operator whose result has been materialized must leave NO superseded
persisted frame behind — at most ONE persistent RDD may remain per
call: the checkpoint backing the returned result.  Anything more is a
per-call leak that grows without bound in a long-lived session (the
100 TB deployment shape: one driver serving many queries).

The probe is SparkContext.getPersistentRDDs — localCheckpoint blocks
register there and are NOT freed by GC on a long-lived driver, so a
leak is directly observable as a rising count.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from lazyosm_spark.cache import n_persistent_rdds

_JOB_GROUPS = itertools.count()

SF = "/root/testdata/sf0.001"
TILE_POINTS_SHUFFLE_JOBS = 4
GRID_KNN_HINTED_JOBS = 9
RUN_STAGE_JOBS = (5, 6, 2)  # fresh, half-resumed, no-op
READ_PBF_JOBS = 1


def _delta(spark, fn) -> int:
    base = n_persistent_rdds(spark)
    out = fn()
    out.collect()
    return n_persistent_rdds(spark) - base


def _cache_manager_empty(spark) -> bool:
    """No cached plan CacheManager could substitute into a later,
    structurally identical call."""
    return bool(spark._jsparkSession.sharedState().cacheManager().isEmpty())


def test_grid_knn_no_superseded_cache(spark):
    from lazyosm_spark.operators.knn import grid_knn

    pts = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .selectExpr(
            "doc_id as point_id",
            "cast(pmod(xxhash64(doc_id), 360) - 180 as double) as lon",
            "cast(pmod(xxhash64(doc_id, lang), 170) - 85 as double) as lat",
        )
    )
    q = pts.limit(25).selectExpr("point_id as query_id", "lon", "lat")
    # force >1 level: a coarse-enough res makes some query escalate? not
    # needed — the guarantee must hold whatever the ladder does
    assert _delta(spark, lambda: grid_knn(q, pts, k=5)) <= 1


def test_phash_knn_no_superseded_cache(spark, fx):
    from lazyosm_spark.operators.knn import phash_hamming_knn

    images = fx["images"]
    queries = images.filter(F.col("image_id") <= "img_000000000009")
    assert _delta(spark, lambda: phash_hamming_knn(images, queries, k=5)) <= 1


@pytest.mark.parametrize("algorithm", ["hash_to_min", "star"])
def test_connected_components_no_superseded_cache(spark, algorithm):
    from lazyosm_spark.operators.graph import connected_components

    # 64 path-connected clusters of 8 (diameter 7) force several
    # rounds — the leak shape — without tripping hash_to_min's
    # O(diameter) round bound
    n = 512
    nodes = spark.range(n).selectExpr("id")
    edges = spark.range(n - 1).selectExpr("id as src", "id + 1 as dst").filter(
        "src % 8 != 7"
    )
    assert (
        _delta(
            spark,
            lambda: connected_components(nodes, edges, algorithm=algorithm),
        )
        <= 1
    )


def test_simhash_default_path_no_superseded_cache(spark):
    from lazyosm_spark.operators.dedup import simhash_near_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # default call = auto threshold = split path with level checkpoints
    assert _delta(spark, lambda: simhash_near_pairs(docs)) <= 1


@pytest.mark.parametrize("op", ["minhash_lsh_pairs", "ngram_jaccard_pairs"])
def test_shingle_pair_operators_leave_no_cache(spark, op):
    """Each call leaves nothing in CacheManager (a later identical call
    must not be served from it) and at most the ONE result-backing
    shingle checkpoint its docstring declares; a repeat call holds to
    the same bound."""
    from lazyosm_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    spark.catalog.clearCache()
    for _ in range(2):
        assert _delta(spark, lambda: getattr(dedup, op)(docs)) <= 1
        assert _cache_manager_empty(spark)


def _jobs_in_call(spark, fn) -> int:
    """Jobs that ``fn`` runs, counted through a job group of its own."""
    sc = spark.sparkContext
    key, group = "spark.jobGroup.id", f"jobs-budget-{next(_JOB_GROUPS)}"
    prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, group)
    try:
        fn()
    finally:
        sc.setLocalProperty(key, prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store lags the jobs
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_tile_points_shuffle_jobs_budget_and_no_residue(spark, fx):
    """One tile_points_shuffle call, frame build plus collect, runs
    TILE_POINTS_SHUFFLE_JOBS jobs: the resolution probe's two (its
    distinct's shuffle stage, then its collect), the tile broadcast,
    and the result — the map-side PIP filter adds no refine shuffle
    job.  It leaves CacheManager empty and adds no persistent RDD."""
    from lazyosm_spark.operators.spatial_join import tile_points_shuffle

    pts = spark.createDataFrame(
        [(f"p{i}", -180.0 + 360.0 * ((i * 0.7548776662466927) % 1.0),
          -85.0 + 170.0 * ((i * 0.5698402909980532) % 1.0)) for i in range(300)],
        "point_id string, lon double, lat double",
    )
    spark.catalog.clearCache()
    base = n_persistent_rdds(spark)
    n_jobs = _jobs_in_call(
        spark, lambda: tile_points_shuffle(pts, fx["tiles"], salt=8).collect()
    )
    assert n_jobs == TILE_POINTS_SHUFFLE_JOBS
    assert _cache_manager_empty(spark)
    assert n_persistent_rdds(spark) == base


def _r2_points(n: int) -> list[tuple[str, float, float]]:
    """R2 low-discrepancy points over the lon/lat plane."""
    return [
        (f"p{i}", -180.0 + 360.0 * ((i * 0.7548776662466927) % 1.0),
         -85.0 + 170.0 * ((i * 0.5698402909980532) % 1.0))
        for i in range(n)
    ]


def test_grid_knn_hinted_jobs_budget_and_no_residue(spark):
    """A grid_knn call given both size hints, frame build plus collect,
    runs GRID_KNN_HINTED_JOBS jobs; it leaves CacheManager empty and at
    most the one persistent RDD backing its result."""
    from lazyosm_spark.operators.knn import grid_knn

    pts = spark.createDataFrame(_r2_points(2000), "point_id string, lon double, lat double")
    q = pts.limit(50).selectExpr("point_id as query_id", "lon", "lat")
    spark.catalog.clearCache()
    base = n_persistent_rdds(spark)
    n_jobs = _jobs_in_call(
        spark, lambda: grid_knn(q, pts, k=5, n_points=2000, n_queries=50).collect()
    )
    assert n_jobs == GRID_KNN_HINTED_JOBS
    assert _cache_manager_empty(spark)
    assert n_persistent_rdds(spark) - base <= 1


def test_read_pbf_parses_once_jobs_budget_and_no_residue(spark):
    """One read_pbf call runs READ_PBF_JOBS jobs: the parse, which
    materializes the block frame into the call's one result-backing
    checkpoint.  all_features over its four-way use of the frames runs
    neither the binaryFile scan nor the parse again, and the call
    leaves CacheManager empty."""
    import os

    from lazyosm_spark.operators.osm import (
        all_features, decode_nodes, decode_relations, decode_ways,
    )
    from lazyosm_spark.sources.fixtures import OSM_SHARD, fixtures_dir
    from lazyosm_spark.sources.pbf import read_pbf

    path = os.path.join(fixtures_dir("tiny"), OSM_SHARD)
    spark.catalog.clearCache()
    base = n_persistent_rdds(spark)
    enc = {}
    assert _jobs_in_call(spark, lambda: enc.update(read_pbf(spark, path))) == READ_PBF_JOBS
    feats = all_features(
        decode_nodes(enc["nodes_encoded"]),
        decode_ways(enc["ways_encoded"]),
        decode_relations(enc["relations_encoded"]),
    )
    feats.collect()
    plan = feats._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    assert "binaryfile" not in plan.lower()
    assert n_persistent_rdds(spark) - base <= 1
    assert _cache_manager_empty(spark)


def test_run_stage_jobs_budget(spark, tmp_path):
    """CheckpointedPipeline.run_stage on a 20k-row, 64-bucket stage runs
    RUN_STAGE_JOBS jobs fresh (half the buckets), resuming the other
    half, and as a no-op re-run: the lineage aggregation and the data
    write, plus a listing job on each read-back of the 64-bucket stage
    (Spark lists more than 32 partition dirs in parallel).  The lineage
    commit and the read-back's schema run none.  The snapshot log
    records each commit's whole-stage bucket and row totals."""
    import json

    from lazyosm_spark.plans.lineage import CheckpointedPipeline

    pipe = CheckpointedPipeline(spark, str(tmp_path), n_buckets=64)
    df = spark.range(20_000).select(F.col("id").alias("k"), (F.col("id") * 7 % 97).alias("v"))
    half = df.filter(F.pmod(F.xxhash64("k"), F.lit(64)).cast("int") < 32)
    n_half = half.count()
    jobs = tuple(
        _jobs_in_call(spark, lambda d=d: pipe.run_stage("s", d, key_col="k"))
        for d in (half, df, df)
    )
    assert jobs == RUN_STAGE_JOBS
    with open(tmp_path / "_snapshots.jsonl") as f:
        recs = [json.loads(line) for line in f]
    assert [(r["commit_seq"], r["n_buckets"], r["rows"]) for r in recs] == [
        (0, 32, n_half),
        (1, 64, 20_000),
    ]
    assert pipe.verify_stage("s")
