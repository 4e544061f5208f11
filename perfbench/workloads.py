"""The workloads.  Each is a closed loop: one client, one call at a
time, every call fresh and every output checked.

A workload writes its input files (``build``, no Spark: it runs while the
session starts), opens them as frames (``open``), then runs passes
(``run_pass``).
A pass is a list of operations; each operation is one timed call into
the engine whose output is checked outside the timed region.  ``calls``
gives the pass as independent calls, so the untimed cold pass can run
them side by side.
"""

from __future__ import annotations

import itertools
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

import inputs

PHI, PHI2 = 0.7548776662466927, 0.5698402909980532  # jobs/tile_images.py footprints


@dataclass
class Op:
    """One timed call: its wall, the items it processed, and the
    reasons its output check failed (empty when it passed)."""
    name: str
    wall_s: float
    items: int
    errors: list[str] = field(default_factory=list)
    residue_rdds: int = 0
    cache_empty: bool = True


class Context:
    """What a workload's calls share.  ``spark`` and ``tracer`` are set
    once the session is up; ``build`` needs neither."""

    def __init__(self, spark, tracer, work_dir: str, cpus: int):
        self.spark = spark
        self.tracer = tracer
        # the fresh-call guard after every call; off while calls run side
        # by side, where it would drop another call's cached data mid-call
        self.guard = True
        self.work_dir = work_dir
        self.cpus = cpus
        self._n = itertools.count(1)  # next() is atomic: the cold pass runs calls in threads

    def fresh_dir(self, tag: str) -> str:
        """A directory no earlier call has used (a reused lineage
        directory makes run_stage resume and skip every bucket)."""
        path = os.path.join(self.work_dir, f"{tag}-{next(self._n)}")
        os.makedirs(path)
        return path

    def write_parquet(self, pdf, path: str) -> None:
        """Inputs are parquet-backed, so clearing the cache between calls
        cannot break them, and split into files so every core gets a task."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(path)
        for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), self.cpus * 2)):
            pq.write_table(pa.Table.from_pandas(pdf.iloc[chunk], preserve_index=False),
                           os.path.join(path, f"part-{i:03d}.parquet"))


def release_caches(spark) -> tuple[int, bool]:
    """Fresh-call guard: report what the last call left cached, then drop
    it all, so no later call can be served from an earlier one's cache.
    -> (persistent RDDs left behind, CacheManager was empty)."""
    jsc = spark.sparkContext._jsc
    persistent = jsc.getPersistentRDDs()
    n = persistent.size()
    empty = bool(spark._jsparkSession.sharedState().cacheManager().isEmpty())
    spark.catalog.clearCache()
    for rdd in list(persistent.values()):
        rdd.unpersist(True)
    return n, empty


def timed_call(ctx: Context, name: str, fn) -> tuple[Op, object]:
    """Run ``fn`` (which must fully consume its result) under a span,
    then apply the fresh-call guard outside the timed region."""
    t0 = time.perf_counter()
    with ctx.tracer.span(name):
        out, items = fn()
    op = Op(name, time.perf_counter() - t0, items)
    if ctx.guard:
        op.residue_rdds, op.cache_empty = release_caches(ctx.spark)
    return op, out


def _collect(frame, items):
    """Consume a frame's whole result to the driver (Arrow)."""
    return frame.toArrow(), items


def _pip_members(points: np.ndarray, ids, tiles) -> set[tuple[str, int]]:
    """Scalar-oracle memberships: (point_id, tile_id) for every tile whose
    ring contains the point.  Rings lie inside their cells, so this is
    the engine's cell-candidate + PIP answer."""
    from tests.oracle.reference_oracle import pip

    rings = [(int(t), [tuple(p) for p in r[:-1]]) for t, r in zip(tiles["tile_id"], tiles["ring"])]
    return {(str(pid), tid) for pid, (lon, lat) in zip(ids, points)
            for tid, ring in rings if pip(ring, (lon, lat))}


def _check_members(got_rows, sample_ids, sample_xy, tiles) -> list[str]:
    want = _pip_members(sample_xy, sample_ids, tiles)
    keep = {str(i) for i in sample_ids}
    got = {(r[0], int(r[1])) for r in got_rows if r[0] in keep}
    if got != want:
        return [f"membership differs from the PIP oracle on {len(got ^ want)} of "
                f"{len(want)} sampled pairs"]
    return []


# ------------------------------------------------------------ tile_images ----


class TileImages:
    """jobs/tile_images.py: scan -> decode -> tile_points -> rollup, each
    stage through CheckpointedPipeline.run_stage into a fresh directory."""

    name = "tile_images"
    item_unit = "images"

    def __init__(self, n_images: int, n_buckets: int, sample: int = 200):
        self.n_images = n_images
        self.n_buckets = n_buckets
        self.sample = sample

    def build(self, ctx: Context, rng: np.random.Generator) -> None:
        import pandas as pd

        from lazyosm_spark.sources.images import gen_images_batches_fn

        first = int(rng.integers(0, 10**9))
        self.tiles_pdf = inputs.tile_pyramid(rng)
        d = ctx.fresh_dir("inputs")
        self.images_path = os.path.join(d, "images")
        self.tiles_path = os.path.join(d, "tiles")
        # the engine's own generator, run in this process: a Spark job
        # here would cost the run seconds of one-time start-up work
        gen = gen_images_batches_fn(1)
        images = next(gen(iter([pd.DataFrame({"id": np.arange(first, first + self.n_images)})])))
        ctx.write_parquet(images.astype({"w": "int32", "h": "int32"}), self.images_path)
        ctx.write_parquet(self.tiles_pdf, self.tiles_path)
        self.n_tiles = len(self.tiles_pdf)
        ids = np.sort(rng.choice(self.n_images, min(self.sample, self.n_images),
                                 replace=False)) + first
        self.sample_ids = [f"img_{i:012d}" for i in ids]
        i = ids.astype(np.float64)
        self.sample_xy = np.column_stack([
            -180.0 + 360.0 * (i * PHI - np.floor(i * PHI)),
            -85.0 + 170.0 * (i * PHI2 - np.floor(i * PHI2)),
        ])

    def open(self, ctx: Context) -> None:
        self.tiles = ctx.spark.read.parquet(self.tiles_path)

    def _stage(self, ctx, pipe, stage, df, key, layer_span, materialize):
        """One run_stage; traced passes first materialize the layer's
        own output so the lineage span holds only lineage work."""
        with ctx.tracer.span(f"lineage.{stage}"):
            if materialize:
                with ctx.tracer.span(layer_span):
                    path = os.path.join(pipe.root, f"_layer_{stage}")
                    df.write.parquet(path)
                df = ctx.spark.read.parquet(path)
            return pipe.run_stage(stage, df, key_col=key)

    def run_pass(self, ctx: Context) -> list[Op]:
        from pyspark.sql import functions as F

        from lazyosm_spark.operators.spatial_join import tile_points
        from lazyosm_spark.plans.lineage import CheckpointedPipeline
        from lazyosm_spark.sources.images import DECODE_SCHEMA, decode_images_batches

        spark, traced = ctx.spark, ctx.tracer.enabled
        out_dir = ctx.fresh_dir("tile_images")

        def chain():
            pipe = CheckpointedPipeline(spark, out_dir, n_buckets=self.n_buckets)
            decoded = spark.read.parquet(self.images_path).mapInPandas(
                decode_images_batches, DECODE_SCHEMA)
            feats = self._stage(ctx, pipe, "decode_features", decoded, "image_id",
                                "images.decode", traced)
            i = F.regexp_extract("image_id", r"(\d+)", 1).cast("long").cast("double")
            pts = feats.select(
                F.col("image_id").alias("point_id"),
                (F.lit(-180.0) + 360.0 * (i * PHI - F.floor(i * PHI))).alias("lon"),
                (F.lit(-85.0) + 170.0 * (i * PHI2 - F.floor(i * PHI2))).alias("lat"),
            )
            membership = tile_points(pts, self.tiles, n_tiles=self.n_tiles)
            mem = self._stage(ctx, pipe, "tile_membership", membership, "point_id",
                              "spatial_join.tile_points", traced)
            rollup = (
                mem.join(feats.withColumnRenamed("image_id", "point_id"), "point_id")
                .groupBy("tile_id", "resolution")
                .agg(F.count("*").alias("n_images"),
                     F.approx_count_distinct("phash").alias("n_distinct_phash"),
                     F.avg("mean_lum").alias("avg_lum"),
                     F.sum(F.when(~F.col("phash_ok"), 1).otherwise(0)).alias("n_phash_bad"))
            )
            with ctx.tracer.span("lineage.tile_rollup"):
                pipe.run_stage("tile_rollup", rollup, key_col="tile_id")
            return (feats, mem), self.n_images

        op, (feats, mem) = timed_call(ctx, self.name, chain)
        n_feats, n_bad = feats.agg(
            F.count("*"), F.sum(F.when(~F.col("phash_ok"), 1).otherwise(0))).first()
        if n_feats != self.n_images:
            op.errors.append(f"{n_feats} decoded rows for {self.n_images} images")
        if n_bad:
            op.errors.append(f"{n_bad} phash_ok failures")
        rows = mem.filter(F.col("point_id").isin(self.sample_ids)).select(
            "point_id", "tile_id").collect()
        op.errors += _check_members(rows, self.sample_ids, self.sample_xy, self.tiles_pdf)
        shutil.rmtree(out_dir)
        return [op]


# --------------------------------------------------------------- osm_make ----


class OsmMake:
    """jobs/osm_make.py --format geobuf: read_pbf -> decode_* ->
    all_features -> geobuf_sink, written to parquet."""

    name = "osm_make"
    item_unit = "entities"

    def __init__(self, n_nodes: int, n_ways: int, n_rels: int, node_shards: int):
        self.sizes = (n_nodes, n_ways, n_rels)
        self.node_shards = node_shards

    def build(self, ctx: Context, rng: np.random.Generator) -> None:
        world = inputs.osm_world(rng, *self.sizes)
        d = ctx.fresh_dir("inputs")
        inputs.write_pbf_world(world, d, self.node_shards)
        self.glob = os.path.join(d, "*.osm.pbf")
        self.n_entities = world["n_entities"]
        self.n_features = world["n_features"]

    def open(self, ctx: Context) -> None:
        pass  # read_pbf opens the shards inside the timed call

    def run_pass(self, ctx: Context) -> list[Op]:
        from pyspark.sql import functions as F

        from lazyosm_spark.operators.osm import (
            decode_nodes, decode_relations, decode_ways, node_features,
            relation_features, way_features,
        )
        from lazyosm_spark.sources.geobuf import decode_feature_collection, geobuf_sink
        from lazyosm_spark.sources.pbf import read_pbf

        spark, tr = ctx.spark, ctx.tracer
        out_dir = ctx.fresh_dir("osm_make")
        sink_path = os.path.join(out_dir, "geobuf")

        def cut(frames: dict) -> dict:
            """Traced passes only: materialize each frame to parquet so
            the next span holds only its own layer's work."""
            if not tr.enabled:
                return frames
            out = {}
            for k, df in frames.items():
                p = os.path.join(out_dir, "_layer", k)
                df.write.parquet(p)
                out[k] = spark.read.parquet(p)
            return out

        def convert():
            with tr.span("pbf.read_pbf"):
                enc = cut({k: v for k, v in read_pbf(spark, self.glob).items() if k != "header"})
            with tr.span("osm.decode"):
                dec = cut({"nodes": decode_nodes(enc["nodes_encoded"]),
                           "ways": decode_ways(enc["ways_encoded"]),
                           "rels": decode_relations(enc["relations_encoded"])})
            with tr.span("osm.relation_features"):
                rel = cut({"rel_f": relation_features(dec["rels"], dec["ways"], dec["nodes"]).select(
                    "osm_id", "geom_type", "coords", "properties")})["rel_f"]
            with tr.span("osm.way_features"):
                way = cut({"way_f": way_features(dec["ways"], dec["nodes"])})["way_f"]
            with tr.span("osm.node_features"):
                node = cut({"node_f": node_features(dec["nodes"])})["node_f"]
            with tr.span("geobuf.sink"):
                # all_features' union, spelled out so traced passes can cut it
                geobuf_sink(rel.unionByName(way).unionByName(node)).write.parquet(sink_path)
            return None, self.n_entities

        def decode_counts(batches):  # nested: workers cannot import this module
            import pandas as pd

            for pdf in batches:
                yield pd.DataFrame({
                    "n_features": [int(pdf["n_features"].sum())],
                    "n_decoded": [sum(len(decode_feature_collection(bytes(b)))
                                      for b in pdf["geobuf"])],
                })

        op, _ = timed_call(ctx, self.name, convert)
        n_sink, n_decoded = spark.read.parquet(sink_path).mapInPandas(
            decode_counts, "n_features long, n_decoded long"
        ).agg(F.sum("n_features"), F.sum("n_decoded")).first()
        if not n_sink == n_decoded == self.n_features:
            op.errors.append(f"geobuf holds {n_sink} features, decodes to {n_decoded}, "
                             f"expected {self.n_features}")
        shutil.rmtree(out_dir)
        return [op]


# ------------------------------------------------------------------- jobs ----


class Jobs:
    """The engine's two batch jobs in one pass: the osm_make conversion,
    then the tile_images chain.  One operation per job."""

    name = "jobs"
    item_unit = "entities + images"
    warmup_passes = 1  # the cold pass
    # the first pass after it runs ~10% slow; a third timed pass would
    # cost a fifth of the run, so the median is of two
    timed_passes = 2

    def __init__(self, osm: OsmMake, images: TileImages):
        self.parts = [osm, images]

    def build(self, ctx: Context, rng: np.random.Generator) -> None:
        for part in self.parts:
            part.build(ctx, rng)

    def open(self, ctx: Context) -> None:
        for part in self.parts:
            part.open(ctx)

    def calls(self, ctx: Context) -> list:
        return [lambda part=part: part.run_pass(ctx) for part in self.parts]

    def run_pass(self, ctx: Context) -> list[Op]:
        return [op for call in self.calls(ctx) for op in call()]


# -------------------------------------------------------------- query_mix ----


class QueryMix:
    """Fresh calls to the hot operators on prepared, parquet-backed
    inputs: broadcast tile_points, salted tile_points_shuffle on a
    skewed cloud, grid_knn and minhash_lsh_pairs.  Nothing is written."""

    name = "query_mix"
    item_unit = "input rows"
    warmup_passes = 1  # the cold pass
    timed_passes = 2

    def __init__(self, n_points: int, n_skew: int, n_queries: int, n_docs: int,
                 k: int = 5, sample: int = 100, oracle_docs: int = 300):
        self.n_points, self.n_skew, self.n_queries, self.n_docs = n_points, n_skew, n_queries, n_docs
        self.k = k
        self.sample = sample
        self.oracle_docs = oracle_docs

    def build(self, ctx: Context, rng: np.random.Generator) -> None:
        d = ctx.fresh_dir("inputs")
        self.tiles_pdf = inputs.tile_pyramid(rng)
        pts = inputs.point_cloud(rng, self.n_points)
        skew = inputs.skewed_cloud(rng, self.n_skew, self.tiles_pdf)
        panel = inputs.knn_panel(rng, self.n_queries)
        docs, family = inputs.documents(rng, self.n_docs)
        frames = {"tiles": self.tiles_pdf, "points": pts, "skew": skew,
                  "panel": panel, "docs": docs}
        self.paths = {name: os.path.join(d, name) for name in frames}
        for name, pdf in frames.items():
            ctx.write_parquet(pdf, self.paths[name])

        # samples for the point-in-polygon and brute-force kNN oracles
        s = rng.choice(self.n_points, self.sample, replace=False)
        self.pts_sample = (pts["point_id"].to_numpy()[s], pts[["lon", "lat"]].to_numpy()[s])
        s = rng.choice(self.n_skew, self.sample, replace=False)
        self.skew_sample = (skew["point_id"].to_numpy()[s], skew[["lon", "lat"]].to_numpy()[s])
        self.pts_xy = pts[["lon", "lat"]].to_numpy()
        self.pts_ids = pts["point_id"].to_numpy()
        s = rng.choice(self.n_queries, self.sample, replace=False)
        self.q_sample = (panel["query_id"].to_numpy()[s], panel[["lon", "lat"]].to_numpy()[s])
        # LSH pairs are a pairwise property (shared band key, then exact
        # Jaccard), so the twin over a subset of documents must equal the
        # engine's pairs restricted to that subset.  Whole families keep
        # the planted pairs inside the subset.
        fams = rng.permutation(np.unique(family))
        sizes = np.bincount(family)[fams]
        take = fams[: int(np.searchsorted(np.cumsum(sizes), self.oracle_docs)) + 1]
        self.oracle_pdf = docs[np.isin(family, take)]

    def open(self, ctx: Context) -> None:
        self.df = {name: ctx.spark.read.parquet(path) for name, path in self.paths.items()}

    def prepare_checks(self) -> None:
        """The DuckDB twin of minhash_lsh_pairs and a brute-force numpy kNN
        of the sampled queries, made once (not timed: not engine work)."""
        import duckdb

        from lazyosm_spark.plans.driver_queries import _minhash_lsh_sql

        con = duckdb.connect()
        con.register("documents", self.oracle_pdf)
        self.want_pairs = {(int(a), int(b), float(j)) for a, b, j in
                           con.sql(_minhash_lsh_sql()).fetchall()}
        con.close()
        self.oracle_ids = set(self.oracle_pdf["doc_id"].tolist())
        self.knn_want = {}
        for qid, (qx, qy) in zip(*self.q_sample):
            d2 = (self.pts_xy[:, 0] - qx) ** 2 + (self.pts_xy[:, 1] - qy) ** 2
            order = np.lexsort((self.pts_ids, d2))[: self.k]
            self.knn_want[qid] = (np.sqrt(d2[order]), list(self.pts_ids[order]),
                                  len(np.unique(d2[order])) == self.k)

    def calls(self, ctx: Context) -> list:
        return [lambda f=f: [f(ctx)] for f in (
            self._tile_points, self._tile_points_shuffle, self._grid_knn, self._minhash)]

    def run_pass(self, ctx: Context) -> list[Op]:
        return [op for call in self.calls(ctx) for op in call()]

    def _tile_points(self, ctx: Context) -> Op:
        from lazyosm_spark.operators.spatial_join import tile_points

        df = self.df
        op, t = timed_call(ctx, "spatial_join.tile_points", lambda: _collect(
            tile_points(df["points"], df["tiles"], salt=4, n_tiles=len(self.tiles_pdf)),
            self.n_points))
        op.errors += self._check_tiles(t, self.pts_sample)
        return op

    def _tile_points_shuffle(self, ctx: Context) -> Op:
        from lazyosm_spark.operators.spatial_join import tile_points_shuffle

        # AQE coalescing off for the skew call only, as bench.py's skew
        # section does: at this size AQE merges the refine shuffle into a
        # few tasks and the hot tile hides inside one of them
        ctx.spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        try:
            op, t = timed_call(ctx, "spatial_join.tile_points_shuffle", lambda: _collect(
                tile_points_shuffle(self.df["skew"], self.df["tiles"], salt=16), self.n_skew))
        finally:
            ctx.spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        op.errors += self._check_tiles(t, self.skew_sample)
        return op

    def _grid_knn(self, ctx: Context) -> Op:
        from lazyosm_spark.operators.knn import grid_knn

        op, t = timed_call(ctx, "knn.grid_knn", lambda: _collect(
            grid_knn(self.df["panel"], self.df["points"], k=self.k, n_points=self.n_points,
                     n_queries=self.n_queries), self.n_queries))
        op.errors += self._check_knn(t)
        return op

    def _minhash(self, ctx: Context) -> Op:
        from pyspark.sql import functions as F

        from lazyosm_spark.operators.dedup import minhash_lsh_pairs

        op, t = timed_call(ctx, "dedup.minhash_lsh_pairs", lambda: _collect(
            minhash_lsh_pairs(self.df["docs"], jaccard_threshold=0.12).select(
                "doc_id_a", "doc_id_b", F.round("jaccard", 9).alias("jaccard")), self.n_docs))
        got = set(zip(*(t.column(c).to_pylist() for c in ("doc_id_a", "doc_id_b", "jaccard"))))
        sub = {p for p in got if p[0] in self.oracle_ids and p[1] in self.oracle_ids}
        if sub != self.want_pairs or len(got) != t.num_rows:
            op.errors.append(f"{len(sub ^ self.want_pairs)} pairs differ from the DuckDB twin "
                             f"({t.num_rows} rows, {len(self.want_pairs)} expected in the subset)")
        return op

    def _check_tiles(self, table, sample) -> list[str]:
        ids, xy = sample
        rows = zip(table.column("point_id").to_pylist(), table.column("tile_id").to_pylist())
        return _check_members(rows, ids, xy, self.tiles_pdf)

    def _check_knn(self, table) -> list[str]:
        """Brute-force kNN on the sampled queries: the k distances must
        match, and the neighbours too wherever distances are not tied."""
        pdf = table.to_pandas()
        pdf = pdf[pdf["query_id"].isin(list(self.knn_want))]
        got = {q: g.sort_values("rank") for q, g in pdf.groupby("query_id")}
        bad = 0
        for qid, (dist, ids, untied) in self.knn_want.items():
            g = got.get(qid)
            if g is None or len(g) != self.k:
                bad += 1
            elif not np.allclose(g["dist"].to_numpy(), dist, rtol=1e-9, atol=1e-12):
                bad += 1
            elif untied and list(g["neighbor_id"]) != ids:
                bad += 1
        return [f"{bad} of {len(self.knn_want)} sampled queries differ from brute force"] if bad else []
