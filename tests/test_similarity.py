"""ANN paths (LSH, IVF) measured against the exact oracles; dedup suite
cross-checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_ivf_recall_vs_exact(spark):
    from lazyosm_spark.operators.similarity import cosine_topk, ivf_ann_topk

    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 25)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_ann_topk(emb, q, k=5, n_centroids=16, nprobe=6).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall  # nprobe=6/16 partitions scanned


def test_ivf_nprobe_all_is_exact(spark):
    from lazyosm_spark.operators.similarity import cosine_topk, ivf_ann_topk

    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk(emb, q, k=5).collect()
    }
    full = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_ann_topk(emb, q, k=5, n_centroids=8, nprobe=8).collect()
    }
    assert full == exact  # probing every partition == brute force


def test_ivf_lloyd_objective_monotone(spark):
    """Spherical k-means refinement must not decrease the mean cosine
    between vectors and their assigned centroid (the k-means objective),
    and nprobe=all stays exact regardless of refinement."""
    import numpy as np

    from lazyosm_spark.operators.similarity import cosine_topk, ivf_ann_topk, ivf_index

    emb = _emb(spark)
    objs = []
    for iters in (0, 1, 2):
        assigned, cmat = ivf_index(emb, n_centroids=8, lloyd_iters=iters)
        rows = assigned.select("embedding", "centroid").collect()
        m = np.asarray([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        c = np.asarray([cmat[r["centroid"]] for r in rows])
        objs.append(float(np.mean(np.sum(m * c, axis=1))))
    assert objs[1] >= objs[0] - 1e-9 and objs[2] >= objs[1] - 1e-9, objs

    q = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk(emb, q, k=4).collect()
    }
    refined = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_ann_topk(emb, q, k=4, n_centroids=8, nprobe=8, lloyd_iters=2).collect()
    }
    assert refined == exact


def test_lsh_ann_recall(spark):
    from lazyosm_spark.operators.similarity import cosine_topk, lsh_ann_topk

    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 25)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, q, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_ann_topk(emb, q, k=3, n_planes=12, bands=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_embedding_near_dup_lsh_subset_of_exact(spark):
    from lazyosm_spark.operators.similarity import (
        cosine_near_dup_exact,
        embedding_near_dup_pairs,
    )

    emb = _emb(spark)
    exact = {
        (r["id_a"], r["id_b"]) for r in cosine_near_dup_exact(emb, 0.35).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(emb, 0.35).collect()
    }
    assert lsh <= exact  # no false positives (exact verify step)
    if exact:
        assert len(lsh) / len(exact) >= 0.2  # candidate recall floor


@pytest.mark.parametrize(
    "name", ["fx_minhash_lsh_pairs", "fx_simhash_near_pairs", "phash_near_pairs"]
)
def test_near_pair_queries_match_duckdb_oracle(spark, name):
    """Each near-pair engine's registered query equals its oracle SQL run
    on DuckDB, under the driver's own equality gate."""
    from lazyosm_spark.plans import driver_queries as dq
    from tools.compare_driver import compare, oracle_connection

    got = dq.all_queries()[name](spark, SF).toPandas()
    con = oracle_connection(SF)
    want = con.sql(dq.ORACLES[name]).df()
    assert len(got) > 0
    assert compare(got, want) == []


def test_simhash_vectorized_equals_expression(spark):
    """The Arrow numpy simhash must be bit-identical to the DuckDB
    expression twin simhash64_sql (the formula the oracles use)."""
    import duckdb

    from lazyosm_spark.operators.dedup import simhash64, simhash64_sql

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # include degenerate texts: split('', ' ') -> [''] semantics
    extra = spark.createDataFrame(
        [(100001, ""), (100002, "   "), (100003, "one"), (100004, "a b a b a")],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").unionByName(extra)
    fast = {r["doc_id"]: r["simhash"] for r in simhash64(both).collect()}
    con = duckdb.connect()
    con.register("t", both.toPandas())
    slow = dict(
        con.sql(f"SELECT doc_id, {simhash64_sql('text')} AS simhash FROM t").fetchall()
    )
    assert fast == slow


def test_simhash_near_pairs_exact_pigeonhole(spark):
    """Combination banding over max_hamming + 2 blocks finds EVERY pair
    within max_hamming (recall 1) — checked against a plain all-pairs
    bit_count at two radii."""
    from pyspark.sql import functions as F

    from lazyosm_spark.operators.dedup import simhash64, simhash_near_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sims = simhash64(docs)
    a = sims.selectExpr("doc_id as doc_id_a", "simhash as sa")
    b = sims.selectExpr("doc_id as doc_id_b", "simhash as sb")
    all_pairs = (
        a.crossJoin(b)
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select(
            "doc_id_a",
            "doc_id_b",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 12)
        .collect()
    )
    for r in (8, 12):
        brute = {tuple(x) for x in all_pairs if x["hamming"] <= r}
        banded = {
            tuple(x) for x in simhash_near_pairs(docs, max_hamming=r).collect()
        }
        assert banded == brute and len(brute) > 0, r


def test_hash_near_pairs_64bit_phash(spark):
    """hash_near_pairs over FULL 64-bit hashes (sign bit set on half
    the corpus — negative longs) finds exactly the brute-force pairs:
    the pigeonhole blocks partition all 64 bits and the numpy verify
    xors the full width."""
    from pyspark.sql import functions as F

    from lazyosm_spark.operators.dedup import hash_near_pairs

    minlong = -9223372036854775807 - 1
    # clusters of 4: shared 64-bit base, one id-derived flipped bit,
    # sign bit on even ids -> intra-cluster hamming <= 3
    imgs = spark.range(400).select(
        F.col("id").alias("image_id"),
        F.expr(
            "xxhash64(id div 4) "
            "^ shiftleft(cast(1 as bigint), cast(id % 60 as int)) "
            f"^ CASE WHEN id % 2 = 0 THEN {minlong} ELSE CAST(0 AS BIGINT) END"
        ).alias("phash"),
    )
    a = imgs.selectExpr("image_id as doc_id_a", "phash as pa")
    b = imgs.selectExpr("image_id as doc_id_b", "phash as pb")
    brute = {
        (r["doc_id_a"], r["doc_id_b"], r["hamming"])
        for r in a.crossJoin(b)
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select(
            "doc_id_a",
            "doc_id_b",
            F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 6)
        .collect()
    }
    got = {
        (r["doc_id_a"], r["doc_id_b"], r["hamming"])
        for r in hash_near_pairs(
            imgs, "image_id", "phash", max_hamming=6, n_bits=64
        ).collect()
    }
    assert got == brute
    assert len(got) >= 400 // 4  # intra-cluster pairs really exist


def test_hash_near_pairs_rejects_string_ids(spark):
    """A string id would die mid-job inside the numpy verify; the
    operator must fail fast at call time instead."""
    import pytest
    from pyspark.sql import functions as F

    from lazyosm_spark.operators.dedup import hash_near_pairs

    imgs = spark.range(10).select(
        F.concat(F.lit("img-"), F.col("id").cast("string")).alias("image_id"),
        F.xxhash64("id").alias("phash"),
    )
    with pytest.raises(ValueError, match="integral"):
        hash_near_pairs(imgs, "image_id", "phash", n_bits=64)


def test_hash_near_pairs_rejects_bad_knobs(spark):
    """Knob values the engine cannot honour fail at call time: a radius
    whose r + 2 pigeonhole blocks do not fit the hash width, and a
    non-integer split threshold (there is no flat, unsplit mode)."""
    from lazyosm_spark.operators.dedup import hash_near_pairs

    imgs = spark.range(10).select(
        F.col("id").alias("image_id"), F.xxhash64("id").alias("phash")
    )
    with pytest.raises(ValueError, match="max_hamming"):
        hash_near_pairs(imgs, "image_id", "phash", max_hamming=63, n_bits=64)
    with pytest.raises(ValueError, match="max_hamming"):
        hash_near_pairs(imgs, "image_id", "phash", max_hamming=-1)
    with pytest.raises(ValueError, match="bucket_threshold"):
        hash_near_pairs(imgs, "image_id", "phash", bucket_threshold=None)


def test_simhash_split_bands_bounds_hot_bucket(spark):
    """A deliberately hot band bucket (400 docs sharing the low 12 bits,
    everything else random) is recursively split below a small
    threshold over several levels, and the banded join over the split
    table still finds exactly the brute-force pairs — the Manku-style
    move that keeps the self-join from going quadratic at corpus
    scale."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from lazyosm_spark.operators.dedup import _split_bands

    rng = np.random.default_rng(11)
    n, thresh, r = 400, 16, 8
    hashes = (
        (rng.integers(0, 1 << 48, size=n, dtype=np.int64) << 12) | 0xABC
    ).tolist()  # low 12 bits (blocks 0+1 of the r+2 = 10) identical -> hot
    sims = spark.createDataFrame(
        list(enumerate(hashes)), "doc_id long, simhash long"
    )
    bands = _split_bands(sims, r, thresh, max_split_depth=4).persist()

    # bound: no bucket with >1 distinct simhash exceeds the threshold
    # (a bucket of IDENTICAL hashes is irreducible by construction)
    over = (
        bands.groupBy("spec", "key")
        .agg(F.count("*").alias("n"), F.countDistinct("simhash").alias("d"))
        .filter((F.col("n") > thresh) & (F.col("d") > 1))
        .count()
    )
    assert over == 0
    # the level-0 (block 0, block 1) bucket WAS hot (sanity: the split
    # actually ran, child specs exist past the C(r+2, 2) level-0 bands)
    assert bands.filter(F.col("spec") >= math.comb(r + 2, 2)).count() > 0

    # exactness: band join == brute force
    a, b = bands.alias("a"), bands.alias("b")
    banded = {
        (r_["da"], r_["db"])
        for r_ in a.join(b, ["spec", "key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("h"),
        )
        .filter(F.col("h") <= r)
        .distinct()
        .collect()
    }
    sa = sims.selectExpr("doc_id da", "simhash xa")
    sb = sims.selectExpr("doc_id db", "simhash xb")
    brute = {
        (r_["da"], r_["db"])
        for r_ in sa.crossJoin(sb)
        .filter(F.col("da") < F.col("db"))
        .filter(F.bit_count(F.col("xa").bitwiseXOR(F.col("xb"))) <= r)
        .collect()
    }
    assert banded == brute
    bands.unpersist()


def test_simhash_auto_threshold_derivation():
    """The default split threshold is an ABSOLUTE constant — a
    mean-relative threshold would leave the band self-join quadratic
    under uniform hashing (every bucket sits near the mean, so nothing
    would ever split); a constant t caps the join at ~n*t/2 rows per
    band, linear in corpus size.  Both near-pair entry points default
    to it."""
    import inspect

    from lazyosm_spark.operators.dedup import (
        AUTO_BUCKET_THRESHOLD,
        hash_near_pairs,
        simhash_near_pairs,
    )

    assert AUTO_BUCKET_THRESHOLD == 1024
    for fn in (simhash_near_pairs, hash_near_pairs):
        default = inspect.signature(fn).parameters["bucket_threshold"].default
        assert default == AUTO_BUCKET_THRESHOLD


def test_simhash_default_call_splits_hot_bucket(spark, monkeypatch):
    """The DEFAULT simhash_near_pairs call (no bucket_threshold passed)
    uses AUTO_BUCKET_THRESHOLD and recursively splits a deliberately
    hot level-0 bucket — the default call IS the at-scale plan
    (round-3 verdict item 1).  Hashes are injected via simhash64 so
    the hot bucket is deterministic: with combination banding (pairs
    of b=10 six-bit blocks), all docs share the LOW 12 BITS (blocks
    0+1), so the (0,1) pair band holds every doc in one bucket while
    every other band stays cold."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    import lazyosm_spark.operators.dedup as dd

    rng = np.random.default_rng(7)
    n, r = 1500, 8  # hot bucket must exceed the 1024 auto threshold
    hashes = (
        (rng.integers(0, 1 << 48, size=n, dtype=np.int64) << 12) | 0xABC
    ).tolist()
    sims = spark.createDataFrame(
        list(enumerate(hashes)), "doc_id long, simhash long"
    )
    monkeypatch.setattr(dd, "simhash64", lambda d, i, t: sims)

    captured = {}
    real_split = dd._split_bands

    def spy(s, mh, thresh, depth, n_bits):
        captured["threshold"] = thresh
        out = real_split(s, mh, thresh, depth, n_bits).persist()
        captured["bands"] = out
        captured["n_level0"] = math.comb(mh + 2, 2)
        return out

    monkeypatch.setattr(dd, "_split_bands", spy)

    docs = spark.createDataFrame(
        [(i, "x") for i in range(n)], "doc_id long, text string"
    )
    pairs = dd.simhash_near_pairs(docs)  # DEFAULT call
    got = {tuple(x) for x in pairs.collect()}

    thresh = dd.AUTO_BUCKET_THRESHOLD
    assert captured["threshold"] == thresh == 1024
    # the hot (block0, block1) bucket was actually split (child specs
    # exist past the level-0 combination bands) and no mixed-hash
    # bucket is left above the derived threshold
    bands = captured["bands"]
    assert bands.filter(F.col("spec") >= captured["n_level0"]).count() > 0
    over = (
        bands.groupBy("spec", "key")
        .agg(F.count("*").alias("n"), F.countDistinct("simhash").alias("d"))
        .filter((F.col("n") > thresh) & (F.col("d") > 1))
        .count()
    )
    assert over == 0
    # exactness of the default path vs brute force
    sa = sims.selectExpr("doc_id da", "simhash xa")
    sb = sims.selectExpr("doc_id db", "simhash xb")
    brute = {
        (x["da"], x["db"], x["h"])
        for x in sa.crossJoin(sb)
        .filter(F.col("da") < F.col("db"))
        .withColumn("h", F.bit_count(F.col("xa").bitwiseXOR(F.col("xb"))))
        .filter(F.col("h") <= r)
        .collect()
    }
    assert got == brute
    bands.unpersist()


def test_simhash_near_pairs_split_equals_default(spark):
    """The split ladder is pure plan shaping: unsplit bands
    (max_split_depth=0), the default threshold, and a pinned aggressive
    split all emit the identical pair set (values included)."""
    from lazyosm_spark.operators.dedup import simhash_near_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    flat = {
        tuple(r)
        for r in simhash_near_pairs(
            docs, max_hamming=8, max_split_depth=0
        ).collect()
    }
    auto = {
        tuple(r) for r in simhash_near_pairs(docs, max_hamming=8).collect()
    }
    split = {
        tuple(r)
        for r in simhash_near_pairs(
            docs, max_hamming=8, bucket_threshold=8, max_split_depth=3
        ).collect()
    }
    assert flat == auto == split and len(flat) > 0


def test_minhash_lsh_recall_vs_exact(spark):
    from lazyosm_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    exact = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.12).collect()
    }
    lsh = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.12).collect()
    }
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) >= 0.8, (len(lsh), len(exact))


def test_bucket_pairs_tile_path_and_self_pairs(spark, monkeypatch):
    """Shrunken pair budget forces the mega-bucket TILE path; output
    must equal brute force, including with a duplicated doc_id (the
    old join's strict a < b dropped self-pairs — so must the verify)."""
    import numpy as np

    import lazyosm_spark.operators.dedup as dd

    monkeypatch.setattr(dd, "_PAIR_BUDGET", 64)
    monkeypatch.setattr(dd, "_TILE", 16)
    rng = np.random.default_rng(3)
    # one mega-bucket: 60 docs sharing the low 12 bits (the (0,1)
    # block-pair band holds all of them), a threshold above its size so
    # the ladder cannot split it away; plus one DUPLICATE doc_id
    base = ((rng.integers(0, 1 << 8, size=60, dtype=np.int64) << 12) | 0x5A5).tolist()
    rows = list(enumerate(base)) + [(0, base[0])]  # doc 0 twice
    sims = spark.createDataFrame(rows, "doc_id long, simhash long")
    monkeypatch.setattr(dd, "simhash64", lambda d, i, t: sims)
    docs = spark.createDataFrame([(i, "x") for i in range(61)], "doc_id long, text string")
    got = {
        tuple(x)
        for x in dd.simhash_near_pairs(docs, max_hamming=8, bucket_threshold=64).collect()
    }
    sa = sims.selectExpr("doc_id da", "simhash xa")
    sb = sims.selectExpr("doc_id db", "simhash xb")
    brute = {
        (x["da"], x["db"], x["h"])
        for x in sa.crossJoin(sb)
        .filter(F.col("da") < F.col("db"))
        .withColumn("h", F.bit_count(F.col("xa").bitwiseXOR(F.col("xb"))))
        .filter(F.col("h") <= 8)
        .collect()
    }
    assert got == brute and len(got) > 0
    assert all(a < b for a, b, _ in got)  # no self-pairs
