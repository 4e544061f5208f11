"""Throughput evidence for the round-3 operators at realistic volume
(round-3 verdict item 3): phash_hamming_knn, the simhash default split
path, and pack_sequences at 10^6-10^7 rows on local[32], with the
chosen ladder/split constants recorded next to the numbers.

Inputs are synthesized DETERMINISTICALLY inside Spark (xxhash64 of the
row id — no RNG state, no external data), shaped like the real
workloads:

- phash corpus: clusters of 10 images whose hashes differ by <= 4 bits
  (cluster base = xxhash64(id div 10), two id-derived bit flips) — the
  near-dup shape phash kNN exists for.  A uniformly random corpus is
  the information-theoretic worst case (rank-k at ~15+ bits forces the
  widest radii); real perceptual hashes cluster, and the bench should
  measure the plan the operator actually runs at scale.
- simhash corpus: 20-token docs over a small vocabulary with shared
  cluster stems, so band buckets are genuinely hot and the AUTO
  threshold's split path actually runs.
- packing corpus: (doc_id, n_tokens) with n_tokens in [1, 2048].

Every section runs twice and reports both walls (within-session rule,
BENCH/BASELINE.md) plus rows/s from the better wall.  MUST run
exclusively — no other Spark session alive on the box.

Usage: python BENCH/run_ops_scale.py [--update-baseline]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_SCALE = float(os.environ.get("OPS_SCALE", "1.0"))  # smoke-test lever
N_PHASH_ITEMS = int(1_000_000 * _SCALE)
N_PHASH_QUERIES = max(1, int(2_000 * _SCALE))
N_SIMHASH_DOCS = int(1_000_000 * _SCALE)
N_PACK_ROWS = int(10_000_000 * _SCALE)


def main() -> None:
    from pyspark.sql import functions as F

    from lazyosm_spark import get_spark

    spark = get_spark(
        app="ops_scale",
        cpus=32,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    results: dict[str, dict] = {}

    only = {s for s in os.environ.get("OPS_ONLY", "").split(",") if s}

    def timed(name: str, fn, n_rows: int, constants: dict, reps: int = 2) -> None:
        if only and name not in only:
            return
        walls = []
        out_rows = None
        for rep in range(reps):
            t0 = time.time()
            out_rows = fn()
            walls.append(round(time.time() - t0, 2))
            print(
                f"# {name} rep{rep}: {walls[-1]}s ({out_rows} result rows)",
                file=sys.stderr,
                flush=True,
            )
        best = min(walls)
        results[name] = {
            "input_rows": n_rows,
            "result_rows": out_rows,
            "walls_sec": walls,
            "rows_per_sec": round(n_rows / best, 1),
            "constants": constants,
        }

    # ------------------------------------------------------------------
    # 1. phash Hamming kNN: 10^6 items, 2k queries, clustered hashes
    # ------------------------------------------------------------------
    from lazyosm_spark.operators.knn import FALLBACK_SALT, RADII, phash_hamming_knn

    # two id-derived single-bit flips -> intra-cluster distance <= 4.
    # shiftleft (not pow): cast(pow(2,63) as double->long) saturates to
    # Long.MaxValue = 63 set bits, which would throw ~3% of items far
    # outside their cluster and silently change the benched workload
    items = spark.range(N_PHASH_ITEMS).select(
        F.col("id").alias("image_id"),
        (
            F.xxhash64((F.col("id") / 10).cast("long"))
            .bitwiseXOR(
                F.expr("shiftleft(cast(1 as bigint), cast(pmod(id, 64) as int))")
            )
            .bitwiseXOR(
                F.expr("shiftleft(cast(1 as bigint), cast(pmod(id * 7 + 13, 64) as int))")
            )
        ).alias("phash"),
    )
    queries = items.filter(F.pmod(F.col("image_id"), F.lit(500)) == 0)

    timed(
        "phash_hamming_knn",
        lambda: phash_hamming_knn(items, queries, k=5).count(),
        N_PHASH_ITEMS,
        {
            "k": 5,
            "n_queries": N_PHASH_QUERIES,
            "radii": list(RADII),
            "fallback_salt": FALLBACK_SALT,
        },
    )

    # ------------------------------------------------------------------
    # 2. simhash near pairs, DEFAULT call (auto split threshold)
    # ------------------------------------------------------------------
    from lazyosm_spark.operators.dedup import AUTO_BUCKET_THRESHOLD, simhash_near_pairs

    words = [f"w{i:03d}" for i in range(400)]
    docs = spark.range(N_SIMHASH_DOCS).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            # 16 cluster-stem tokens (id div 20 -> 5*10^4 hot stems,
            # clusters of 20 near-dup docs) + 4 id-unique tokens: hot
            # band buckets with distinct hashes
            *[
                F.element_at(
                    F.array(*[F.lit(w) for w in words]),
                    (F.pmod(F.xxhash64((F.col("id") / 20).cast("long") + j), 400) + 1).cast("int"),
                )
                for j in range(16)
            ],
            *[
                F.element_at(
                    F.array(*[F.lit(w) for w in words]),
                    (F.pmod(F.xxhash64(F.col("id") * 4 + j), 400) + 1).cast("int"),
                )
                for j in range(4)
            ],
        ).alias("text"),
    )
    timed(
        "simhash_near_pairs_default",
        lambda: simhash_near_pairs(docs, max_hamming=8).count(),
        N_SIMHASH_DOCS,
        {
            "max_hamming": 8,
            "pigeonhole_blocks": 10,
            "blocks_per_band": 2,
            "bucket_threshold": AUTO_BUCKET_THRESHOLD,
            "max_split_depth": 4,
        },
        # two walls per the within-session variance rule (round-4
        # verdict item 3); affordable since round 5's numpy bucket
        # verify + combination banding removed the join-emit wall
        reps=int(os.environ.get("OPS_SIMHASH_REPS", "2")),
    )

    # ------------------------------------------------------------------
    # 3. pack_sequences: 10^7 docs through the distributed prefix sum
    # ------------------------------------------------------------------
    from lazyosm_spark.operators.packing import pack_sequences

    pdocs = spark.range(N_PACK_ROWS).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.xxhash64("id"), F.lit(2048)) + 1).alias("n_tokens"),
    )
    timed(
        "pack_sequences",
        lambda: pack_sequences(pdocs, ctx_len=2048)
        .agg(F.max("seq_id"), F.count("*"))
        .collect()
        and N_PACK_ROWS,
        N_PACK_ROWS,
        {"ctx_len": 2048, "n_buckets": 256},
    )

    # ------------------------------------------------------------------
    # 3b. BPE tokenize: 10^6 docs (the simhash corpus) through the
    # Arrow encoder — the filter on n_tokens forces the UDF column
    # ------------------------------------------------------------------
    from lazyosm_spark.operators.tokenize import tokenize

    timed(
        "bpe_tokenize",
        lambda: tokenize(docs).filter(F.col("n_tokens") > 0).count(),
        N_SIMHASH_DOCS,
        {
            "vocab": "resources/bpe_merges.json (201 tokens)",
            "docs_tokens_each": 20,
            "corpus": "31 distinct words — memo-dominated BEST case",
        },
    )

    # 3b'. the honest diversity case: ~10^5 DISTINCT words (realistic
    # vocabulary scale) — each worker's memo must earn its 10^5 BPE
    # encodes before the hit path takes over
    div_docs = spark.range(N_SIMHASH_DOCS).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit("w"),
                    F.pmod(F.xxhash64(F.col("id") * 20 + j), F.lit(100_000)).cast(
                        "string"
                    ),
                )
                for j in range(20)
            ],
        ).alias("text"),
    )
    timed(
        "bpe_tokenize_diverse",
        lambda: tokenize(div_docs).filter(F.col("n_tokens") > 0).count(),
        N_SIMHASH_DOCS,
        {
            "vocab": "resources/bpe_merges.json (201 tokens)",
            "docs_tokens_each": 20,
            "corpus": "~10^5 distinct words — memo warms per worker",
        },
    )

    # ------------------------------------------------------------------
    # 3c. pii_scrub: 10^7 rows through the JVM regexp chain (every row
    # carries an email + an IPv4, every third an SSN-style id); the
    # filter touches clean_text AND the counts so nothing is pruned
    # ------------------------------------------------------------------
    from lazyosm_spark.operators.text import pii_scrub

    pii_docs = spark.range(N_PACK_ROWS).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("lorem ipsum dolor u"),
            F.col("id").cast("string"),
            F.lit("@ex.org ip 10."),
            (F.col("id") % 256).cast("string"),
            F.lit(".0.9"),
            F.when(F.col("id") % 3 == 0, F.lit(" ssn 123-45-6789")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    timed(
        "pii_scrub",
        lambda: pii_scrub(pii_docs)
        .filter((F.length("clean_text") > 0) & (F.col("n_pii") >= 2))
        .count(),
        N_PACK_ROWS,
        {"patterns": 4, "hits_per_row": "2-3"},
    )

    # ------------------------------------------------------------------
    # 3d. corpus_make end to end: 10^6 docs through curate (pii +
    # quality + langid + exact dedup) -> BPE tokenize -> pack, WITH the
    # three lineage checkpoints (real resumable-job shape, disk
    # included); fresh output dir per rep so nothing resumes
    # ------------------------------------------------------------------
    import shutil
    import tempfile

    from jobs.corpus_make import run_pipeline

    corpus_docs = docs.withColumn(
        "lang",
        F.element_at(
            F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
            (F.pmod(F.col("doc_id"), 3) + 1).cast("int"),
        ),
    )
    corpus_path = tempfile.mkdtemp(prefix="ops_corpus_in_")
    if not only or "corpus_make_e2e" in only:
        corpus_docs.write.mode("overwrite").parquet(corpus_path)

    def corpus_run():
        out = tempfile.mkdtemp(prefix="ops_corpus_out_")
        try:
            r = run_pipeline(
                spark,
                corpus_path,
                out,
                ctx_len=2048,
                min_quality=0.0,
                langs=("en", "de", "fr"),
                max_pii=None,
            )
            return r["docs_kept"]
        finally:
            shutil.rmtree(out, ignore_errors=True)

    timed(
        "corpus_make_e2e",
        corpus_run,
        N_SIMHASH_DOCS,
        {
            "stages": "curate(pii+quality+langid+dedup) -> bpe tokenize -> pack",
            "lineage_checkpoints": 3,
            "ctx_len": 2048,
        },
    )
    shutil.rmtree(corpus_path, ignore_errors=True)

    # ------------------------------------------------------------------
    # 3e. duplicate_spans: 10^6 docs x 64 token ids in near-dup
    # clusters of 10 (first 50 ids shared per cluster, tail unique) —
    # every doc carries exactly one corpus-duplicated 50-token span,
    # the Lee-et-al dedup shape; ~1.5x10^7 spans through the hash
    # count-window
    # ------------------------------------------------------------------
    from lazyosm_spark.operators.spans import duplicate_spans

    span_docs = spark.range(N_SIMHASH_DOCS).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "transform(sequence(1, 64), j -> cast(pmod("
            "CASE WHEN j <= 50 THEN xxhash64(id div 10, j) "
            "ELSE xxhash64(id, j) END, 2147483647) as int))"
        ).alias("token_ids"),
    )
    timed(
        "duplicate_spans",
        lambda: duplicate_spans(span_docs, span_len=50)
        .filter("dup_tokens > 0")
        .count(),
        N_SIMHASH_DOCS,
        {
            "span_len": 50,
            "tokens_per_doc": 64,
            "spans_total": 15 * N_SIMHASH_DOCS,
            "cluster_size": 10,
        },
    )

    # ------------------------------------------------------------------
    # 3e'. contamination: the 10^6-doc span corpus vs a 1000-doc eval
    # set; every 20th corpus doc embeds an eval doc's 50-token prefix —
    # the broadcast-filter plan at full span-stream width
    # ------------------------------------------------------------------
    from lazyosm_spark.operators.spans import contamination

    contam_docs = spark.range(N_SIMHASH_DOCS).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "transform(sequence(1, 64), j -> cast(pmod("
            "CASE WHEN id % 20 = 0 AND j <= 50 "
            "THEN xxhash64('e', (id div 20) % 1000, j) "
            "ELSE xxhash64(id, j) END, 2147483647) as int))"
        ).alias("token_ids"),
    )
    eval_docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "transform(sequence(1, 64), j -> "
            "cast(pmod(xxhash64('e', id, j), 2147483647) as int))"
        ).alias("token_ids"),
    )
    timed(
        "contamination",
        lambda: contamination(contam_docs, eval_docs, span_len=50)
        .filter("n_hit_spans > 0")
        .count(),
        N_SIMHASH_DOCS,
        {
            "span_len": 50,
            "eval_docs": 1000,
            "tokens_per_doc": 64,
            "contaminated_share": "1 in 20",
        },
    )

    # ------------------------------------------------------------------
    # 3e''. hash_near_pairs at n_bits=64: 10^6 clustered perceptual
    # hashes (clusters of 10, <= 4-bit intra distance, sign bit varies)
    # through the combination-banded exact pair engine
    # ------------------------------------------------------------------
    from lazyosm_spark.operators.dedup import hash_near_pairs

    minlong = -9223372036854775807 - 1
    ph_items = spark.range(N_PHASH_ITEMS).select(
        F.col("id").alias("image_id"),
        F.expr(
            "xxhash64(id div 10) "
            "^ shiftleft(cast(1 as bigint), cast(pmod(id, 64) as int)) "
            "^ shiftleft(cast(1 as bigint), cast(pmod(id * 7 + 13, 64) as int)) "
            f"^ CASE WHEN id % 2 = 0 THEN {minlong} ELSE CAST(0 AS BIGINT) END"
        ).alias("phash"),
    )
    timed(
        "hash_near_pairs_phash64",
        lambda: hash_near_pairs(
            ph_items, "image_id", "phash", max_hamming=5, n_bits=64
        ).count(),
        N_PHASH_ITEMS,
        {
            "max_hamming": 5,
            "n_bits": 64,
            "blocks_per_band": 2,
            "cluster_size": 10,
            "sign_bit": "set on even ids",
        },
    )

    # ------------------------------------------------------------------
    # 3f. repetition_stats: the 10^6-doc simhash corpus (20 words each,
    # hot cluster stems) through all three explode+count-window legs
    # ------------------------------------------------------------------
    from lazyosm_spark.operators.repetition import repetition_stats

    timed(
        "repetition_stats",
        lambda: repetition_stats(docs).filter("top_bigram_frac >= 0").count(),
        N_SIMHASH_DOCS,
        {"words_per_doc": 20, "legs": "dup-lines + modal-bigram + dup-trigram"},
    )

    # ------------------------------------------------------------------
    # 4. bloom_semi_join: 10^7-row big side vs 10^5-key small side
    # ------------------------------------------------------------------
    from lazyosm_spark.operators.bloom import bloom_semi_join

    big = spark.range(int(10_000_000 * _SCALE)).select(
        F.col("id").alias("row_id"),
        F.pmod(F.xxhash64("id"), F.lit(1_000_000)).alias("key"),
    )
    small = spark.range(int(100_000 * _SCALE)).select(
        (F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1_000_000))).alias("key")
    )
    timed(
        "bloom_semi_join",
        lambda: bloom_semi_join(big, small, key_col="key").count(),
        int(10_000_000 * _SCALE),
        {"bits_per_key": 10, "n_hashes": 7, "n_small_keys": int(100_000 * _SCALE)},
    )

    print(json.dumps(results, indent=2))

    if "--update-baseline" in sys.argv:
        # merge into the committed sidecar so a partial (OPS_ONLY) run
        # refreshes its rows without dropping the others' evidence
        sidecar = os.path.join(REPO, "BENCH", "ops_scale_results.json")
        merged: dict[str, dict] = {}
        if os.path.exists(sidecar):
            merged = json.load(open(sidecar))
        merged.update(results)
        with open(sidecar, "w") as f:
            json.dump(merged, f, indent=2)
        results = merged
        md = ["## Operator throughput at realistic volume (rounds 4-5)\n"]
        md.append(
            "Round-3 operators measured at 10^6-10^7 rows on local[32]\n"
            "(`BENCH/run_ops_scale.py`, exclusive idle-box run; both walls\n"
            "reported per the within-session variance rule; inputs\n"
            "synthesized deterministically from xxhash64(id) — see the\n"
            "script header for the workload shapes):\n"
        )
        md.append("| operator | input rows | result rows | walls (s) | rows/s | constants |")
        md.append("|---|---|---|---|---|---|")
        for name, r in results.items():
            md.append(
                f"| {name} | {r['input_rows']:,} | {r['result_rows']:,} | "
                f"{r['walls_sec']} | {r['rows_per_sec']:,} | "
                f"{json.dumps(r['constants'])} |"
            )
        md.append(
            """
Context:
- `simhash_near_pairs_default` is EXACT r=8 near-dup detection over
  10^6 quasi-random 60-bit hashes — intrinsically ~10^9-10^10
  band-bucket collisions.  Round 5 rebuilt the collision engine:
  combination banding (c=2 over 10 blocks -> ~12-bit keys, recall 1
  by the extended pigeonhole, ~6x fewer collisions than the old
  ~6.7-bit single-block bands) + a vectorized numpy bucket verify
  (equal-size buckets stacked into matrices, xor + LUT popcount —
  ~10^3x the per-collision rate of the former band self-JOIN emit,
  which measured ~6.6M rows/s and owned the old 461 s wall).  The
  default threshold (1024, an absolute constant — see
  `AUTO_BUCKET_THRESHOLD`) still bounds any hot bucket via the
  recursive split; with 12-bit default keys a uniform corpus never
  goes hot, so the default call runs zero band checkpoints.
- `phash_hamming_knn`'s corpus is near-dup clusters of 10 (<= 4-bit
  intra-cluster distance): virtually every query retires at radius 6,
  the realistic shape; a uniformly random corpus would push rank-5
  neighbors to ~15 bits and force the expensive radii by
  information-theoretic necessity.
- `pack_sequences` is prefix-sum-bound: two passes over
  (doc_id, n_tokens) plus a 256-value driver exchange.
- `bloom_semi_join` joins a 10^7-row big side against a 10^5-key
  small side: the broadcast bitmap probe cuts the big side to ~9.5%
  survivors before the only shuffle — the wall is scan + Arrow probe
  bound.
- `duplicate_spans` pushes ~1.5x10^7 50-token spans through the span-
  hash count window (~3M spans/s end to end, all JVM); every doc
  carries one corpus-duplicated span (clusters of 10), so the
  coverage window and the per-doc join run at full width.
- `repetition_stats` runs all three explode+count-window legs
  (~4x10^7 exploded rows total) over 10^6 20-word docs.
- `contamination` filters the same 1.5x10^7-span stream against a
  broadcast 15k-hash eval span table — no content shuffle, so the
  wall is span enumeration + the per-doc fold; exactly the planted
  1-in-20 docs come back flagged.
- `hash_near_pairs_phash64` runs full-width 64-bit perceptual hashes
  (sign bit on half the corpus) through the combination-banded exact
  engine: 10^5 clusters of 10 -> all 4.5M intra-cluster pairs, zero
  misses."""
        )
        from tools.mdsplice import splice_marker_block

        # explicit marker-bounded splice (round-4 ADVICE class): never
        # search heading substrings; missing/unpaired markers fail loudly
        splice_marker_block(
            os.path.join(REPO, "BENCH", "BASELINE.md"),
            "auto:ops-scale",
            "\n".join(md),
        )
        print("# BENCH/BASELINE.md updated", file=sys.stderr)


if __name__ == "__main__":
    main()
