"""Training-corpus end-to-end job: curate -> tokenize -> pack, resumable.

The LLM-data twin of jobs/tile_images.py: the same spark-submit shape,
the same per-partition lineage checkpointing (plans/lineage.py — every
stage records per-bucket row counts + order-insensitive checksums, so a
killed run RESUMES without duplicating work), now over the documents
pipeline the engine's dedup/text/tokenize/packing operators compose
into:

  1. scan documents (doc_id, text, lang, source, n_chars)
  2. CURATE: pii_scrub counts + redacted text, composed with the
     quality / langid / exact-dedup legs (operators/corpus.py) — the
     "keep this document?" decision plus the clean text that survives
  3. TOKENIZE: real-vocabulary BPE over the REDACTED text (broadcast
     merges, Arrow-vectorized; operators/tokenize.py)
  4. PACK: GPT-style concat-then-chunk over (doc_id, n_tokens) via the
     distributed prefix sum (operators/packing.py)

Each stage lands bucketed parquet + lineage under --output; re-running
with the same --output skips completed buckets.  Prints ONE JSON line
(walls per stage, docs in/kept, total tokens, sequences).

    spark-submit --py-files lazyosm_spark.zip jobs/corpus_make.py \
        --docs /root/testdata/sf0.01/documents.parquet \
        --output /tmp/corpus_out [--ctx-len 2048] [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from lazyosm_spark.session import DEFAULT_CPUS  # noqa: E402


def run_pipeline(
    spark,
    docs_path: str,
    out_dir: str,
    ctx_len: int = 2048,
    min_quality: float = 0.25,
    langs: tuple[str, ...] = ("en", "de", "fr"),
    max_pii: int | None = 3,
    n_buckets: int = 64,
) -> dict:
    from pyspark.sql import functions as F

    from lazyosm_spark.operators.corpus import filter_corpus
    from lazyosm_spark.operators.packing import pack_sequences
    from lazyosm_spark.operators.text import pii_scrub
    from lazyosm_spark.operators.tokenize import tokenize
    from lazyosm_spark.plans.lineage import CheckpointedPipeline

    t0 = time.time()
    stage_t: dict[str, float] = {}

    def mark(name):
        now = time.time()
        stage_t[name] = round(now - mark.last, 2)
        mark.last = now

    mark.last = t0

    docs = spark.read.parquet(docs_path)
    n_in = docs.count()
    pipe = CheckpointedPipeline(spark, out_dir, n_buckets=n_buckets)

    # stage 2: curation decision + redacted text in one checkpoint —
    # downstream stages must never see pre-redaction text
    keep = filter_corpus(
        docs,
        min_quality=min_quality,
        langs=langs,
        max_pii=max_pii,
    )
    scrub = pii_scrub(docs).select("doc_id", "clean_text", "n_pii")
    curated_df = (
        keep.join(scrub, "doc_id")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "lang_pred", "quality", "n_pii", "clean_text")
    )
    curated = pipe.run_stage("curate", curated_df, key_col="doc_id")
    mark("curate_stage")

    # stage 3: BPE over the redacted text (token ids kept — they ARE
    # the training payload; lineage checksums cover the array column)
    toks_df = tokenize(
        curated.select("doc_id", "lang", F.col("clean_text").alias("text")),
        extra_cols=("lang",),
    )
    toks = pipe.run_stage("tokens", toks_df, key_col="doc_id")
    mark("tokenize_stage")

    # stage 4: packing assignments over (doc_id, n_tokens)
    packed_df = pack_sequences(toks.select("doc_id", "n_tokens"), ctx_len=ctx_len)
    packed = pipe.run_stage("pack", packed_df, key_col="doc_id")
    mark("pack_stage")

    agg = toks.agg(
        F.count("*").alias("docs"), F.sum("n_tokens").alias("tokens")
    ).first()
    n_seqs = packed.agg(
        (F.max(F.col("seq_id") + F.col("n_seqs_spanned") - 1) + 1).alias("s")
    ).first()["s"]
    wall = round(time.time() - t0, 2)
    return {
        "job": "corpus_make",
        "docs_in": n_in,
        "docs_kept": int(agg["docs"]),
        "total_tokens": int(agg["tokens"] or 0),
        "ctx_len": ctx_len,
        "n_sequences": int(n_seqs or 0),
        "wall_sec": wall,
        "docs_per_sec": round(n_in / max(wall, 1e-9), 1),
        "stages": stage_t,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True, help="parquet path of the documents table")
    ap.add_argument("--output", required=True)
    ap.add_argument("--ctx-len", type=int, default=2048)
    ap.add_argument("--min-quality", type=float, default=0.25)
    ap.add_argument("--langs", default="en,de,fr")
    ap.add_argument("--max-pii", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=DEFAULT_CPUS)
    ap.add_argument("--buckets", type=int, default=64, help="lineage bucket count (resume granularity)")
    args = ap.parse_args()

    from lazyosm_spark import get_spark

    spark = get_spark(
        app=f"corpus_make_c{args.cpus}",
        cpus=args.cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    out = run_pipeline(
        spark,
        args.docs,
        args.output,
        ctx_len=args.ctx_len,
        min_quality=args.min_quality,
        langs=tuple(s for s in args.langs.split(",") if s),
        max_pii=args.max_pii,
        n_buckets=args.buckets,
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
