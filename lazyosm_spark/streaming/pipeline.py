"""Structured Streaming surface: incremental tiling, windowed rollups,
stateful dedup/sessionization and sequence packing.

The reference is batch-only (SURVEY.md §2.10) — its closest analogs are
incremental file reading and streaming feature writes.  The engine
exposes nine streaming operators, every one built from the same four
parts:

- ``_source``: tail a directory of parquet files with a fixed schema;
- ``_keyed_state``: one applyInPandasWithState stage (append output,
  no timeout) whose kernel sees each key's rows as one pandas frame —
  sessionization, exact and LSH-bucket dedup, and the packing cursor;
- ``_parquet_sink``: the append file sink (checkpoint + availableNow);
- ``_epoch_sink``: foreachBatch running a BATCH operator per
  micro-batch (tile_points, contamination), so batch and streaming
  results are identical by construction.  Its write is an idempotent
  dynamic overwrite of the epoch=<id> partition, so checkpoint-replayed
  epochs produce exactly-once output (a blind append would be
  at-least-once).

windowed_event_counts is the watermarked window rollup shared by the
streaming operator and its batch twin.  Everything is driven with
trigger(availableNow=True) over parquet directories — the same code
points at Kafka/files in production.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

# the batch `sessionize` query's gap: events further apart start a new session
SESSION_GAP_S = 3600


def _source(spark: SparkSession, input_dir: str, input_schema: str) -> DataFrame:
    return spark.readStream.schema(input_schema).parquet(input_dir)


def _parquet_sink(out: DataFrame, output_dir: str, checkpoint_dir: str) -> StreamingQuery:
    return (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _epoch_sink(
    stream: DataFrame,
    per_batch: Callable[[DataFrame], DataFrame],
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Run ``per_batch`` on every non-empty micro-batch and write its
    result into the batch's epoch=<id> partition of output_dir."""

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # foreachBatch replays an epoch whose write finished but whose
        # checkpoint commit didn't — a blind append would duplicate it
        # (at-least-once).  Overwriting exactly the epoch=<id> partition
        # makes the replay idempotent: effectively exactly-once output.
        (
            per_batch(batch_df)
            .withColumn("epoch", F.lit(epoch_id))
            .write.option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .partitionBy("epoch")
            .parquet(output_dir)
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _keyed_state(
    df: DataFrame, key: str | list[str], kernel, out_schema: str, state_schema: str
) -> DataFrame:
    """groupBy(key).applyInPandasWithState in append mode without
    timeout.  ``kernel(key, rows, state)`` gets the key's rows of the
    micro-batch as one pandas frame and returns the output frame, or
    None to emit nothing."""

    def fn(k, pdfs, state):
        import pandas as pd

        out = kernel(k, pd.concat(list(pdfs), ignore_index=True), state)
        return iter([] if out is None else [out])

    return df.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def stream_tile_points(
    spark: SparkSession,
    input_dir: str,
    input_schema: str,
    tiles: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Tail a directory of point parquet files; tile each micro-batch
    with the batch operator (operators/spatial_join.tile_points); write
    membership to output_dir's epoch partitions.  Resume/exactly-once
    comes from the streaming checkpoint and the epoch overwrite."""
    from lazyosm_spark.operators.spatial_join import tile_points

    return _epoch_sink(
        _source(spark, input_dir, input_schema),
        lambda batch_df: tile_points(batch_df, tiles),
        output_dir,
        checkpoint_dir,
    )


def windowed_event_counts(events: DataFrame, window: str = "5 minutes") -> DataFrame:
    """Watermarked (10 minutes) tumbling window counts per event_type
    over ``ts`` — works on both a streaming and a batch DataFrame (batch
    ignores the watermark), so the oracle comparison runs the same
    expression in batch mode."""
    src = events.withWatermark("ts", "10 minutes") if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n",
            "total",
        )
    )


def stream_windowed_counts(
    spark: SparkSession,
    input_dir: str,
    input_schema: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Append-mode watermarked tumbling rollup: a window row is emitted
    exactly once, after the watermark passes its end; events arriving
    later than the watermark are DROPPED (the late-data contract the
    test pins).  Batch twin: windowed_event_counts on a static frame."""
    agg = windowed_event_counts(_source(spark, input_dir, input_schema))
    return _parquet_sink(agg, output_dir, checkpoint_dir)


BUCKET_OUT_SCHEMA = "doc_id long, band int, collided boolean"
BUCKET_STATE_SCHEMA = "owner long"


def _bucket_kernel(key, rows, state):
    """One (band, key) LSH bucket: the first-arriving doc owns it; every
    later arrival is a collision.  Within a batch, arrival order = doc_id
    order (the kernel sorts), so across ordered waves the rule is
    exactly 'an earlier doc shares this bucket' — the SQL oracle's
    EXISTS(e.doc_id < d.doc_id)."""
    import pandas as pd

    rows = rows.sort_values("doc_id")
    collided = [True] * len(rows)
    if not state.exists:
        collided[0] = False
        state.update((int(rows["doc_id"].iloc[0]),))
    return pd.DataFrame(
        {
            "doc_id": rows["doc_id"].to_numpy(),
            "band": rows["band"].to_numpy(),
            "collided": collided,
        }
    )


def stream_minhash_bucket_dedup(
    spark: SparkSession,
    input_dir: str,
    input_schema: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming LSH near-dup detection: each arriving doc's minhash
    band keys (dedup.band_keys, the batch operator's) probe keyed state
    per (band, bucket); a doc whose EVERY band lands in a fresh bucket
    is novel, any occupied bucket marks a candidate collision.  Sink
    rows are per-band (doc_id, band, collided); aggregate max(collided)
    per doc for the keep/flag decision (the driver query does, against
    a pure-SQL EXISTS oracle).  Candidate-level semantics: collisions
    are LSH candidates, the exact-verify stage is the batch
    minhash_lsh_pairs."""
    from lazyosm_spark.operators.dedup import band_keys, with_shingles

    docs = _source(spark, input_dir, input_schema)
    buckets = with_shingles(docs).select("doc_id", F.inline(band_keys()))
    out = _keyed_state(
        buckets, ["band", "key"], _bucket_kernel, BUCKET_OUT_SCHEMA, BUCKET_STATE_SCHEMA
    )
    return _parquet_sink(out, output_dir, checkpoint_dir)


DEDUP_OUT_SCHEMA = "text_hash long, doc_id long, first_epoch long"
DEDUP_STATE_SCHEMA = "seen boolean, first_doc long"


def _dedup_kernel(key, rows, state):
    """One group per text_hash; state remembers whether the hash was
    already emitted.  First arrival wins (min doc_id within the
    triggering batch), later arrivals are swallowed — exact streaming
    dedup with unbounded keys (production would add a state TTL via
    timeout for windowed dedup)."""
    import pandas as pd

    if state.exists:
        return None
    first = int(rows["doc_id"].min())
    state.update((True, first))
    return pd.DataFrame(
        [(int(key[0]), first, 0)], columns=["text_hash", "doc_id", "first_epoch"]
    )


def stream_exact_dedup(
    spark: SparkSession,
    input_dir: str,
    input_schema: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming exact dedup: each micro-batch's (doc_id, text) rows are
    hashed (portable md5 key, same as the batch operator) and deduped
    against ALL history via keyed state — the streaming twin of
    operators/dedup.exact_dedup."""
    from lazyosm_spark.functions.hashing import md5_long
    from lazyosm_spark.operators.dedup import normalize_text

    docs = _source(spark, input_dir, input_schema)
    hashed = docs.select("doc_id", md5_long(normalize_text("text")).alias("text_hash"))
    deduped = _keyed_state(
        hashed, "text_hash", _dedup_kernel, DEDUP_OUT_SCHEMA, DEDUP_STATE_SCHEMA
    )
    return _parquet_sink(deduped, output_dir, checkpoint_dir)


SESSION_OUT_SCHEMA = "user_id long, event_id long, session_id long"
SESSION_STATE_SCHEMA = "last_ts long, sess long"


def _session_kernel(key, rows, state):
    import pandas as pd

    rows = rows.sort_values(["ts", "event_id"])
    last_ts, sess = state.get if state.exists else (None, 0)
    # truncating unix seconds == the batch twin's unix_timestamp diff
    ts_s = (rows["ts"].astype("int64") // 1_000_000_000).to_numpy()
    out = []
    for t in ts_s:
        if last_ts is None or t - last_ts > SESSION_GAP_S:
            sess += 1
        out.append(sess)
        last_ts = int(t)
    state.update((last_ts, int(sess)))
    return pd.DataFrame(
        {
            "user_id": int(key[0]),
            "event_id": rows["event_id"].to_numpy(),
            "session_id": out,
        }
    )


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    input_schema: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Stateful streaming sessionization (applyInPandasWithState): per
    user, events more than SESSION_GAP_S apart start a new session;
    state carries (last_ts, session counter) across micro-batches, so a
    session spanning two batches is NOT split.  Equal to the batch
    `sessionize` window query whenever batches partition each user's
    timeline in order (e.g. time-ordered file arrival) — the driver
    query checks exactly that equality against the DuckDB oracle."""
    events = _source(spark, input_dir, input_schema).select("user_id", "event_id", "ts")
    out = _keyed_state(
        events, "user_id", _session_kernel, SESSION_OUT_SCHEMA, SESSION_STATE_SCHEMA
    )
    return _parquet_sink(out, output_dir, checkpoint_dir)


# ---------------------------------------------------------------------------
# Streaming sequence packing: per-stratum token cursor across micro-batches
# ---------------------------------------------------------------------------

PACK_OUT_SCHEMA = "doc_id long, lang string, seq_id long, offset long, n_tokens long"
PACK_STATE_SCHEMA = "cursor long"


def _pack_token_stream(
    toks: DataFrame, output_dir: str, checkpoint_dir: str, ctx_len: int
) -> StreamingQuery:
    """(doc_id, lang, n_tokens) stream -> keyed-state packer -> parquet
    sink (shared tail of the whitespace and BPE packers)."""

    def kernel(key, rows, state):
        import numpy as np
        import pandas as pd

        rows = rows.sort_values("doc_id")
        (cursor,) = state.get if state.exists else (0,)
        n = rows["n_tokens"].to_numpy(np.int64)
        ends = cursor + np.cumsum(n)
        starts = ends - n
        state.update((int(ends[-1]) if len(ends) else int(cursor),))
        return pd.DataFrame(
            {
                "doc_id": rows["doc_id"].to_numpy(),
                "lang": key[0],
                "seq_id": starts // ctx_len,
                "offset": starts % ctx_len,
                "n_tokens": n,
            }
        )

    packed = _keyed_state(toks, "lang", kernel, PACK_OUT_SCHEMA, PACK_STATE_SCHEMA)
    return _parquet_sink(packed, output_dir, checkpoint_dir)


def stream_pack_sequences(
    spark: SparkSession,
    input_dir: str,
    input_schema: str,
    output_dir: str,
    checkpoint_dir: str,
    ctx_len: int = 512,
) -> StreamingQuery:
    """Streaming concat-then-chunk packing: per STRATUM (lang), a token
    cursor carried in keyed state lays arriving documents end-to-end
    and assigns (seq_id, offset) against fixed ctx_len chunks — the
    arrival-order streaming twin of operators/packing.pack_sequences
    (which shuffles by hash; a stream packs in arrival order instead).
    Within a micro-batch docs sort by doc_id, so whenever arrival
    waves partition each stratum's doc_id order (time-ordered file
    arrival), the result equals the batch per-lang cumsum SQL — the
    driver query checks exactly that equality against DuckDB.  State
    is one int per stratum; restarts resume from the checkpointed
    cursor."""
    from lazyosm_spark.operators.dedup import normalize_text

    toks = _source(spark, input_dir, input_schema).select(
        "doc_id",
        "lang",
        F.size(F.split(normalize_text("text"), " ")).cast("long").alias("n_tokens"),
    )
    return _pack_token_stream(toks, output_dir, checkpoint_dir, ctx_len)


def stream_tokenize_pack(
    spark: SparkSession,
    input_dir: str,
    input_schema: str,
    output_dir: str,
    checkpoint_dir: str,
    ctx_len: int = 512,
    spec_path: str | None = None,
) -> StreamingQuery:
    """Raw text -> BPE token ids -> packed training sequences,
    STREAMING end-to-end: the tokenizer is stateless (broadcast merges,
    one Arrow stage — identical in a micro-batch plan), so only the
    per-stratum token cursor carries state; restarts resume from the
    checkpointed cursor exactly as stream_pack_sequences.  n_tokens is
    the REAL vocabulary tokenization (operators/tokenize), not the
    whitespace heuristic — the streaming twin of the batch
    bpe_tokenize_pack composition."""
    from lazyosm_spark.operators.tokenize import tokenize

    stream = _source(spark, input_dir, input_schema)
    toks = tokenize(stream, spec_path=spec_path, extra_cols=("lang",))
    toks = toks.select("doc_id", "lang", "n_tokens")
    return _pack_token_stream(toks, output_dir, checkpoint_dir, ctx_len)


def stream_decontaminate(
    spark: SparkSession,
    input_dir: str,
    input_schema: str,
    eval_tok: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    span_len: int = 13,
    spec_path: str | None = None,
) -> StreamingQuery:
    """Streaming eval-set decontamination: tail raw-text parquet,
    tokenize each micro-batch with the broadcast BPE merges, and flag
    every doc sharing a ``span_len``-token run with the STATIC eval
    set (operators/spans.contamination).  Per-doc hit stats are exact
    under streaming because spans never cross documents and documents
    arrive whole — the operator runs unchanged per micro-batch via
    foreachBatch (its lead() coverage window is batch-local), with the
    epoch-overwrite idempotent sink of stream_tile_points.  The eval
    span hashes broadcast once per batch plan; at 100 TB/day this is
    the ingest-time filter in front of the training sink."""
    from lazyosm_spark.operators.spans import contamination
    from lazyosm_spark.operators.tokenize import tokenize

    return _epoch_sink(
        _source(spark, input_dir, input_schema),
        lambda batch_df: contamination(
            tokenize(batch_df, spec_path=spec_path), eval_tok, span_len=span_len
        ),
        output_dir,
        checkpoint_dir,
    )
