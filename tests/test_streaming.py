"""Streaming surface: each operator equals its batch twin (micro-batch
tiling, windowed rollup, sessionization, dedup, packing,
decontamination), keyed state spans restarts, and every streaming
driver query matches its DuckDB oracle and leaves no temp tree."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

STREAM_QUERIES = [
    "fx_streaming_tiling",
    "fx_streaming_sessionize",
    "fx_streaming_lsh_dedup",
    "fx_stateful_stream_dedup",
    "fx_streaming_pack",
    "fx_stream_tokenize_pack",
    "fx_stream_decontaminate",
]


def test_stream_tile_points_equals_batch(spark, fx):
    from lazyosm_spark.operators.spatial_join import tile_points
    from lazyosm_spark.streaming.pipeline import stream_tile_points

    pts = spark.createDataFrame(
        [(f"p{i}",
          -180.0 + 360.0 * ((i * 0.7548776662466927) % 1.0),
          -85.0 + 170.0 * ((i * 0.5698402909980532) % 1.0))
         for i in range(200)],
        "point_id string, lon double, lat double",
    )
    with tempfile.TemporaryDirectory() as d:
        in_dir = os.path.join(d, "in")
        out_dir = os.path.join(d, "out")
        ck_dir = os.path.join(d, "ck")
        # two "arriving" files
        pts.filter(F.col("point_id") < "p2").write.parquet(
            os.path.join(in_dir, "batch1")
        )
        pts.filter(F.col("point_id") >= "p2").write.parquet(
            os.path.join(in_dir, "batch2")
        )
        q = stream_tile_points(
            spark,
            input_dir=in_dir + "/*",
            input_schema="point_id string, lon double, lat double",
            tiles=fx["tiles"],
            output_dir=out_dir,
            checkpoint_dir=ck_dir,
        )
        assert q.awaitTermination(120)

        got = {
            (r["point_id"], r["tile_id"])
            for r in spark.read.parquet(out_dir).collect()
        }
        want = {
            (r["point_id"], r["tile_id"])
            for r in tile_points(pts, fx["tiles"]).collect()
        }
        assert got == want

        # epoch REPLAY (crash after sink write, before checkpoint
        # commit): rerunning the same input with a fresh checkpoint
        # replays epoch 0 — the dynamic epoch-partition overwrite must
        # keep output exactly-once (a blind append would double it)
        n_before = spark.read.parquet(out_dir).count()
        q2 = stream_tile_points(
            spark,
            input_dir=in_dir + "/*",
            input_schema="point_id string, lon double, lat double",
            tiles=fx["tiles"],
            output_dir=out_dir,
            checkpoint_dir=os.path.join(d, "ck2"),
        )
        assert q2.awaitTermination(120)
        assert spark.read.parquet(out_dir).count() == n_before


def test_windowed_counts_batch_twin(spark):
    from lazyosm_spark.streaming.pipeline import windowed_event_counts

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = windowed_event_counts(ev, window="1 hour")
    total = out.agg(F.sum("n")).first()[0]
    assert total == ev.count()
    # window bounds align to the hour
    bad = out.filter(F.minute("win_start") != 0).count()
    assert bad == 0


def test_stream_sessionize_state_spans_restarts(spark):
    """Two availableNow RUNS over the same checkpoint: wave-2 events of
    a session started in wave 1 must continue its session_id (state is
    restored from the checkpoint, not reset).  Result equals the batch
    window sessionization."""
    from pyspark.sql import Window

    from lazyosm_spark.streaming.pipeline import stream_sessionize

    rows = []
    for u in range(6):
        t0 = 1_700_000_000 + u * 50
        # per user: a 3-event session, a gap, then 2 more sessions;
        # the wave split lands INSIDE session 2
        offs = [0, 100, 200, 5000, 5100, 5200, 12000, 12100]
        rows += [(u, u * 100 + j, t0 + o) for j, o in enumerate(offs)]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, epoch long"
    ).select("user_id", "event_id", F.timestamp_seconds("epoch").alias("ts"))

    with tempfile.TemporaryDirectory() as d:
        in_dir, out_dir, ck = (
            os.path.join(d, "in"),
            os.path.join(d, "out"),
            os.path.join(d, "ck"),
        )
        split = 1_700_000_000 + 5100  # mid-session-2 for every user
        ev.filter(F.unix_timestamp("ts") <= split).coalesce(1).write.parquet(
            os.path.join(in_dir, "w1")
        )
        q1 = stream_sessionize(
            spark, in_dir + "/*", "user_id long, event_id long, ts timestamp",
            out_dir, ck,
        )
        assert q1.awaitTermination(120)
        ev.filter(F.unix_timestamp("ts") > split).coalesce(1).write.parquet(
            os.path.join(in_dir, "w2")
        )
        q2 = stream_sessionize(
            spark, in_dir + "/*", "user_id long, event_id long, ts timestamp",
            out_dir, ck,
        )
        assert q2.awaitTermination(120)

        got = {
            (r["user_id"], r["event_id"]): r["session_id"]
            for r in spark.read.parquet(out_dir).collect()
        }
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        batch = ev.withColumn(
            "new_s", F.when(gap.isNull() | (gap > 3600), 1).otherwise(0)
        ).withColumn(
            "session_id",
            F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        want = {
            (r["user_id"], r["event_id"]): r["session_id"]
            for r in batch.collect()
        }
        assert got == want


def test_stream_lsh_bucket_dedup_state_spans_restarts(spark):
    """A wave-2 doc whose minhash buckets were claimed in wave 1 (run 1)
    must be flagged after a restart (run 2, same checkpoint) — the
    bucket ownership lives in the state store, not the batch."""
    from lazyosm_spark.streaming.pipeline import stream_minhash_bucket_dedup

    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "completely different words about harbors ships tides and salt"
    wave1 = [(1, text_a), (2, text_b)]
    wave2 = [(3, text_a), (4, "novel content unlike anything else before here now")]

    with tempfile.TemporaryDirectory() as d:
        in_dir, out_dir, ck = (
            os.path.join(d, "in"), os.path.join(d, "out"), os.path.join(d, "ck"),
        )
        spark.createDataFrame(wave1, "doc_id long, text string").coalesce(1).write.parquet(
            os.path.join(in_dir, "w1")
        )
        q1 = stream_minhash_bucket_dedup(
            spark, in_dir + "/*", "doc_id long, text string", out_dir, ck
        )
        assert q1.awaitTermination(120)
        spark.createDataFrame(wave2, "doc_id long, text string").coalesce(1).write.parquet(
            os.path.join(in_dir, "w2")
        )
        q2 = stream_minhash_bucket_dedup(
            spark, in_dir + "/*", "doc_id long, text string", out_dir, ck
        )
        assert q2.awaitTermination(120)

        flags = {
            r["doc_id"]: r["c"]
            for r in spark.read.parquet(out_dir)
            .groupBy("doc_id")
            .agg(F.max("collided").alias("c"))
            .collect()
        }
        assert flags[1] is False and flags[2] is False  # wave-1 originals
        assert flags[3] is True    # exact dup of doc 1, across the restart
        assert flags[4] is False   # genuinely novel


def test_watermark_drops_late_events(spark):
    """Append-mode watermarked windows: an event arriving in a later
    run, older than the advanced watermark, must NOT change its (long
    closed) window; on-time closed windows match the batch twin over
    the on-time events only."""
    from lazyosm_spark.streaming.pipeline import (
        stream_windowed_counts,
        windowed_event_counts,
    )

    t0 = 1_700_000_000
    wave1 = [
        # two 5-min windows' worth of events, then one 1h-later event
        # that pushes the watermark (t0+3600 - 10min) past both windows
        (1, t0 + 10, "click", 1.0),
        (2, t0 + 20, "click", 1.0),
        (3, t0 + 400, "click", 1.0),
        (4, t0 + 3600, "view", 1.0),
    ]
    wave2 = [
        (5, t0 + 30, "click", 1.0),      # LATE: older than the watermark
        (6, t0 + 7200, "view", 1.0),     # pushes watermark further
        (7, t0 + 10800, "view", 1.0),    # keeps the 2h window pending
    ]

    def df(rows):
        return spark.createDataFrame(
            rows, "event_id long, epoch long, event_type string, value double"
        ).select(
            "event_id", F.timestamp_seconds("epoch").alias("ts"),
            "event_type", "value",
        )

    with tempfile.TemporaryDirectory() as d:
        in_dir, out_dir, ck = (
            os.path.join(d, "in"), os.path.join(d, "out"), os.path.join(d, "ck"),
        )
        df(wave1).coalesce(1).write.parquet(os.path.join(in_dir, "w1"))
        q1 = stream_windowed_counts(
            spark, in_dir + "/*",
            "event_id long, ts timestamp, event_type string, value double",
            out_dir, ck,
        )
        assert q1.awaitTermination(120)
        df(wave2).coalesce(1).write.parquet(os.path.join(in_dir, "w2"))
        q2 = stream_windowed_counts(
            spark, in_dir + "/*",
            "event_id long, ts timestamp, event_type string, value double",
            out_dir, ck,
        )
        assert q2.awaitTermination(120)

        got = {
            (r["win_start"], r["event_type"]): r["n"]
            for r in spark.read.parquet(out_dir).collect()
        }
        # batch twin over ON-TIME events (late event 5 excluded) whose
        # windows closed under the final watermark (t0+10800 - 10min) —
        # event 7's own window is still pending, so it's excluded
        on_time = [r for r in wave1 + wave2 if r[0] != 5]
        final_wm = t0 + 10800 - 600
        want = {
            (r["win_start"], r["event_type"]): r["n"]
            for r in windowed_event_counts(df(on_time)).collect()
            if r["win_end"].timestamp() <= final_wm
        }
        assert got == want
        # the late click (event 5) did not inflate its window
        first_win = [v for (ws, et), v in got.items() if et == "click"]
        assert sum(first_win) == 3  # events 1,2,3 only


def test_stream_exact_dedup_stateful(spark):
    import os
    import tempfile

    from lazyosm_spark.streaming.pipeline import stream_exact_dedup

    docs = spark.createDataFrame(
        [(i, f"text number {i % 7}") for i in range(50)], "doc_id long, text string"
    )
    with tempfile.TemporaryDirectory() as d:
        in_dir, out_dir, ck = (os.path.join(d, x) for x in ("in", "out", "ck"))
        # two arrival waves with overlapping content
        docs.filter(F.col("doc_id") < 20).write.parquet(os.path.join(in_dir, "b1"))
        docs.filter(F.col("doc_id") >= 20).write.parquet(os.path.join(in_dir, "b2"))
        q = stream_exact_dedup(
            spark, in_dir + "/*", "doc_id long, text string", out_dir, ck
        )
        assert q.awaitTermination(120)
        out = spark.read.parquet(out_dir)
        rows = out.collect()
        # exactly one survivor per distinct text (7 distinct)
        assert len(rows) == 7
        assert out.select("text_hash").distinct().count() == 7
        # each survivor is the minimum doc_id of its group in arrival order
        for r in rows:
            assert r["doc_id"] == r["doc_id"] % 7  # ids 0..6 arrived first


def test_stream_pack_sequences_cursor_spans_restarts(spark):
    """Two availableNow RUNS over one checkpoint: wave-2 docs must
    continue each stratum's token cursor from the checkpointed state
    (a doc starting mid-chunk across the restart keeps the global
    offset), equal to a batch per-lang cumsum in doc_id order."""
    from pyspark.sql import Window

    from lazyosm_spark.streaming.pipeline import stream_pack_sequences

    ctx = 64
    rows = [
        (i, ["en", "de"][i % 2], "tok " * ((i * 7) % 40 + 1))
        for i in range(120)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    with tempfile.TemporaryDirectory() as d:
        in_dir, out_dir, ck = (
            os.path.join(d, "in"),
            os.path.join(d, "out"),
            os.path.join(d, "ck"),
        )
        schema = "doc_id long, lang string, text string"
        docs.filter(F.col("doc_id") < 60).coalesce(1).write.parquet(
            os.path.join(in_dir, "w1")
        )
        q1 = stream_pack_sequences(spark, in_dir + "/*", schema, out_dir, ck, ctx_len=ctx)
        assert q1.awaitTermination(120)
        docs.filter(F.col("doc_id") >= 60).coalesce(1).write.parquet(
            os.path.join(in_dir, "w2")
        )
        q2 = stream_pack_sequences(spark, in_dir + "/*", schema, out_dir, ck, ctx_len=ctx)
        assert q2.awaitTermination(120)

        got = {
            r["doc_id"]: (r["lang"], r["seq_id"], r["offset"], r["n_tokens"])
            for r in spark.read.parquet(out_dir).collect()
        }
        from lazyosm_spark.operators.dedup import normalize_text

        w = Window.partitionBy("lang").orderBy("doc_id")
        batch = docs.select(
            "doc_id",
            "lang",
            F.size(F.split(normalize_text("text"), " ")).cast("long").alias("n_tokens"),
        ).withColumn("cum", F.sum("n_tokens").over(w))
        want = {
            r["doc_id"]: (
                r["lang"],
                (r["cum"] - r["n_tokens"]) // ctx,
                (r["cum"] - r["n_tokens"]) % ctx,
                r["n_tokens"],
            )
            for r in batch.collect()
        }
        assert got == want and len(got) == 120


def test_stream_tokenize_pack_matches_batch(spark):
    """Raw text -> BPE ids -> packed sequences STREAMING across a
    restart: the per-stratum cursor spans waves and every n_tokens is
    the real vocabulary tokenization — equal to the batch per-lang
    cumsum over tokenize() output."""
    from pyspark.sql import Window

    from lazyosm_spark.operators.tokenize import tokenize
    from lazyosm_spark.streaming.pipeline import stream_tokenize_pack

    ctx = 64
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = base.select("doc_id", "lang", "text").filter(F.col("doc_id") < 120)

    with tempfile.TemporaryDirectory() as d:
        in_dir, out_dir, ck = (
            os.path.join(d, "in"),
            os.path.join(d, "out"),
            os.path.join(d, "ck"),
        )
        schema = "doc_id long, lang string, text string"
        docs.filter(F.col("doc_id") < 60).coalesce(1).write.parquet(
            os.path.join(in_dir, "w1")
        )
        q1 = stream_tokenize_pack(spark, in_dir + "/*", schema, out_dir, ck, ctx_len=ctx)
        assert q1.awaitTermination(120)
        docs.filter(F.col("doc_id") >= 60).coalesce(1).write.parquet(
            os.path.join(in_dir, "w2")
        )
        q2 = stream_tokenize_pack(spark, in_dir + "/*", schema, out_dir, ck, ctx_len=ctx)
        assert q2.awaitTermination(120)

        got = {
            r["doc_id"]: (r["lang"], r["seq_id"], r["offset"], r["n_tokens"])
            for r in spark.read.parquet(out_dir).collect()
        }
        w = Window.partitionBy("lang").orderBy("doc_id")
        batch = tokenize(docs, extra_cols=("lang",)).withColumn(
            "cum", F.sum("n_tokens").over(w)
        )
        want = {
            r["doc_id"]: (
                r["lang"],
                (r["cum"] - r["n_tokens"]) // ctx,
                (r["cum"] - r["n_tokens"]) % ctx,
                r["n_tokens"],
            )
            for r in batch.collect()
        }
        assert got == want and len(got) == 120


def test_stream_decontaminate_equals_batch(spark, tmp_path):
    """Two arrival waves through the streaming decontaminator produce
    exactly the batch operator's per-doc stats (spans never cross
    documents, so streaming is semantically exact)."""
    import os

    from pyspark.sql import functions as F

    from lazyosm_spark.operators.spans import contamination
    from lazyosm_spark.operators.tokenize import tokenize
    from lazyosm_spark.streaming.pipeline import stream_decontaminate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    ev = tokenize(docs.filter(F.col("doc_id") % 10 == 0))
    batch = {
        r["doc_id"]: (r["n_tokens"], r["n_hit_spans"], r["hit_tokens"])
        for r in contamination(tokenize(docs), ev, span_len=6).collect()
    }
    d = str(tmp_path)
    docs.filter("doc_id % 2 = 0").write.parquet(os.path.join(d, "in", "w1"))
    docs.filter("doc_id % 2 = 1").write.parquet(os.path.join(d, "in", "w2"))
    q = stream_decontaminate(
        spark, os.path.join(d, "in") + "/*", "doc_id long, text string",
        ev, os.path.join(d, "out"), os.path.join(d, "ck"), span_len=6,
    )
    assert q.awaitTermination(240)
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_hit_spans"], r["hit_tokens"])
        for r in spark.read.parquet(os.path.join(d, "out")).collect()
    }
    assert got == batch
    assert any(v[1] > 0 for v in got.values())  # eval docs really flagged


@pytest.mark.parametrize("name", STREAM_QUERIES)
def test_streaming_query_matches_oracle(spark, name, tmp_path, monkeypatch):
    """Each streaming driver query equals its oracle SQL on DuckDB (at
    sf0.01, the scale of the golden tiling and BPE oracles), stops its
    stream, and leaves nothing in the temp dir but the process's one
    stream root."""
    from lazyosm_spark.plans import driver_queries as dq
    from tools.compare_driver import SF_DIR, compare, oracle_connection

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    got = dq.all_queries()[name](spark, SF_DIR).toPandas()
    assert spark.streams.active == []
    left = os.listdir(tmp_path)
    assert len(left) <= 1, left
    assert all(n.startswith("spark_graft_streams_") for n in left), left
    con = oracle_connection()
    want = con.sql(dq.ORACLES[name]).df()
    assert len(got) > 0
    assert compare(got, want) == []


def test_run_stream_timeout_stops_query(spark):
    """A stream that does not finish in time is stopped and raises —
    the query never reads its partial output."""
    from lazyosm_spark.plans.driver_queries import _run_stream

    class HungQuery:
        id = "hung"
        stopped = False

        def awaitTermination(self, timeout):
            return False

        def stop(self):
            self.stopped = True

    q = HungQuery()
    with pytest.raises(TimeoutError):
        _run_stream([spark.range(3)], lambda *paths: q)
    assert q.stopped
