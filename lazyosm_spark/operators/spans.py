"""Token-span exact-duplicate detection: flag every fixed-length run of
token ids that occurs more than once in the corpus and report per-doc
duplicated-token coverage.

This is the Spark-idiomatic reduction of suffix-array substring dedup
(Lee et al. 2022, "Deduplicating Training Data Makes Language Models
Better"): for a FIXED span length L the duplicated-substring relation
is an equi-group on the L-token window, so the global suffix array
dissolves into one shuffle on a 64-bit span hash — no corpus-wide
sort, no index build, and the span stream is ~one row per corpus
token.  Composes with operators/tokenize (raw text -> ids) upstream
and exact_dedup / corpus_filter downstream (`dup_frac` is the usual
removal signal).

Design for 100 TB:
- span enumeration is a pure JVM expression (sequence + transform +
  slice + xxhash64) inside whole-stage codegen — no Python round trip
  and no intermediate array materialization beyond the row;
- the duplicate test is a count window over the span hash: ONE shuffle
  keyed on a uniform 64-bit hash (no skew by construction — xxhash64
  equidistributes; only a span literally repeated ~10^9 times would
  concentrate a key, and such spans are exactly what min_count flags);
- per-doc coverage is an interval union via one lead() window
  (positions are strictly increasing within a doc, so overlap folding
  is `least(next_pos, pos+L) - pos`), and the final groupBy reuses the
  window's doc_id hash partitioning — no extra exchange.

Hash grouping is exact up to 64-bit xxhash collisions (~n_spans^2/2^65
expected false merges, zero at any realistic corpus size); tests pin
results against the INDEPENDENT set-union oracle in
tests/oracle/span_ref.py.

The reference has no tokenizer or span machinery (engine growth beyond
reference parity, like the streaming family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _span_stream(
    df: DataFrame, ids_col: str, L: int, id_col: str | None = None
) -> DataFrame:
    """(id_col?, pos, h): one row per L-token span, h = xxhash64 of the
    slice — the single definition both operators hash spans with."""
    expr = (
        f"CASE WHEN size({ids_col}) >= {L} THEN "
        f"transform(sequence(1, size({ids_col}) - {L} + 1), "
        f"i -> struct(i AS pos, xxhash64(slice({ids_col}, i, {L})) AS h)) "
        f"ELSE CAST(array() AS array<struct<pos:int,h:bigint>>) END"
    )
    cols = [F.col(id_col)] if id_col else []
    return df.select(*cols, F.explode(F.expr(expr)).alias("s")).select(
        *([id_col] if id_col else []),
        F.col("s.pos").alias("pos"),
        F.col("s.h").alias("h"),
    )


def _coverage_agg(hits: DataFrame, id_col: str, L: int) -> DataFrame:
    """Interval union of the [pos, pos+L) windows per doc: positions
    strictly increase within a doc, so one lead() folds overlaps.
    -> (id_col, spans, toks)."""
    nxt = F.lead("pos").over(Window.partitionBy(id_col).orderBy("pos"))
    return (
        hits.withColumn(
            "covered",
            F.least(F.coalesce(nxt, F.col("pos") + L), F.col("pos") + L)
            - F.col("pos"),
        )
        .groupBy(id_col)
        .agg(
            F.count("*").alias("spans"),
            F.sum("covered").cast("long").alias("toks"),
        )
    )


def _finalize(
    tok: DataFrame,
    sizes: DataFrame | None,
    agg: DataFrame,
    id_col: str,
    ids_col: str,
    spans_name: str,
    toks_name: str,
    frac_name: str,
) -> DataFrame:
    """Left-join the coverage agg onto the per-doc token counts and
    emit the zero-filled counts + the guarded ratio."""
    if sizes is not None:
        base = sizes.select(id_col, F.col("n_tokens").cast("long").alias("n_tokens"))
    else:
        base = tok.select(id_col, F.size(ids_col).cast("long").alias("n_tokens"))
    out = (
        base.join(agg, on=id_col, how="left")
        .withColumn(spans_name, F.coalesce("spans", F.lit(0)).cast("long"))
        .withColumn(toks_name, F.coalesce("toks", F.lit(0)).cast("long"))
    )
    return out.select(
        id_col,
        "n_tokens",
        spans_name,
        toks_name,
        F.when(
            F.col("n_tokens") > 0,
            F.col(toks_name).cast("double") / F.col("n_tokens"),
        )
        .otherwise(F.lit(0.0))
        .alias(frac_name),
    )


def duplicate_spans(
    tok: DataFrame,
    span_len: int = 50,
    id_col: str = "doc_id",
    ids_col: str = "token_ids",
    min_count: int = 2,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """-> (id_col, n_tokens, n_dup_spans, dup_tokens, dup_frac).

    ``n_dup_spans``: how many of the doc's spans (start positions) are
    duplicated corpus-wide (>= min_count total occurrences, the doc's
    own included — a span repeated within one doc counts, as in the
    reference formulation).  ``dup_tokens``: tokens covered by the
    union of those spans.  ``dup_frac``: dup_tokens / n_tokens (0.0
    for empty docs).  Docs with no duplicated span appear with zeros.

    ``tok`` is consumed twice (the span stream and the per-doc token
    counts) — when it is an expensive computation (e.g. a live
    tokenize() UDF, not a persisted table), pass ``sizes`` =
    (id_col, n_tokens:long) computed upstream (tokenize() already
    emits n_tokens; lineage/catalog stats work too) so the second pass
    reads a two-column frame instead of re-running the tokenizer —
    the same caller-hint pattern as bloom_semi_join(n_keys=) and
    grid_knn(n_points=).
    """
    if span_len < 1:
        raise ValueError(f"span_len must be >= 1, got {span_len}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    L = int(span_len)
    sp = _span_stream(tok, ids_col, L, id_col)
    hits = (
        sp.withColumn("cnt", F.count("*").over(Window.partitionBy("h")))
        .filter(F.col("cnt") >= int(min_count))
        .drop("cnt")
    )
    agg = _coverage_agg(hits, id_col, L)
    return _finalize(
        tok, sizes, agg, id_col, ids_col, "n_dup_spans", "dup_tokens", "dup_frac"
    )


def contamination(
    tok: DataFrame,
    eval_tok: DataFrame,
    span_len: int = 13,
    id_col: str = "doc_id",
    ids_col: str = "token_ids",
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Eval-set decontamination (the GPT-3-style n-gram overlap check,
    Brown et al. 2020 appendix C — 13-gram collisions): flag every
    corpus document sharing ANY ``span_len``-token run with the eval
    set.  -> (id_col, n_tokens, n_hit_spans, hit_tokens, hit_frac);
    clean docs appear with zeros.

    Scale shape (better than duplicate_spans): the eval side is small
    by definition, so its distinct span hashes broadcast and the
    corpus span stream is filtered IN PLACE — the only shuffle is the
    per-doc fold on doc_id.  For an eval set too large to broadcast,
    bloom_semi_join(corpus_spans, eval_spans, "h") drops in as the
    pre-shuffle filter.  ``sizes`` as in duplicate_spans.
    """
    if span_len < 1:
        raise ValueError(f"span_len must be >= 1, got {span_len}")
    L = int(span_len)
    eval_hashes = F.broadcast(
        _span_stream(eval_tok, ids_col, L).select("h").distinct()
    )
    hits = _span_stream(tok, ids_col, L, id_col).join(
        eval_hashes, on="h", how="left_semi"
    )
    agg = _coverage_agg(hits, id_col, L)
    return _finalize(
        tok, sizes, agg, id_col, ids_col, "n_hit_spans", "hit_tokens", "hit_frac"
    )


def contamination_sql(
    tok_table: str,
    eval_table: str,
    span_len: int = 13,
    id_col: str = "doc_id",
    ids_expr: str = "ids",
) -> str:
    """DuckDB twin of ``contamination``: exact span-list matching (the
    engine matches 64-bit hashes — identical absent a 2^-64
    collision), formula-identical coverage math.  ``eval_table`` must
    expose the same (id_col, ids_expr) shape as ``tok_table``."""
    L = int(span_len)
    return f"""
WITH toks AS (
  SELECT {id_col}, {ids_expr} AS ids FROM {tok_table}
),
espans AS (
  SELECT DISTINCT list_slice(ids, i, i + {L} - 1) AS span
  FROM (SELECT {ids_expr} AS ids FROM {eval_table}),
       UNNEST(generate_series(1, len(ids) - {L} + 1)) AS t(i)
  WHERE len(ids) >= {L}
),
spans AS (
  SELECT {id_col}, i AS pos, list_slice(ids, i, i + {L} - 1) AS span
  FROM toks, UNNEST(generate_series(1, len(ids) - {L} + 1)) AS t(i)
  WHERE len(ids) >= {L}
),
cov AS (
  SELECT s.{id_col}, s.pos,
         least(coalesce(lead(s.pos) OVER (PARTITION BY s.{id_col} ORDER BY s.pos),
                        s.pos + {L}), s.pos + {L}) - s.pos AS covered
  FROM spans s JOIN espans e ON s.span = e.span
),
agg AS (
  SELECT {id_col}, count(*) AS hit_spans, sum(covered) AS hit_toks
  FROM cov GROUP BY {id_col}
)
SELECT t.{id_col},
       CAST(len(t.ids) AS BIGINT) AS n_tokens,
       CAST(coalesce(a.hit_spans, 0) AS BIGINT) AS n_hit_spans,
       CAST(coalesce(a.hit_toks, 0) AS BIGINT) AS hit_tokens,
       CASE WHEN len(t.ids) > 0
            THEN CAST(coalesce(a.hit_toks, 0) AS DOUBLE) / CAST(len(t.ids) AS BIGINT)
            ELSE 0.0 END AS hit_frac
FROM toks t LEFT JOIN agg a ON t.{id_col} = a.{id_col}
"""


def duplicate_spans_sql(
    tok_table: str,
    span_len: int = 50,
    min_count: int = 2,
    id_col: str = "doc_id",
    ids_expr: str = "ids",
) -> str:
    """DuckDB twin with the formula-identical coverage/ratio math.
    ``tok_table`` must expose (id_col, ids_expr as INT list); grouping
    is on the exact span LIST (collision-free), the engine on its
    64-bit hash — identical results absent a 2^-64 xxhash collision.
    """
    L = int(span_len)
    return f"""
WITH toks AS (
  SELECT {id_col}, {ids_expr} AS ids FROM {tok_table}
),
spans AS (
  SELECT {id_col}, i AS pos, list_slice(ids, i, i + {L} - 1) AS span
  FROM toks, UNNEST(generate_series(1, len(ids) - {L} + 1)) AS t(i)
  WHERE len(ids) >= {L}
),
dup AS (
  SELECT span FROM spans GROUP BY span HAVING count(*) >= {int(min_count)}
),
cov AS (
  SELECT s.{id_col}, s.pos,
         least(coalesce(lead(s.pos) OVER (PARTITION BY s.{id_col} ORDER BY s.pos),
                        s.pos + {L}), s.pos + {L}) - s.pos AS covered
  FROM spans s JOIN dup d ON s.span = d.span
),
agg AS (
  SELECT {id_col}, count(*) AS dup_spans, sum(covered) AS dup_toks
  FROM cov GROUP BY {id_col}
)
SELECT t.{id_col},
       CAST(len(t.ids) AS BIGINT) AS n_tokens,
       CAST(coalesce(a.dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(coalesce(a.dup_toks, 0) AS BIGINT) AS dup_tokens,
       CASE WHEN len(t.ids) > 0
            THEN CAST(coalesce(a.dup_toks, 0) AS DOUBLE) / CAST(len(t.ids) AS BIGINT)
            ELSE 0.0 END AS dup_frac
FROM toks t LEFT JOIN agg a ON t.{id_col} = a.{id_col}
"""
