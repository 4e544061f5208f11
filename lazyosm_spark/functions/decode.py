"""Entity decode transforms: delta / zigzag / dictionary.

Re-expresses the reference's hand-rolled decoders as Spark columnar
transforms (SURVEY.md §2.8, §2.5 W1):

- delta decode (prefix sum over intra-row arrays) — reference
  ``process.go:40-49`` (way refs), ``process.go:131-137`` (dense nodes),
  ``relation_handler.go:138-154`` (relation memids)
- zigzag decode — reference uses murphy214/pbf ``ReadSVarint``
- interleaved ``[k,v,...,0]`` tag unpack — ``densenode.go:46-79``
- stringtable (dictionary) lookup — ``process.go:105-113``
- round half-away-from-zero to 6 dp — ``relation_handler.go:25-41``
  (applied ONLY to relation ring coords, not ways/nodes)

Arrays stay intra-row, so the prefix sum is a vectorized Arrow batch
op (one np.cumsum over the flattened batch), not a shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _flat_cumsum(s: pd.Series) -> pd.Series:
    """Vectorized per-array cumsum: one concatenate + one cumsum per
    Arrow batch, then re-split.  No per-row Python loop."""
    arrs = [np.asarray(a, dtype=np.int64) for a in s]
    lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=len(arrs))
    if lens.sum() == 0:
        return pd.Series([np.array([], dtype=np.int64)] * len(arrs))
    flat = np.concatenate(arrs) if arrs else np.array([], dtype=np.int64)
    csum = np.cumsum(flat)
    ends = np.cumsum(lens)
    # running total of everything BEFORE each array starts, repeated per
    # element so each array's cumsum restarts at its own first element
    first_idx = ends - lens  # flat start index of each array
    start_totals = np.where(first_idx > 0, csum[np.maximum(first_idx - 1, 0)], 0)
    starts = np.repeat(start_totals, lens)
    split = np.split(csum - starts, ends[:-1])
    return pd.Series(split)


@F.pandas_udf(T.ArrayType(T.LongType()))
def delta_decode(deltas: pd.Series) -> pd.Series:
    """array<long> of deltas -> array<long> of absolute values (cumsum)."""
    return _flat_cumsum(deltas)


def zigzag_decode(col) -> Column:
    """(v >> 1) ^ -(v & 1) — signed zigzag, pure JVM bitwise."""
    c = col if isinstance(col, Column) else F.col(col)
    c = c.cast("long")
    return F.shiftright(c, 1).bitwiseXOR(-(c.bitwiseAND(F.lit(1).cast("long"))))


def zigzag_encode(col) -> Column:
    c = col if isinstance(col, Column) else F.col(col)
    c = c.cast("long")
    return F.shiftleft(c, 1).bitwiseXOR(F.shiftright(c, 63))


def round_ref(col, places: int = 6) -> Column:
    """The reference's exact Round semantics (relation_handler.go:25-37).

    Go: ``_, div := math.Modf(digit); if div >= 0.5 ceil else floor``.
    Modf's fractional part carries the sign of ``digit``, so negatives
    NEVER satisfy ``div >= 0.5``: positives round half-up, negatives
    always floor toward -inf (for any nonzero fraction).  This is
    neither banker's nor half-away-from-zero — it must be reproduced
    verbatim for fixture parity.  Applied only to relation ring coords
    (relation_handler.go:446,455), never to way/node coords.
    """
    c = col if isinstance(col, Column) else F.col(col)
    p = float(10**places)
    digit = c * F.lit(p)
    frac = digit - digit.cast("long").cast("double")  # trunc toward zero
    return F.when(frac >= 0.5, F.ceil(digit)).otherwise(F.floor(digit)).cast(
        "double"
    ) / F.lit(p)


def round_ref_sql(expr: str, places: int = 6) -> str:
    """DuckDB-oracle twin of round_ref (same Modf-sign quirk)."""
    p = 10**places
    d = f"(({expr}) * {p})"
    return (
        f"((CASE WHEN ({d} - trunc({d})) >= 0.5 THEN ceil({d}) "
        f"ELSE floor({d}) END) / {p})"
    )


def lookup_stringtable(idx_array, stringtable) -> Column:
    """Dictionary decode: indices -> strings via per-row stringtable
    (process.go:105-113).  element_at is 1-based; stringtable index 0
    is the reserved blank, so physical index i maps to element i+1."""
    idxs = idx_array if isinstance(idx_array, Column) else F.col(idx_array)
    st = stringtable if isinstance(stringtable, Column) else F.col(stringtable)
    return F.transform(idxs, lambda i: F.element_at(st, i.cast("int") + 1))


def tags_from_keys_vals(keys, vals, stringtable) -> Column:
    """(keys[], vals[], stringtable[]) -> map<string,string> (way tags)."""
    return F.map_from_arrays(
        lookup_stringtable(keys, stringtable), lookup_stringtable(vals, stringtable)
    )


@F.pandas_udf(T.ArrayType(T.MapType(T.StringType(), T.StringType())))
def unpack_dense_tags(keys_vals: pd.Series, stringtable: pd.Series) -> pd.Series:
    """DenseNodes interleaved ``[k,v,k,v,...,0]`` stream -> one tag map
    per node (densenode.go:46-79).  Vectorized: numpy split on the 0
    terminators per block row; dictionary lookup via np.take."""
    out = []
    for kv, st in zip(keys_vals, stringtable):
        kv = np.asarray(kv, dtype=np.int64)
        st = np.asarray(st, dtype=object)
        if kv.size == 0:
            out.append([])
            continue
        # terminator positions split the stream into per-node segments
        term = np.flatnonzero(kv == 0)
        segs = np.split(kv, term)
        maps = []
        for seg in segs[: len(term)]:  # last split after final 0 is empty
            seg = seg[seg != 0]
            if seg.size == 0:
                maps.append({})
            else:
                ks = np.take(st, seg[0::2])
                vs = np.take(st, seg[1::2])
                maps.append(dict(zip(ks.tolist(), vs.tolist())))
        out.append(maps)
    return pd.Series(out)
