"""Local replica of the driver's correctness gate: run every
queries()[name] on Spark and oracle_sql()[name] on DuckDB at sf0.01,
compare row count, column names, and order-insensitive values.

Usage: python tools/compare_driver.py [name ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """The driver's equality gate on a Spark result and its DuckDB
    oracle: column names, row count, then order-insensitive values
    (floats must match exactly).  -> the differences found, empty when
    the two agree."""
    a, b = canon(sdf), canon(odf)
    if list(a.columns) != list(b.columns):
        return [f"columns {list(a.columns)} vs {list(b.columns)}"]
    if len(a) != len(b):
        return [f"rows {len(a)} vs {len(b)}"]
    diffs = []
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            av = av.astype(float)
            bv = bv.astype(float)
            both_nan = av.isna() & bv.isna()
            if not (np.isclose(av, bv, rtol=0, atol=0, equal_nan=True) | both_nan).all():
                bad = (~np.isclose(av, bv, equal_nan=True)).idxmax()
                diffs.append(f"col {c}: first diff row {bad}: {av[bad]!r} vs {bv[bad]!r}")
        elif not (av.astype(str) == bv.astype(str)).all():
            bad = (av.astype(str) != bv.astype(str)).idxmax()
            diffs.append(f"col {c}: first diff row {bad}: {av[bad]!r} vs {bv[bad]!r}")
    return diffs


def oracle_connection(sf_dir: str = SF_DIR) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per driver table of ``sf_dir``
    — the names every oracle SQL reads."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def main() -> None:
    import __spark_entry__ as e
    from lazyosm_spark import get_spark

    spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = oracle_connection()

    qs, oracles = e.queries(), e.oracle_sql()
    only = set(sys.argv[1:])
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {str(ex)[:2000]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            n_rowsonly += 1
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {str(ex)[:2000]}")
            n_fail += 1
            continue
        diffs = compare(sdf, odf)
        if diffs:
            print(f"FAIL  {name}: {'; '.join(diffs)}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")


if __name__ == "__main__":
    main()
