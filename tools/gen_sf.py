"""Deterministic sf1-tier synthesis by key-offset replication of the
driver testdata (TESTDATA.md): each fact table becomes ``factor``
copies with every key family shifted by copy * (family max + 1), so
join fan-outs, group sizes, and key uniqueness match a genuinely
larger dataset instead of multiplying duplicate keys.  Dimension
tables (region, nation) stay fixed, TPC-H style.  Document text gets a
per-copy suffix token so the corpus does not become 10x exact
duplicates.  Output is parquet under .bench_sf1/ (gitignored; rebuilt
on demand, byte-deterministic given the source dir).

Usage: python tools/gen_sf.py [src_sf_dir] [out_dir] [factor]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_OUT = os.path.join(REPO, ".bench_sf1")

# column -> key family; members of one family share an offset so
# foreign keys keep resolving across copies
KEY_FAMILIES = {
    "l_orderkey": "orderkey",
    "o_orderkey": "orderkey",
    "l_partkey": "partkey",
    "p_partkey": "partkey",
    "l_suppkey": "suppkey",
    "s_suppkey": "suppkey",
    "c_custkey": "custkey",
    "o_custkey": "custkey",
    "doc_id": "doc",
    "vec_id": "vec",
    "event_id": "event",
    "user_id": "user",
}
REPLICATED = [
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
COPIED = ["region", "nation"]


def generate(
    spark, src: str = "/root/testdata/sf0.1", out: str = DEFAULT_OUT, factor: int = 10
) -> str:
    from pyspark.sql import functions as F

    done = os.path.join(out, "_DONE")
    stamp = f"src={src} factor={factor}\n"
    if os.path.exists(done):
        # the sentinel records WHAT was generated; a mismatch with the
        # requested (src, factor) regenerates instead of silently
        # serving stale data at the wrong scale
        with open(done) as f:
            if f.read() == stamp:
                return out
        import shutil

        shutil.rmtree(out)
    os.makedirs(out, exist_ok=True)
    # family offsets = max over every member column present in src
    offsets: dict[str, int] = {}
    for t in REPLICATED:
        df = spark.read.parquet(os.path.join(src, f"{t}.parquet"))
        for c in df.columns:
            fam = KEY_FAMILIES.get(c)
            if fam:
                mx = df.agg(F.max(c)).first()[0] or 0
                offsets[fam] = max(offsets.get(fam, 0), int(mx) + 1)
    for t in COPIED:
        spark.read.parquet(os.path.join(src, f"{t}.parquet")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, f"{t}.parquet"))
    for t in REPLICATED:
        df = spark.read.parquet(os.path.join(src, f"{t}.parquet"))
        rep = df.withColumn(
            "_c", F.explode(F.array(*[F.lit(i) for i in range(factor)]))
        )
        for c in df.columns:
            fam = KEY_FAMILIES.get(c)
            if fam:
                dt = dict(df.dtypes)[c]
                rep = rep.withColumn(
                    c, (F.col(c) + F.col("_c") * F.lit(offsets[fam])).cast(dt)
                )
        if t == "documents":
            rep = rep.withColumn(
                "text", F.concat(F.col("text"), F.lit(" c"), F.col("_c").cast("string"))
            )
        rep.drop("_c").repartition(32).write.mode("overwrite").parquet(
            os.path.join(out, f"{t}.parquet")
        )
    with open(done, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    from lazyosm_spark import get_spark

    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else DEFAULT_OUT
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    print(generate(spark, src, out, factor))
