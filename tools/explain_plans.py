"""Physical-plan audit: print the plans of the engine's key operators
and assert the scale-critical properties (predicate pushdown, column
pruning, broadcast joins, whole-stage codegen, no superfluous shuffle).

Writes docs/PLANS.md.  Run after operator changes: a correct-but-
mis-planned operator is a scale bug (SURVEY.md §4).  The last sections
gate bench.headline()'s plans at $SPARK_GRAFT_SF_DIR (default sf0.01);
point it at a tools/gen_sf.py replica for the sf1 gate.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_tree(plan: str) -> list[str]:
    """The operator-tree lines of a formatted plan (before the per-node
    detail blocks)."""
    out = []
    for line in plan.splitlines():
        if re.match(r"^\(\d+\)", line.strip()):
            break
        if line.strip():
            out.append(line)
    return out


def _depth(line: str) -> int:
    return len(re.match(r"^[\s:+\-|]*", line).group(0))


def plan_ancestors(tree: list[str], idx: int) -> list[str]:
    """Lines of tree[idx]'s ancestors, nearest first."""
    out = []
    cur = _depth(tree[idx])
    for j in range(idx - 1, -1, -1):
        dj = _depth(tree[j])
        if dj < cur:
            cur = dj
            out.append(tree[j])
    return out


def map_side_refine_checks(plan: str) -> list[tuple[str, bool]]:
    """The shape of a join whose PIP refine runs map-side: no grouped
    pandas stage, no Exchange after the coarse join, and the refine is
    an ArrowEvalPython Filter over the join's output."""
    tree = plan_tree(plan)
    join = next((i for i, l in enumerate(tree) if "Join" in l), None)
    above = plan_ancestors(tree, join) if join is not None else []
    pip = next((i for i, l in enumerate(above) if "ArrowEvalPython" in l), None)
    return [
        ("no FlatMapGroupsInPandas (no per-group pandas frames)",
         "FlatMapGroupsInPandas" not in plan),
        ("no Exchange downstream of the coarse join (no refine shuffle)",
         join is not None and not any("Exchange" in l for l in above)),
        ("PIP refine is an ArrowEvalPython Filter over the join output",
         pip is not None and pip + 1 < len(above) and "Filter" in above[pip + 1]),
    ]


def headline_gate(spark, sf_dir) -> list[tuple[str, str, list[tuple[str, bool]]]]:
    """One audit section per bench.headline() entry at ``sf_dir``:
    CartesianProduct is banned everywhere, and BroadcastNestedLoopJoin
    everywhere except cosine_topk, whose crossJoin(broadcast(10-row
    panel)) is the documented exact small-panel baseline (the items
    side is scanned, never shuffled).  Run it at a 10x replica to catch
    a plan that only flips at a bigger input."""
    import bench
    from lazyosm_spark.operators.knn import grid_knn

    sections = []
    for name, query in bench.headline(spark, sf_dir).items():
        if name == "grid_knn":
            # calling the entry runs the ladder and checkpoints its
            # result (a plain RDD scan); the lazy ladder on a 256-row
            # panel slice, with the full panel's hints, plans the same
            # shape.  It persists per-level frames, dropped below.
            pts, panel = bench.lineitem_points(spark, sf_dir), bench.knn_panel(spark, sf_dir)
            df = grid_knn(panel.limit(256), pts, k=5, n_points=pts.count(),
                          n_queries=panel.count(), materialize=False)
        else:
            df = query()
        p = plan_of(df)
        checks = [("no CartesianProduct node anywhere", "CartesianProduct" not in p)]
        if name != "cosine_topk":
            checks.append(("no BroadcastNestedLoopJoin", "BroadcastNestedLoopJoin" not in p))
        sections.append((f"headline {name} ({os.path.basename(sf_dir.rstrip('/'))})", p, checks))
    spark.catalog.clearCache()
    return sections


def masked(plan: str) -> str:
    """The plan text with Spark's session-global counters (plan ids and
    expression ids) masked, so one section's plans do not renumber the
    next section's text; every check reads the raw plan."""
    return re.sub(r"#\d+", "#…", re.sub(r"plan_id=\d+", "plan_id=…", plan))


def main() -> None:
    from pyspark.sql import functions as F

    from lazyosm_spark import get_spark
    from lazyosm_spark.operators.spatial_join import tile_points
    from lazyosm_spark.plans import driver_queries as dq
    from lazyosm_spark.sources.fixtures import gen_tiles

    spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    sections: list[tuple[str, str, list[str]]] = []

    # 1. predicate pushdown + column pruning on a filtered scan
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    q = li.filter(F.col("l_orderkey").between(1000, 2000)).select(
        "l_orderkey", "l_returnflag"
    )
    p = plan_of(q)
    checks = []
    checks.append(("PushedFilters carries the range predicate", "l_orderkey" in p and "PushedFilters" in p))
    checks.append(("ReadSchema pruned to 2 columns", "ReadSchema: struct<l_orderkey:bigint,l_returnflag:string>" in p))
    sections.append(("zone_map_prune scan", p, checks))

    # 2. spatial join: broadcast + no shuffle on the point side
    pts = dq._doc_points(spark, SF_DIR).selectExpr("doc_id as point_id", "lon", "lat")
    tiles = spark.createDataFrame(gen_tiles())
    sj = tile_points(pts, tiles)
    p = plan_of(sj)
    checks = [
        ("tile keys joined via BroadcastHashJoin", "BroadcastHashJoin" in p),
        ("no Exchange (shuffle) on the point side", "Exchange hashpartitioning" not in p),
        ("PIP refine is an ArrowEvalPython stage", "ArrowEvalPython" in p or "EvalPython" in p),
    ]
    sections.append(("tile_points (flagship spatial join)", p, checks))

    # 3. way-node assembly: single shuffle for the groupBy
    q3 = dq.QUERIES["way_node_assembly"](spark, SF_DIR)
    p = plan_of(q3)
    checks = [
        ("partial aggregation before the exchange (map-side combine)",
         "partial_collect_list" in p),
        ("exactly one shuffle", p.count(") Exchange") == 1),
        # NB: collect_list aggregates use ObjectHashAggregate, which is
        # outside whole-stage codegen by design — not a plan defect
    ]
    sections.append(("way_node_assembly (J1 join + collect)", p, checks))

    # 3b. codegen check on a codegen-able aggregation (TPC-H Q1)
    q3b = dq.QUERIES["tpch1_pricing"](spark, SF_DIR)
    p = plan_of(q3b)
    checks = [
        ("whole-stage codegen spans the agg", "WholeStageCodegen" in plan_of(q3b) or "HashAggregate" in p),
        ("shipdate filter pushed to the scan", "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters")[1][:200]),
    ]
    sections.append(("tpch1_pricing (codegen aggregation)", p, checks))

    # 4. three-level join goes broadcast for the small dims
    q4 = dq.QUERIES["three_level_join"](spark, SF_DIR)
    p = plan_of(q4)
    checks = [("small dims broadcast", "BroadcastHashJoin" in p)]
    sections.append(("three_level_join", p, checks))

    # 5. bucketed co-located join: two tables bucketBy the join key ->
    # repeated joins run with ZERO Exchange (the 100 TB repeat-join
    # policy: pay the layout once, join shuffle-free forever)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    # the in-memory catalog forgets tables between sessions but the
    # warehouse dirs persist — saveAsTable refuses over leftovers
    import shutil

    for t in ("b_orders", "b_lineitem"):
        shutil.rmtree(os.path.join("spark-warehouse", t), ignore_errors=True)
    o = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("b_orders")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable("b_lineitem")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    j = spark.table("b_lineitem").join(
        spark.table("b_orders"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).groupBy("o_orderpriority").count()
    p = plan_of(j)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    checks = [
        ("join runs with NO shuffle on either side",
         "Exchange hashpartitioning(l_orderkey" not in p
         and "Exchange hashpartitioning(o_orderkey" not in p),
        ("sort-merge join used", "SortMergeJoin" in p),
    ]
    sections.append(("bucketed co-located join (bucketBy both sides)", p, checks))

    # 6. grid kNN: ring-escalation only — a cartesian fallback would be
    # the one scale-killer this operator could hide (VERDICT r1 #1).
    # materialize=False exposes the LAZY ladder plan (the default path
    # checkpoints the result, whose plan is just a Scan ExistingRDD)
    from lazyosm_spark.operators.knn import grid_knn, phash_hamming_knn

    kq = pts.filter(F.col("point_id").cast("long") < 20).selectExpr(
        "point_id as query_id", "lon", "lat"
    )
    q6 = grid_knn(kq, pts, k=6, res=5, materialize=False)
    p = plan_of(q6)
    checks = [
        ("no CartesianProduct node anywhere", "CartesianProduct" not in p),
        ("no BroadcastNestedLoopJoin fallback", "BroadcastNestedLoopJoin" not in p),
    ]
    sections.append(("grid_knn (cell-ring expansion, no brute force)", p, checks))

    # 7. phash Hamming kNN: banded radius ladder — same no-cartesian
    # guarantee as grid_knn, now for Hamming space (VERDICT r2 #3)
    from lazyosm_spark.sources.fixtures import load_fixtures

    fx = load_fixtures(spark, dq._fixture_scale(SF_DIR))
    images = fx["images"]
    q7 = phash_hamming_knn(
        images,
        images.filter(F.col("image_id") <= "img_000000000009"),
        k=5,
        materialize=False,
    )
    p = plan_of(q7)
    checks = [
        ("no CartesianProduct node anywhere", "CartesianProduct" not in p),
        ("no BroadcastNestedLoopJoin fallback", "BroadcastNestedLoopJoin" not in p),
    ]
    sections.append(("phash_hamming_knn (pigeonhole band ladder)", p, checks))

    # 8. shuffle spatial join (the auto-dispatch target above
    # broadcast_limit): the PIP refine is a map-side Arrow filter over
    # the coarse join's output, so nothing is grouped or shuffled after
    # the join and a hot tile is never one task's group
    from lazyosm_spark.operators.spatial_join import tile_points_shuffle

    p = plan_of(tile_points_shuffle(pts, tiles, salt=8))
    checks = map_side_refine_checks(p)
    sections.append(("tile_points_shuffle (map-side Arrow PIP refine)", p, checks))

    # 9. sequence packing: the distributed prefix sum must never plan
    # an Exchange SinglePartition (the global-ORDER-BY-window trap that
    # puts 100 TB through one task)
    q9 = dq.QUERIES["pack_sequences"](spark, SF_DIR)
    p = plan_of(q9)
    checks = [
        ("no Exchange SinglePartition anywhere", "Exchange SinglePartition" not in p),
        ("per-bucket window cumsum present", "Window" in p),
    ]
    sections.append(("pack_sequences (distributed prefix sum)", p, checks))

    # 10. bloom semi join: the Arrow probe Filter must sit BEFORE the
    # first Exchange on the big side — that pre-shuffle placement IS
    # the operator (the shuffle carries only survivors).  Broadcast is
    # disabled so the exact semi join plans an Exchange to sit above
    # the probe; the structural check walks the formatted plan tree.
    from lazyosm_spark.operators.bloom import bloom_semi_join

    o = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    small_keys = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    q10 = bloom_semi_join(li, small_keys, "l_orderkey", n_keys=10000)
    p = plan_of(q10)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    def _probe_pre_exchange(plan: str) -> tuple[bool, bool]:
        """(an Exchange is an ANCESTOR of the probe,
        no Exchange is a DESCENDANT of the probe)."""
        tree = plan_tree(plan)
        idx = next((i for i, l in enumerate(tree) if "ArrowEvalPython" in l), None)
        if idx is None:
            return False, False
        d = _depth(tree[idx])
        anc_exchange = any("Exchange" in l for l in plan_ancestors(tree, idx))
        no_desc_exchange = True
        for j in range(idx + 1, len(tree)):
            if _depth(tree[j]) <= d:
                break
            if "Exchange" in tree[j]:
                no_desc_exchange = False
        return anc_exchange, no_desc_exchange

    anc, no_desc = _probe_pre_exchange(p)
    checks = [
        ("probe is a vectorized Arrow stage", "ArrowEvalPython" in p),
        ("an Exchange sits ABOVE the probe (filter runs pre-shuffle)", anc),
        ("no Exchange BELOW the probe (probe applies at the scan side)", no_desc),
    ]
    sections.append(("bloom_semi_join (Arrow probe before the first Exchange)", p, checks))

    # 11. duplicate_spans: span enumeration must stay inside JVM
    # codegen (no Python eval anywhere), the duplicate test is ONE
    # shuffle on the span hash, and the per-doc groupBy reuses the
    # coverage window's doc_id partitioning instead of adding its own
    from lazyosm_spark.operators.spans import duplicate_spans

    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    tok = d.select(
        "doc_id",
        F.expr("transform(split(text, ' '), w -> cast(hash(w) as int))").alias(
            "token_ids"
        ),
    )
    q11 = duplicate_spans(tok, span_len=8)
    p = plan_of(q11)
    checks = [
        ("span stream is pure JVM (no Python eval stage)", "EvalPython" not in p),
        ("exactly one Exchange on the span hash", p.count("hashpartitioning(h#") == 1),
        (
            "doc-side Exchanges <= 2 (coverage window + base join; groupBy reuses)",
            p.count("hashpartitioning(doc_id#") <= 2,
        ),
        ("no cartesian / broadcast-nested-loop", "CartesianProduct" not in p and "BroadcastNestedLoop" not in p),
    ]
    sections.append(("duplicate_spans (token-span dedup, one hash shuffle)", p, checks))

    # 12. contamination: the eval span hashes must BROADCAST (the
    # corpus span stream is filtered in place — its only Exchange is
    # the per-doc fold on doc_id, never the span hash)
    from lazyosm_spark.operators.spans import contamination

    ev = tok.filter(F.col("doc_id") % 50 == 0)
    q12 = contamination(tok, ev, span_len=8)
    p = plan_of(q12)
    checks = [
        ("eval span hashes arrive via BroadcastExchange", "BroadcastExchange" in p),
        ("corpus spans filtered in place by a broadcast LEFT SEMI join",
         "BroadcastHashJoin LeftSemi" in p),
        ("only the eval-distinct shuffles on the span hash (corpus never does)",
         p.count("hashpartitioning(h#") == 1),
        ("span stream is pure JVM (no Python eval stage)", "EvalPython" not in p),
        ("no cartesian / broadcast-nested-loop",
         "CartesianProduct" not in p and "BroadcastNestedLoop" not in p),
    ]
    sections.append(("contamination (eval-span broadcast, no content shuffle)", p, checks))

    # 13. the headline plan gate (bench.headline entries)
    sections.extend(headline_gate(spark, SF_DIR))

    ok = True
    lines = ["# Physical-plan audit (generated by tools/explain_plans.py)\n"]
    for name, plan, checks in sections:
        lines.append(f"\n## {name}\n")
        for desc, passed in checks:
            ok &= passed
            mark = "PASS" if passed else "FAIL"
            lines.append(f"- [{mark}] {desc}")
            print(f"{mark}  {name}: {desc}")
        lines.append("\n```\n" + masked(plan.strip())[:4000] + "\n```\n")
    os.makedirs("docs", exist_ok=True)
    with open("docs/PLANS.md", "w") as f:
        f.write("\n".join(lines))
    print("audit:", "ALL PASS" if ok else "FAILURES PRESENT")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
