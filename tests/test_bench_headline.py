"""bench.py's headline table is the driver's bench contract, and
tools/explain_plans.py gates its plans: pin the 7 entries and their
order, and run the plan gate on every entry."""

from __future__ import annotations

import bench
from tools import explain_plans

SF = "/root/testdata/sf0.001"
HEADLINE = [
    "spatial_join",
    "tpch1_pricing",
    "way_node_assembly",
    "cumsum_window",
    "grid_knn",
    "minhash_lsh",
    "cosine_topk",
]


def test_headline_entries_in_order(spark):
    assert list(bench.headline(spark, SF)) == HEADLINE


def test_headline_plan_gate_passes(spark):
    sections = explain_plans.headline_gate(spark, SF)
    assert [name for name, _, _ in sections] == [f"headline {q} (sf0.001)" for q in HEADLINE]
    n_checks = {name: len(checks) for name, _, checks in sections}
    # cosine_topk's broadcast-panel loop join is exempt from the BNL ban
    assert n_checks == {f"headline {q} (sf0.001)": 1 if q == "cosine_topk" else 2 for q in HEADLINE}
    failed = [(name, desc) for name, _, checks in sections for desc, ok in checks if not ok]
    assert failed == []
