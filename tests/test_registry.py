"""Driver registry order: the tracked ROUND's parity decides whether the
redundant twins register first (even) or last (odd)."""

from __future__ import annotations


def test_all_queries_round_parity(monkeypatch):
    from lazyosm_spark.plans import driver_queries as dq

    registered = set(dq.QUERIES) | set(dq.FIXTURE_QUERIES)
    twins = [n for n in dq._REDUNDANT_TWINS if n in registered]
    assert twins
    monkeypatch.setattr(dq, "_CURRENT_ROUND", 6)
    even = list(dq.all_queries())
    monkeypatch.setattr(dq, "_CURRENT_ROUND", 5)
    odd = list(dq.all_queries())
    assert even[: len(twins)] == twins
    assert odd[-len(twins):] == twins
    assert len(even) == len(set(even)) and set(even) == set(odd) == registered
