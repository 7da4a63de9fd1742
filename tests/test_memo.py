"""The session-memo helper (``tables.memo``) and the registry facts derived
from it: LRU refresh, validity-driven replacement, cap eviction, per-memo
hit/miss counters, and the counter rule ``bench.py`` uses to tell
memo-backed queries apart."""

from __future__ import annotations

from types import SimpleNamespace

from btrblocks_spark.tables import MEMO_CAP, memo, memo_entries, memo_stats

from conftest import SF_DIR_MED


def test_memo_lru_validity_eviction_and_counters():
    """Spark-free: any object that takes attributes stands in for the
    session."""
    session = SimpleNamespace()
    evicted = []

    def get(key, build=None, valid=None):
        return memo(
            session, "t", key, build or (lambda: f"v{key}"),
            valid=valid, on_evict=evicted.append,
        )

    assert get(0) == "v0"  # miss
    assert get(0) == "v0"  # hit
    assert memo_stats(session, "t") == (1, 1)
    for i in range(1, MEMO_CAP):
        get(i)
    entries = memo_entries(session, "t")
    assert len(entries) == MEMO_CAP and evicted == []

    # a hit refreshes key 0, so the next insert evicts key 1 (now the LRU)
    get(0)
    get(MEMO_CAP)
    assert evicted == ["v1"]
    assert 0 in entries and 1 not in entries and len(entries) == MEMO_CAP

    # a stored value that fails ``valid`` is evicted, rebuilt and moved to
    # the most-recently-used end
    assert get(0, build=lambda: "fresh", valid=lambda v: v == "fresh") == "fresh"
    assert evicted == ["v1", "v0"]
    assert list(entries)[-1] == 0
    assert get(0, valid=lambda v: v == "fresh") == "fresh"  # valid: a hit

    assert memo_stats(session, "t") == (3, MEMO_CAP + 2)
    assert memo_stats(session, "other") == (0, 0)
    # eviction is best-effort: a failing on_evict still evicts
    memo(session, "t", -1, lambda: "x", on_evict=lambda v: 1 / 0)
    assert len(entries) == MEMO_CAP
    # all memo state, counters included, lives on _btrblocks_ attributes
    # (the benchmark harness resets memos by that prefix)
    assert vars(session) and all(a.startswith("_btrblocks_") for a in vars(session))


def test_memo_backed_rule_moves_dedup_counters(spark):
    """bench.py calls a query memo-backed when constructing it moved the
    ``pairs`` or ``cc`` memo counters. A lazy dedup builder records a
    ``pairs`` miss on a cold memo; a relational query moves neither."""
    from btrblocks_spark.queries import all_queries, eager_queries

    queries = all_queries()
    assert "dedup_minhash_lsh" not in eager_queries()
    pairs = memo_entries(spark, "pairs")
    for _docs, cached in pairs.values():
        cached.unpersist()
    pairs.clear()

    def counts():
        return {m: memo_stats(spark, m) for m in ("pairs", "cc")}

    before = counts()
    queries["dedup_minhash_lsh"](spark, SF_DIR_MED)
    after = counts()
    assert after["pairs"] == (before["pairs"][0], before["pairs"][1] + 1)
    assert after["cc"] == before["cc"]

    queries["q1_pricing_summary"](spark, SF_DIR_MED)
    assert counts() == after

    for _docs, cached in pairs.values():
        cached.unpersist()
    pairs.clear()
