"""The owner-scoped program memo (sources/tables._memo_for): entries live
exactly as long as their owner, so a recycled id() can never serve a dead
SparkContext's or SparkSession's entries to a new one."""

from __future__ import annotations

import gc

from polkadot_etl_spark.sources import tables as T


class _Owner:
    """Weakref-able stand-in for a SparkContext / SparkSession."""


def test_memo_entries_live_and_die_with_their_owner():
    owner = _Owner()
    key = id(owner)
    T._memo_for(owner)[("probe", 1)] = "tree"
    assert T._memo_for(owner) is T._memo_for(owner)
    assert T._memo_for(owner)[("probe", 1)] == "tree"
    assert ("probe", 1) not in T._memo_for(_Owner())  # per owner
    del owner
    gc.collect()
    assert key not in T._MEMOS
