"""The owner-scoped program memo (sources/tables._memo_for): entries live
exactly as long as their owner, so a recycled id() can never serve a dead
SparkContext's or SparkSession's entries to a new one."""

from __future__ import annotations

import gc
import weakref

from polkadot_etl_spark.sources import tables as T


class _Owner:
    """Weakref-able stand-in for a SparkContext / SparkSession."""


class _Entry:
    """Weakref-able memo value."""


def test_memo_entries_live_and_die_with_their_owner():
    owner = _Owner()
    entry = _Entry()
    T._memo_for(owner)[("probe", 1)] = entry
    assert T._memo_for(owner) is T._memo_for(owner)
    assert T._memo_for(owner)[("probe", 1)] is entry
    assert ("probe", 1) not in T._memo_for(_Owner())  # per owner
    # an entry that references its owner (a memoized DataFrame holds its
    # SparkSession) must not keep the owner alive
    T._memo_for(owner)[("probe", 2)] = owner
    owner_ref, entry_ref = weakref.ref(owner), weakref.ref(entry)
    del owner, entry
    gc.collect()
    assert owner_ref() is None
    assert entry_ref() is None
