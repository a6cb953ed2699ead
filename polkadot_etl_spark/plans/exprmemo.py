"""Corpus-independent Column-tree memo of the GAR parsers
(plans/garparsers.py), its only owners: the snapshot extractors and the
registry's interior-key codec (plans/xcmgar.py) are SQL text, which is
cheap enough to build on every call, and hold no memo.

Building a large registry frame through the Column API costs thousands
of py4j round trips — and most of that construction rebuilds the SAME
name-based expression trees on every invocation (the selects are pure
functions of the parser class + knobs, not of the data). Column objects are
immutable unresolved trees: reusing one across plans yields a
byte-identical plan (name resolution happens at analysis, per plan). So
each corpus-independent tree is built ONCE per (SparkContext, site) and
reused — plan machinery, not result caching: every invocation still
assembles, analyzes and executes its own plan from the parquet inputs.

The memo is owned by the live SparkContext (``sources.tables._memo_for``)
and dropped with it, so a restarted JVM can never be served stale py4j
references. Cached trees must be built from NAME-based references only
(F.col/string names, F.lit constants) — never from a concrete
DataFrame's resolved attributes.
"""

from __future__ import annotations

from pyspark import SparkContext

from polkadot_etl_spark.sources.tables import _memo_for


def expr_cache(key, build):
    memo = _memo_for(SparkContext._active_spark_context)
    full = ("expr_cache", key)
    got = memo.get(full)
    if got is None:
        got = memo[full] = build()
    return got
