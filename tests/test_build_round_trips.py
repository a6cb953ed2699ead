"""py4j round trips of a cold plan build.

Each PySpark Column or functions call is at least one py4j round trip
(README pitfall "Large expression trees cost py4j, not JVM"), so a cold
build's round-trip count is its plan-construction cost. The snapshot
queries are held to a budget here: the one etl_publish builds cold
every pass, and the relay tracks, the largest snapshot build.
"""

from __future__ import annotations

import textwrap

import pytest

from tests.conftest import REPO, SF_DIR, run_fresh_process


@pytest.mark.parametrize(
    "name", ["snapshots_hydradx_omnipool", "snapshots_relay_opengov"]
)
def test_cold_snapshot_build_round_trip_budget(name, tmp_path):
    """A fresh get_spark process builds the query (every memo cold) in
    fewer than 1,500 round trips: hydradx made ~8,700 with per-call
    origin capture and Column-API decode trees, relay ~4,300 with its
    Column trees. Its session has origin capture off, and an ANSI divide
    by zero still raises with its error class."""
    script = textwrap.dedent(
        f"""
        import json, sys
        sys.path.insert(0, {str(REPO)!r})
        from pyspark.errors import ArithmeticException
        from pyspark.sql import functions as F
        from polkadot_etl_spark.benchutil import py4j_round_trips
        from polkadot_etl_spark.queries import QUERIES
        from polkadot_etl_spark.session import get_spark

        spark = get_spark(app_name="round-trip-budget", master="local[2]")
        with py4j_round_trips() as calls:
            QUERIES[{name!r}].build(spark, {SF_DIR!r})
        try:
            spark.range(1).select(F.col("id") / 0).collect()
            error = None
        except ArithmeticException as e:
            error = e.getCondition()
        print(json.dumps({{
            "calls": calls[0],
            "debugging": spark.conf.get("spark.python.sql.dataFrameDebugging.enabled"),
            "error": error,
        }}))
        spark.stop()
        """
    )
    got = run_fresh_process(script, tmp_path)
    assert got["debugging"] == "false"
    assert got["error"] == "DIVIDE_BY_ZERO"
    assert got["calls"] < 1500, got
