"""py4j round trips of a cold plan build.

Each PySpark Column or functions call is at least one py4j round trip
(README pitfall "Large expression trees cost py4j, not JVM"), so a cold
build's round-trip count is its plan-construction cost. The snapshot
query that etl_publish builds cold every pass is held to a budget here.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

from tests.conftest import SF_DIR

REPO = Path(__file__).resolve().parents[1]


def test_cold_snapshot_build_round_trip_budget(tmp_path):
    """A fresh get_spark process builds snapshots_hydradx_omnipool
    (every memo cold) in fewer than 1,500 round trips, down from ~8,700
    with per-call origin capture and Column-API decode trees. Its
    session has origin capture off, and an ANSI divide by zero still
    raises with its error class."""
    script = textwrap.dedent(
        f"""
        import json, sys
        sys.path.insert(0, {str(REPO)!r})
        import py4j.clientserver as cs
        from pyspark.errors import ArithmeticException
        from pyspark.sql import functions as F
        from polkadot_etl_spark.queries import QUERIES
        from polkadot_etl_spark.session import get_spark

        spark = get_spark(app_name="round-trip-budget", master="local[2]")
        send = cs.ClientServerConnection.send_command
        calls = 0

        def counting(self, command):
            global calls
            calls += 1
            return send(self, command)

        cs.ClientServerConnection.send_command = counting
        QUERIES["snapshots_hydradx_omnipool"].build(spark, {SF_DIR!r})
        cs.ClientServerConnection.send_command = send
        try:
            spark.range(1).select(F.col("id") / 0).collect()
            error = None
        except ArithmeticException as e:
            error = e.getCondition()
        print(json.dumps({{
            "calls": calls,
            "debugging": spark.conf.get("spark.python.sql.dataFrameDebugging.enabled"),
            "error": error,
        }}))
        spark.stop()
        """
    )
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["debugging"] == "false"
    assert got["error"] == "DIVIDE_BY_ZERO"
    assert got["calls"] < 1500, got
