"""Shared fixtures: one SparkSession per test session + a DuckDB oracle
connection with the driver's view names pre-registered."""

from __future__ import annotations

import datetime
import decimal
import json
import math
import os
import subprocess
import sys
from pathlib import Path

import duckdb
import pandas as pd
import pytest

from polkadot_etl_spark.session import get_spark
from polkadot_etl_spark.sources.tables import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
REPO = Path(__file__).resolve().parents[1]


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="polkadot-etl-spark-tests")
    # REGISTRY-WIDE NO-CODEGEN-FALLBACK GATE (r11 verdict finding #1):
    # production keeps Spark's graceful fallbacks, but under test every
    # codegen failure must be LOUD. fallback=false turns a janino
    # 64 KB whole-stage compile failure into a thrown error instead of
    # a logged WARN + interpreted stage; factoryMode=CODEGEN_ONLY does
    # the same for expression-factory codegen (UnsafeProjection et al.,
    # where the r12 'isNull_… is not an rvalue' splitter bug was
    # silently degrading evm_tx_jsonld to row-interpreted projection).
    # Since the oracle suite executes every registry query, this makes
    # the whole suite the no-fallback gate; tests/test_codegen_gate.py
    # pins that these confs stay set.
    s.conf.set("spark.sql.codegen.fallback", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    yield s


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _norm_cell(v) -> str:
    """Engine-neutral canonical string for a value (mirrors the driver's
    order-insensitive value-hash: any representation drift here is a
    correctness bug in the query design, not the comparator)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, pd.Timestamp) or isinstance(v, datetime.datetime):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bool,)):
        return "true" if v else "false"
    if pd.isna(v):
        return "NULL"
    return str(v)


def normalize_frame(df: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(_norm_cell(v) for v in row))
    out.sort()
    return out


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str) -> None:
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: column mismatch spark={sorted(spark_pdf.columns)} "
        f"oracle={sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    )
    s = normalize_frame(spark_pdf)
    o = normalize_frame(oracle_pdf)
    if s != o:
        diffs = [(a, b) for a, b in zip(s, o) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs (spark, oracle): {diffs}")


def run_fresh_process(script: str, cwd) -> dict:
    """Run ``script`` in a new Python process, so its session starts a
    new JVM (static confs are read once per JVM), with a 1 GB driver
    heap; return the JSON object printed on its last stdout line."""
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=cwd,
        env=dict(os.environ, SPARK_DRIVER_MEMORY="1g"),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])
