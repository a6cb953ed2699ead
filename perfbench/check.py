"""Output check, run outside every timed window.

Each query's result is compared with its ``QuerySpec.oracle`` DuckDB SQL
under the test suite's canonical normalisation
(``tests/conftest.normalize_frame``); a query without an oracle must
return at least one row.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from conftest import normalize_frame  # tests/ is on sys.path (see run.py)
from polkadot_etl_spark.queries import QUERIES
from polkadot_etl_spark.sources.tables import TABLES


class OracleCheck:
    def __init__(self, data_dir: str):
        self._con = duckdb.connect()
        for t in TABLES:
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self._expected: dict[str, list] = {}

    def close(self) -> None:
        self._con.close()

    def mismatch(self, name: str, got: pd.DataFrame) -> str | None:
        """None when ``got`` is correct, else a one-line reason."""
        sql = QUERIES[name].oracle
        if sql is None:
            return None if len(got) else "empty output"
        if name not in self._expected:
            self._expected[name] = normalize_frame(self._con.execute(sql).df())
        want = self._expected[name]
        have = normalize_frame(got)
        if have == want:
            return None
        if len(have) != len(want):
            return f"{len(have)} rows, oracle has {len(want)}"
        return "values differ from the oracle"


def read_written(path: str, drop: tuple[str, ...]) -> pd.DataFrame:
    """Read a parquet output back (hive partitions become columns) and
    drop the partition columns the writer added."""
    frame = pq.read_table(path).to_pandas()
    return frame.drop(columns=[c for c in drop if c in frame.columns])
