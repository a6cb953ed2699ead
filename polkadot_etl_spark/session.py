"""SparkSession builder with defaults tuned for the 100 TB design point.

The reference hand-codes every optimization (SURVEY §4): day-partition
pruning, predicate pushdown via SQL strings, batched I/O, in-memory dims.
Here those are Catalyst/Tungsten features we simply enable:

- AQE (runtime re-plan, skew-join splitting, partition coalescing) replaces
  the reference's hand-tuned batch sizes (substrateetl.js:6236).
- Arrow execution keeps any Python-side work (pandas UDFs) batched.

At cluster scale the same builder is used; only the master and a few
settings differ, each passed in ``extra_conf`` (applied last, so it
overrides any default here): e.g. ``spark.sql.shuffle.partitions`` sized
~2-3x total cores (the default is one per ``SPARK_GRAFT_CPUS``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from polkadot_etl_spark import pyworker

# the directory holding this package, for local Python workers' path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "polkadot-etl-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-safe defaults.

    Defaults are chosen so that the *same logical plans* hold from
    local[32] tests to a 1000-executor cluster: AQE handles partition
    count/skew at runtime, so correctness never depends on a fixed
    parallelism.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Deterministic timestamp semantics: all test parquet carries naive
        # timestamps; pin the session to UTC so epoch math matches the
        # DuckDB oracle exactly.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", cpus)
        # Adaptive execution: runtime partition coalescing + skew-join
        # splitting. At 100 TB this is what absorbs hot keys (e.g. the
        # reference's skewed from_pub_key distributions).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for any pandas UDF / toPandas path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast threshold: dims (region/nation/specversions/assetInfo
        # equivalents) are always broadcast; 64 MB is safe on 16 GB
        # executors and avoids shuffling the fact side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet scan parallelism: 128 MB splits are the right grain for
        # multi-TB day partitions; harmless locally. (Probed: shrinking
        # the split/advisory grains for the MB-scale local files does NOT
        # help — the test parquet is single-row-group, so a scan cannot
        # split below one task, and a 1 MB AQE advisory grain slowed the
        # iterative CC queries; a deployment with a different storage
        # grain passes it in extra_conf.)
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # No per-call origin capture: with it on, PySpark wraps Column
        # and functions calls in about ten extra py4j round trips each
        # (README pitfall "Large expression trees cost py4j, not JVM").
        # Errors keep their error class but lose the Python file:line of
        # their DataFrame query context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Keep every generated class compiled once per JVM: Spark's LRU
        # holds 100, fewer than one 8-query interactive mix compiles, so
        # warm repeats recompiled most of their classes (README pitfall
        # "Spark keeps 100 generated classes per JVM"). Static: read
        # once per JVM.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Quieter local runs.
        .config("spark.ui.enabled", "false")
    )
    conf = dict(extra_conf or {})
    if master.startswith("local"):
        # A local worker is a child of this host's JVM, so it can run the
        # daemon from this package (see pyworker); the package must be
        # importable before any task ships pyFiles, wherever the driver's
        # cwd is.
        conf.setdefault("spark.python.daemon.module", pyworker.__name__)
        key = "spark.executorEnv.PYTHONPATH"
        conf[key] = os.pathsep.join(filter(None, (conf.get(key), _PACKAGE_PARENT)))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
