"""Shared measurement discipline for the timing tools — ONE definition
of the warmup and the min-of-N noop-sink loop, so a future fix to either
cannot leave the tools silently measuring under different rules (the
idiom had once been copy-pasted three times).
bench.py and tools_profile.py time through ``time_noop_split``,
scaling_card.py through ``time_noop_min``; parallel_card.py keeps its
own CPU-time loop and, like perfbench, calls only ``warm_session``.

The discipline (bench.py's, unchanged):
- warmup: one parquet-footer read + one Arrow/pandas-UDF wave of one
  task per core slot, so the first measured query absorbs neither
  JVM/session startup nor the one-time Python daemon start and worker
  fork (~1 s on local[4]), and the warmup itself pays the fixed
  per-Python-task cost once per slot only (README pitfall "Python
  tasks have a fixed cost");
- timing: full materialization through the NOOP sink (every output
  column computed, no rows to the driver — `.count()` lets Catalyst
  legally eliminate the expensive stages, measured in r4), with the
  builder's wall time and the write's recorded apart: 41 builders run
  Spark jobs before they return a DataFrame, and that cost shows up in
  the build share;
- iterations: ``base_iters`` runs, plus one extra when the fastest is
  sub-second (scheduler noise dominates there); the MIN is the
  statistic;
- hygiene: gc.collect() after each query releases the built DataFrames'
  py4j refs promptly so localCheckpoint blocks from checkpoint-heavy
  queries get ContextCleaner'd instead of pressuring later queries.
"""

from __future__ import annotations

import gc
import time

from pyspark.sql import DataFrame, SparkSession

# The iteration constants, exported so sidecar metadata (bench.py) can
# reference the ACTUAL behavior instead of hardcoding literals that a
# future change here would silently falsify (r10 ADVICE note).
BASE_ITERS = 2
EXTRA_BELOW = 1.0
AGG = "min"


# Fixed-work box-speed calibration (r11 verdict task #2): cross-sitting
# bench comparisons have produced 24 phantom budget breaches over three
# rounds (r9: 7, r10: 16, r11: 1 — every one adjudicated UNDER budget
# idle) because the box swings 1.1-1.5x between sittings under
# co-tenant CPU throttling the loadavg stamps cannot see. The probe
# times ONE deterministic pure-JVM workload (whole-stage-codegen'd
# integer folding over spark.range — no I/O, no Python, one single-row
# aggregate) single-threaded and at full local parallelism, and stamps
# rows/sec into the artifacts, making every cross-sitting delta
# self-normalizing: expected_now = measured_then * speed_then/speed_now.
BOX_PROBE_ROWS = 2_000_000
BOX_PROBE_FOLD = 64


def box_speed_probe(spark: SparkSession) -> dict:
    """Measure the box: {'box_speed_1t', 'box_speed_nt'} in probe
    rows/sec (min-of-2 walls, one warm run first so codegen compilation
    is excluded), plus the raw walls and thread count for readers. The
    parallel leg runs one partition per core slot of the live context."""
    from pyspark.sql import functions as F

    n_threads = spark.sparkContext.defaultParallelism
    fold = F.expr(
        f"aggregate(sequence(1, {BOX_PROBE_FOLD}), 0L,"
        " (acc, x) -> acc + (x * id) % 997)"
    )

    def run(parts: int, rows: int) -> float:
        t0 = time.perf_counter()
        (
            spark.range(0, rows, 1, parts)
            .select(fold.alias("h"))
            .agg(F.sum("h"))
            .collect()
        )
        return time.perf_counter() - t0

    run(n_threads, BOX_PROBE_ROWS // 20)  # warm: codegen compile + JIT
    wall_1t = min(run(1, BOX_PROBE_ROWS) for _ in range(2))
    wall_nt = min(run(n_threads, BOX_PROBE_ROWS) for _ in range(2))
    return {
        "box_speed_1t": round(BOX_PROBE_ROWS / wall_1t),
        "box_speed_nt": round(BOX_PROBE_ROWS / wall_nt),
        "box_probe_wall_1t": round(wall_1t, 3),
        "box_probe_wall_nt": round(wall_nt, 3),
        "box_probe_threads": n_threads,
        "box_probe_rows": BOX_PROBE_ROWS,
    }


def warm_session(spark: SparkSession, sf_dir: str) -> None:
    """Parquet-footer + Arrow-worker warmup (see module doc): the Python
    stage runs exactly one task per core slot, so it forks the whole
    worker pool in one wave on any master."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).collect()
    slots = spark.sparkContext.defaultParallelism
    spark.range(0, slots, 1, slots).mapInPandas(lambda it: it, "id long").collect()


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """Classes Janino has compiled in this JVM so far and the seconds it
    spent compiling them: whole-stage code compiled on the driver and,
    on a local master, the projections compiled in tasks. Take deltas
    around a run; a warm repeat that still compiles missed the codegen
    cache (README pitfall "Spark keeps 100 generated classes per JVM")."""
    jvm = spark._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return metrics.METRIC_COMPILATION_TIME().getCount(), codegen.compileTime() / 1e9


def time_noop_split(
    build, spark: SparkSession, sf_dir: str, base_iters: int = BASE_ITERS
) -> list[tuple[float, float]]:
    """Run ``build(spark, sf_dir)`` through the noop sink ``base_iters``
    times (+1 when the fastest iteration lands under ``EXTRA_BELOW``
    seconds) and return each iteration's ``(build_s, write_s)``: the
    builder's wall time, then the write's."""
    splits: list[tuple[float, float]] = []

    def once() -> None:
        t0 = time.perf_counter()
        df: DataFrame = build(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        splits.append((t1 - t0, time.perf_counter() - t1))

    for _ in range(base_iters):
        once()
    if min(b + w for b, w in splits) < EXTRA_BELOW:
        once()
    gc.collect()
    return splits


def time_noop_min(
    build, spark: SparkSession, sf_dir: str, base_iters: int = BASE_ITERS
) -> list[float]:
    """Per-iteration wall times (build + write) of ``time_noop_split``.
    Callers take min()."""
    return [b + w for b, w in time_noop_split(build, spark, sf_dir, base_iters)]
