"""Shared bounded-replay harness for the streaming gate queries.

Four oracle-gated queries replay bounded streams through the REAL
streaming machines (streaming_corpus_replay / streaming_neardedup_replay
over documents, streaming_dump_replay over block candidates, and the
composed daily-increment pipeline). This module is the ONE definition
of the harness idioms they share:

- ``write_ndjson_waves``: materialize arrival WAVES as one NDJSON file
  each with FORCED-DISTINCT ascending mtimes, so FileStreamSource's
  oldest-first ordering pins the batch sequence (with
  ``maxFilesPerTrigger=1``, wave i IS micro-batch i — the property the
  incremental-state seams are exercised through);
- ``run_bounded_stream``: the one start / drain / stop loop — start a
  bounded stream into a foreachBatch sink, process everything available
  and always stop it;
- ``collect_bounded_stream``: ``run_bounded_stream`` with a sink that
  collects every micro-batch into one pandas frame, the stream planned
  on ``replay_session``'s sized clone.

All are fixture plumbing, not operators: the machines under test live
in streaming/{corpus,neardedup,pipeline}.py.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame


def write_ndjson_waves(work: str, waves: "list[list[str]]") -> str:
    """Write each wave (a list of already-serialized JSON lines) as
    ``<work>/src/wave-NN.json`` with ascending mtimes one second apart
    (anchored an hour in the past so a same-second collision with file
    creation time is impossible). Empty waves are skipped — wave
    NUMBERING still advances, so callers' batch-index math stays
    aligned with their fixture comments. Returns the source dir."""
    src_dir = os.path.join(work, "src")
    os.makedirs(src_dir)
    base_t = time.time() - 3600
    for i, lines in enumerate(waves):
        if not lines:
            continue
        path = os.path.join(src_dir, f"wave-{i:02d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.utime(path, (base_t + i, base_t + i))
    return src_dir


# Minimum rows a Python-stateful streaming task should amortize its
# fixed per-batch cost over: every state partition is a Python task
# per micro-batch, paying an Arrow round-trip + state-store commit plus
# the fixed Python-task cost (~0.08 s per wave of 4 tasks on local[4],
# README pitfall "Python tasks have a fixed cost") regardless of row
# count, so partitions holding only a handful of rows are nearly pure
# overhead. Used to derive the STATE partition count from the bounded
# stream's own size — the streaming analogue of AQE partition
# coalescing, which cannot act inside a streaming plan.
# Production-sized streams (n_rows >> cores * this) saturate to the
# session's configured shuffle parallelism, so the derivation is
# scale-adaptive, not a local constant.
STATE_ROWS_PER_PARTITION = 1024


def replay_session(spark, n_rows: int):
    """A CLONED session (same SparkContext, isolated SQL conf) with
    shuffle partitions sized to the bounded stream's known row count.

    Structured Streaming pins state partitioning to
    spark.sql.shuffle.partitions at first trigger — AQE cannot coalesce
    it — so without the sizing every micro-batch pays the per-partition
    Python/state-store round trip across the full session fan-out even
    for a few hundred rows (measured 8.7 s -> 3.5 s on the 255-row
    daily-increment replay at 32 cores). r13 set the conf IN PLACE on
    the caller's session (restored in finally), but SQL conf is
    session-global: corpus_daily_increment_replay overlaps this stream
    with a quantizer-training leg on a second driver thread, and any
    training shuffle planned during the stream's lifetime inherited the
    tiny partition count (r13 VERDICT item 2 — harmless at sf0.1, an
    under-parallelization hazard at cluster scale). newSession()
    isolates the override completely: the clone shares the
    SparkContext (executors, scheduler) but not the SQL conf, and is
    simply dropped when the stream finishes. Session timezone is copied
    from the caller so timestamp parsing inside the stream cannot
    drift from the batch plans' session."""
    import math

    sess = spark.newSession()
    sess.conf.set(
        "spark.sql.session.timeZone",
        spark.conf.get("spark.sql.session.timeZone"),
    )
    parts = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            math.ceil(n_rows / STATE_ROWS_PER_PARTITION),
        ),
    )
    sess.conf.set("spark.sql.shuffle.partitions", str(parts))
    return sess


def run_bounded_stream(stream: DataFrame, work: str, sink) -> None:
    """Run the bounded streaming DataFrame ``stream`` to completion into
    the foreachBatch ``sink`` (a ``(batch_df, batch_id)`` callable),
    checkpointing under ``<work>/chk``. The query is stopped even when
    the sink raises; the error then propagates to the caller."""
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(work, "chk"))
        .foreachBatch(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        # always stop: an orphaned stream would keep erroring against
        # the caller's rmtree'd source/checkpoint dirs for the rest of
        # the session, polluting every subsequent query
        q.stop()


def collect_bounded_stream(build_stream, work: str, out_schema, spark, n_rows: int):
    """Run a bounded stream to completion, collecting every micro-batch
    via foreachBatch into one pandas frame. Returns the concatenated
    pandas frame (possibly empty, schema-named).

    ``build_stream`` is a callable SparkSession -> streaming DataFrame:
    the harness — not the caller — decides which session the stream
    plans against, because the state-partition sizing must live in a
    session the caller's other (possibly concurrent) plans never see.
    ``n_rows`` is the bounded stream's total row count, which replay
    harnesses know exactly: the stream is built on ``replay_session``'s
    clone — sized state partitions, zero mutation of the caller's
    session conf (see replay_session)."""
    import pandas as pd

    acc: "list[pd.DataFrame]" = []

    def _collect(batch_df: DataFrame, _batch_id: int) -> None:
        acc.append(batch_df.toPandas())

    run_bounded_stream(build_stream(replay_session(spark, n_rows)), work, _collect)
    out = [p for p in acc if len(p)]
    if out:
        return pd.concat(out, ignore_index=True)
    return pd.DataFrame(columns=[f.name for f in out_schema.fields])
