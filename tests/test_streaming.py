"""Streaming-tier tests: fork resolution across micro-batches, finality
filtering, hourly continuity windows, gap audit — driven through a real
file-source stream with availableNow triggers (deterministic)."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from polkadot_etl_spark.streaming import (
    block_candidates_stream,
    fork_resolving_sink,
    gap_audit,
    hourly_block_stats,
    resolve_forks,
)


def _write_batch(src_dir, name, rows):
    with open(f"{src_dir}/{name}.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _cand(chain, number, h, ts, finalized, observed):
    return {
        "chain_id": chain,
        "number": number,
        "hash": h,
        "parent_hash": "0xparent",
        "block_time": ts,
        "finalized": finalized,
        "observed_at": observed,
    }


def _run_stream(spark, src_dir, state_dir, ckpt_dir):
    stream = block_candidates_stream(spark, src_dir)
    q = (
        stream.writeStream.foreachBatch(fork_resolving_sink(state_dir))
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


class TestForkResolution:
    def test_fork_resolution_across_microbatches(self, spark, tmp_path):
        src, state, ckpt = str(tmp_path / "src"), str(tmp_path / "state"), str(tmp_path / "ckpt")
        (tmp_path / "src").mkdir()

        # batch 1: two candidate hashes for block 100 (a fork), none finalized
        _write_batch(src, "b1", [
            _cand(0, 100, "0xAAA", "2024-01-01 00:00:00", False, "2024-01-01 00:00:01"),
            _cand(0, 100, "0xBBB", "2024-01-01 00:00:00", False, "2024-01-01 00:00:02"),
            _cand(0, 101, "0xCCC", "2024-01-01 00:00:12", False, "2024-01-01 00:00:13"),
        ])
        _run_stream(spark, src, state, ckpt)

        # batch 2 (separate run = separate micro-batch): finalization arrives —
        # block 100 finalizes to 0xAAA (0xBBB is the fork loser, X1 deletes it)
        _write_batch(src, "b2", [
            _cand(0, 100, "0xAAA", "2024-01-01 00:00:00", True, "2024-01-01 00:01:00"),
            _cand(0, 101, "0xCCC", "2024-01-01 00:00:12", True, "2024-01-01 00:01:00"),
        ])
        _run_stream(spark, src, state, ckpt)

        final = spark.read.parquet(state)
        rows = {r.number: r for r in final.collect()}
        assert len(rows) == 2  # exactly one row per height
        assert rows[100].hash == "0xAAA" and rows[100].finalized
        assert rows[101].hash == "0xCCC" and rows[101].finalized

    def test_replay_is_idempotent(self, spark, tmp_path):
        src, state = str(tmp_path / "src"), str(tmp_path / "state")
        (tmp_path / "src").mkdir()
        _write_batch(src, "b1", [
            _cand(0, 200, "0xAAA", "2024-01-01 00:00:00", True, "2024-01-01 00:00:01"),
        ])
        # two runs with DIFFERENT checkpoints → the same batch replays (X6/X8)
        _run_stream(spark, src, state, str(tmp_path / "ckpt1"))
        _run_stream(spark, src, state, str(tmp_path / "ckpt2"))
        assert spark.read.parquet(state).count() == 1

    def test_resolve_forks_batch_semantics(self, spark):
        df = spark.createDataFrame(
            [
                (0, 1, "0xA", None, "2024-01-01 00:00:00", False, "2024-01-01 00:00:05"),
                (0, 1, "0xB", None, "2024-01-01 00:00:00", True, "2024-01-01 00:00:01"),
                (0, 2, "0xC", None, "2024-01-01 00:00:12", False, "2024-01-01 00:00:02"),
                (0, 2, "0xD", None, "2024-01-01 00:00:12", False, "2024-01-01 00:00:09"),
            ],
            "chain_id int, number long, hash string, parent_hash string, "
            "block_time string, finalized boolean, observed_at string",
        ).withColumn("block_time", F.col("block_time").cast("timestamp")).withColumn(
            "observed_at", F.col("observed_at").cast("timestamp")
        )
        out = {r.number: r.hash for r in resolve_forks(df).collect()}
        assert out[1] == "0xB"  # finalized wins over later observation
        assert out[2] == "0xD"  # no finalized → latest observation wins


def test_hourly_stats_and_continuity(spark, tmp_path):
    src = str(tmp_path / "src")
    (tmp_path / "src").mkdir()
    rows = []
    # hour 0: blocks 100..104 contiguous; hour 1: 110,112 (gap → not contiguous)
    for i, bn in enumerate([100, 101, 102, 103, 104]):
        rows.append(_cand(0, bn, f"0x{bn}", f"2024-01-01 00:{i:02d}:00", True, "2024-01-01 01:00:00"))
    for i, bn in enumerate([110, 112]):
        rows.append(_cand(0, bn, f"0x{bn}", f"2024-01-01 01:{i:02d}:00", True, "2024-01-01 02:00:00"))
    _write_batch(src, "b1", rows)

    stream = block_candidates_stream(spark, src)
    q = (
        hourly_block_stats(stream)
        .writeStream.format("memory")
        .queryName("hourly_stats")
        # complete mode: emit open windows too (append would hold hour 1
        # until the watermark passes its end — correct for production
        # publication, inconvenient for a bounded test)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    time.sleep(1)
    out = {r.window_start.hour: r for r in spark.sql("select * from hourly_stats").collect()}
    assert out[0].contiguous and out[0].num_blocks == 5
    assert not out[1].contiguous and out[1].num_blocks == 2


def test_gap_audit(spark):
    state = spark.createDataFrame(
        [(0, n) for n in [100, 101, 103, 105]] + [(2004, 7)],
        "chain_id int, number long",
    )
    gaps = {(r.chain_id, r.number) for r in gap_audit(state).collect()}
    assert gaps == {(0, 102), (0, 104)}


# ---------------------------------------------------------------------------
# X4: stateful cross-block matching (applyInPandasWithState)
# ---------------------------------------------------------------------------


def _msg(h, incoming, sent_at, bn, ts, chain=0, dest=2000):
    return {
        "msgHash": h,
        "incoming": incoming,
        "chainID": chain,
        "chainIDDest": dest,
        "sentAt": sent_at,
        "blockNumber": bn,
        "blockTS": ts,
    }


@pytest.fixture
def few_shuffle_partitions(spark):
    """applyInPandasWithState runs one Python task per state partition
    per micro-batch (on reused workers) — 32 partitions × multiple
    batches is pure overhead on 4-row test data. Scope it down for the
    stateful tests."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", prev)


class TestStatefulMatching:
    def test_match_across_micro_batches(self, spark, tmp_path, few_shuffle_partitions):
        """A source observed in batch 1 must match a dest arriving in
        batch 2 — the state carries the pending source across batches
        (the trailing map of indexer.js:3109-3194)."""
        from polkadot_etl_spark.streaming.stateful import (
            MESSAGE_SCHEMA,
            match_messages_stream,
        )

        src_dir = tmp_path / "msgs"
        src_dir.mkdir()
        out = []
        # batch 1: two sources, no dests; plus a full pair for hash B
        _write_batch(src_dir, "b1", [
            _msg("0xaa", 0, 100, 1000, 50_000),
            _msg("0xbb", 0, 100, 1001, 50_006),
            _msg("0xbb", 1, 102, 9001, 50_018),
        ])
        stream = (
            spark.readStream.schema(MESSAGE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(src_dir))
        )
        matched = match_messages_stream(stream, state_ttl_ms=None)

        def collect(batch_df, _bid):
            out.extend(batch_df.collect())

        # first run: only batch-1 file exists
        q = matched.writeStream.foreachBatch(collect).option(
            "checkpointLocation", str(tmp_path / "ckpt")
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)
        assert [r.msgHash for r in out] == ["0xbb"]  # pair already complete
        # batch 2: the dest for hash A arrives (plus an out-of-band lag
        # violator for a third hash that must NOT match)
        _write_batch(src_dir, "b2", [
            _msg("0xaa", 1, 103, 9000, 50_030),
            _msg("0xcc", 0, 100, 1002, 50_012),
            _msg("0xcc", 1, 110, 9002, 50_060),  # lag 10 > 4
        ])
        q = matched.writeStream.foreachBatch(collect).option(
            "checkpointLocation", str(tmp_path / "ckpt")
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)

        by_hash = {r.msgHash: r for r in out}
        assert set(by_hash) == {"0xaa", "0xbb"}
        a = by_hash["0xaa"]
        assert (a.blockNumberSource, a.blockNumberDest) == (1000, 9000)
        assert a.diffSentAt == 3 and a.diffTS == 30
        b = by_hash["0xbb"]
        assert b.diffSentAt == 2 and b.diffTS == 12

    def test_dedup_and_tie_break(self, spark, tmp_path, few_shuffle_partitions):
        """Repeated observations collapse to the earliest block (U3) and
        a dest picks the smallest-lag source (W2 total order)."""
        from polkadot_etl_spark.streaming.stateful import (
            MESSAGE_SCHEMA,
            match_messages_stream,
        )

        src_dir = tmp_path / "msgs"
        src_dir.mkdir()
        out = []
        _write_batch(src_dir, "b1", [
            _msg("0xdd", 0, 100, 1005, 50_000),   # lag 2 candidate
            _msg("0xdd", 0, 101, 1006, 50_006),   # lag 1 candidate — wins
            _msg("0xdd", 0, 101, 1009, 50_006),   # duplicate, later block → ignored
            _msg("0xdd", 1, 102, 9000, 50_030),
        ])
        stream = (
            spark.readStream.schema(MESSAGE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(src_dir))
        )

        def collect(batch_df, _bid):
            out.extend(batch_df.collect())

        q = match_messages_stream(stream, state_ttl_ms=None).writeStream.foreachBatch(collect).option(
            "checkpointLocation", str(tmp_path / "ckpt2")
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)
        assert len(out) == 1
        r = out[0]
        assert r.blockNumberSource == 1006 and r.diffSentAt == 1


    def test_timeout_path_removes_state(self):
        """hasTimedOut → state.remove() (cleanTrailingXcmMap). Driven
        directly — an availableNow run with ProcessingTimeTimeout never
        terminates while timeouts are pending, so the streaming-level TTL
        isn't testable with a bounded trigger (documented in stateful.py)."""
        import json as _json

        from polkadot_etl_spark.streaming.stateful import make_matcher

        class FakeState:
            hasTimedOut = True
            exists = True
            get = (_json.dumps([{"chainID": 0, "chainIDDest": 2000, "sentAt": 100,
                                 "blockNumber": 1, "blockTS": 5}]), "[]")
            removed = False

            def remove(self):
                self.removed = True

        st = FakeState()
        out = list(make_matcher(state_ttl_ms=1000)(("0xee",), iter([]), st))
        assert st.removed and out == []


def test_unfinalized_tip(spark):
    """X5: only candidates above the finalized frontier appear, one per
    height (latest observation wins), flagged unfinalized."""
    from polkadot_etl_spark.streaming.pipeline import unfinalized_tip

    rows = [
        _cand(1, 10, "0xa", "2024-01-01 00:00:00", True, "2024-01-01 00:00:01"),
        _cand(1, 11, "0xb1", "2024-01-01 00:01:00", False, "2024-01-01 00:01:01"),
        _cand(1, 11, "0xb2", "2024-01-01 00:01:00", False, "2024-01-01 00:01:05"),
        _cand(1, 9, "0xold", "2024-01-01 00:00:00", False, "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(
        [
            {
                **r,
                "block_time": __import__("datetime").datetime.fromisoformat(r["block_time"]),
                "observed_at": __import__("datetime").datetime.fromisoformat(r["observed_at"]),
            }
            for r in rows
        ]
    )
    out = unfinalized_tip(df).collect()
    assert len(out) == 1
    assert out[0].number == 11 and out[0].hash == "0xb2" and out[0].status == "unfinalized"


def test_stream_stream_join_with_watermarks(spark, tmp_path, few_shuffle_partitions):
    """Watermarked stream-stream XCM match: pairs within the time band
    join across micro-batches; out-of-band pairs don't."""
    import json as _json

    from pyspark.sql import functions as F  # noqa: F401

    from polkadot_etl_spark.streaming.pipeline import (
        CANDIDATE_SCHEMA,
        match_messages_stream_join,
    )

    src_dir = tmp_path / "src"
    dst_dir = tmp_path / "dst"
    src_dir.mkdir(), dst_dir.mkdir()

    def w(dirpath, name, rows):
        with open(f"{dirpath}/{name}.json", "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    def msg(h, chain, bn, t):
        return {
            "chain_id": chain, "number": bn, "hash": h + "-b", "parent_hash": None,
            "block_time": t, "finalized": True, "observed_at": t, "msgHash": h,
        }

    schema = CANDIDATE_SCHEMA.add("msgHash", "string")
    w(src_dir, "s1", [msg("0xa", 0, 100, "2024-01-01 00:00:00"),
                      msg("0xb", 0, 101, "2024-01-01 00:00:06")])
    w(dst_dir, "d1", [msg("0xa", 2000, 900, "2024-01-01 00:01:30"),   # in band (90s)
                      msg("0xb", 2000, 901, "2024-01-01 00:05:00")])  # out of band (294s)

    sources = spark.readStream.schema(schema).json(str(src_dir))
    dests = spark.readStream.schema(schema).json(str(dst_dir))
    out = []
    q = (
        match_messages_stream_join(sources, dests)
        .writeStream.foreachBatch(lambda b, _: out.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert [r.msgHash for r in out] == ["0xa"]
    assert (out[0].blockNumberSource, out[0].blockNumberDest) == (100, 900)


def test_socket_ingestion_end_to_end(spark):
    """S1 over a LIVE network boundary: a localhost TCP server streams
    NDJSON block candidates (the WS-bridge shape), the socket source
    parses them against CANDIDATE_SCHEMA (malformed lines drop, never
    fail the stream), and fork resolution picks the finalized winner —
    proving the ingestion path end to end, not via a file stand-in."""
    import json
    import socket
    import threading

    from polkadot_etl_spark.streaming.pipeline import (
        block_candidates_socket_stream,
        resolve_forks,
    )

    lines = [
        json.dumps(
            {
                "chain_id": 0,
                "number": 100,
                "hash": h,
                "parent_hash": "0xp",
                "block_time": "2024-01-01 00:00:00",
                "finalized": fin,
                "observed_at": f"2024-01-01 00:00:0{i}",
            }
        )
        for i, (h, fin) in enumerate(
            [("0xa", False), ("0xb", False), ("0xa", True)]
        )
    ] + ["this is not json"]

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def serve():
        conn, _ = srv.accept()
        conn.sendall(("\n".join(lines) + "\n").encode())
        # keep the connection open until the test closes the server —
        # the socket source treats EOF as stream end mid-batch otherwise
        try:
            conn.recv(1)
        except OSError:
            pass

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    stream = block_candidates_socket_stream(spark, "127.0.0.1", port)
    q = (
        stream.writeStream.format("memory")
        .queryName("socket_candidates")
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.table("socket_candidates").count() >= 3:
                break
            time.sleep(0.3)
        got = spark.table("socket_candidates")
        assert got.count() == 3  # the malformed line dropped
        winner = resolve_forks(got).collect()
        assert len(winner) == 1
        assert winner[0].hash == "0xa" and winner[0].finalized
    finally:
        q.stop()
        srv.close()


def test_streaming_dump_replay_finality_semantics(spark):
    """The end-to-end day-dump replay's streaming-specific contracts,
    beyond the oracle hash: never-finalized (5-LOW) blocks are absent
    from the published set (X2), fork losers never surface (every
    published count traces to a 0xb winner — a 0xf winner would change
    day membership), and the replayed wave-2 delivery is idempotent
    (total published blocks == count of finalizable orders, no
    double-publish)."""
    from polkadot_etl_spark.queries.pipelines import (
        _SDR_KEYS,
        streaming_dump_replay,
    )
    from polkadot_etl_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR

    rows = streaming_dump_replay(spark, SF_DIR).collect()
    o = (
        load_table(spark, SF_DIR, "orders")
        .where(F.col("o_orderkey") < _SDR_KEYS)
        .select("o_orderkey", "o_orderpriority")
        .collect()
    )
    publishable = [r for r in o if r["o_orderpriority"] != "5-LOW"]
    assert len(publishable) < len(o), "fixture lost its 5-LOW gap source"
    # idempotent publish: exactly one block per finalizable order
    assert sum(r["num_blocks"] for r in rows) == len(publishable)
    # the never-finalized blocks create genuine in-range gaps somewhere
    assert sum(r["num_missing"] for r in rows) > 0
    assert any(not r["loaded"] for r in rows)
    # day partitioning: one gold row per distinct published day
    days = {r["log_dt"] for r in rows}
    assert len(days) == len(rows)
