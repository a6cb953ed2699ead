"""streaming/corpus.py — the streaming ingest must apply the EXACT batch
quality gate, dedup first-occurrence against digest state across
micro-batches, match the batch dedup_exact rule under in-order arrival,
and land idempotent per-batch accounting."""

from __future__ import annotations

import json
import pathlib

from pyspark.sql import functions as F

from polkadot_etl_spark.streaming.corpus import (
    corpus_ingest_stream,
    dedup_first_occurrence,
    document_stream,
    quality_gated,
)

GOOD = "alpha beta gamma delta epsilon zeta eta theta iota kappa"  # keep=True
SPAM = "spam spam spam spam spam spam spam spam spam spam"  # top_word_frac=1.0
OTHER = "one two three four five six seven eight nine ten eleven"


def _write_ndjson(path: pathlib.Path, rows: list[dict]) -> None:
    path.write_text("\n".join(json.dumps(r) for r in rows) + "\n")


def _mk_dirs(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return src, str(tmp_path / "chk"), str(tmp_path / "acct")


def _run_to_memory(spark, src_dir, name, ttl_ms=None):
    q = (
        dedup_first_occurrence(
            quality_gated(document_stream(spark, str(src_dir))), ttl_ms
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return {
        r["doc_id"]: r.asDict() for r in spark.sql(f"SELECT * FROM {name}").collect()
    }


def test_stream_dedup_matches_batch_rule_in_order(spark, tmp_path):
    src, _, _ = _mk_dirs(tmp_path)
    # batch 1 (file order = lexicographic): intra-batch dup pair + spam
    _write_ndjson(
        src / "a.json",
        [
            {"doc_id": 1, "text": GOOD, "lang": "en", "source": "s0"},
            {"doc_id": 2, "text": GOOD, "lang": "en", "source": "s0"},
            {"doc_id": 3, "text": SPAM, "lang": "en", "source": "s0"},
        ],
    )
    # batch 2: cross-batch dup of GOOD + a fresh doc
    _write_ndjson(
        src / "b.json",
        [
            {"doc_id": 10, "text": GOOD, "lang": "en", "source": "s1"},
            {"doc_id": 11, "text": OTHER, "lang": "en", "source": "s1"},
        ],
    )
    out = _run_to_memory(spark, src, "corpus_inorder")
    assert len(out) == 5
    # intra-batch: 1 canonical, 2 duplicate-of-1
    assert out[1]["is_first"] and out[1]["canonical_id"] == 1
    assert not out[2]["is_first"] and out[2]["canonical_id"] == 1
    # cross-batch: state remembers digest -> canonical 1
    assert not out[10]["is_first"] and out[10]["canonical_id"] == 1
    assert out[11]["is_first"] and out[11]["canonical_id"] == 11
    # the SHARED batch gate: spam fails, everything else keeps
    assert not out[3]["keep"]
    assert all(out[i]["keep"] for i in (1, 2, 10, 11))

    # equals the batch dedup_exact rule (min doc_id per digest) on the
    # union of both files — in-order arrival, so the rules coincide
    docs = spark.createDataFrame(
        [(i, t) for i, t in
         [(1, GOOD), (2, GOOD), (3, SPAM), (10, GOOD), (11, OTHER)]],
        "doc_id LONG, text STRING",
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.md5(F.lower(F.trim("text"))))
    batch = {
        r["doc_id"]: r["canonical_id"]
        for r in docs.select(
            "doc_id", F.min("doc_id").over(w).alias("canonical_id")
        ).collect()
    }
    assert {i: out[i]["canonical_id"] for i in out} == batch


def test_dedup_timeout_path_removes_state():
    """hasTimedOut → state.remove() (the TTL'd-frontier semantics: an
    expired digest re-admits). Driven directly — same rationale as
    stateful.py's timeout test: an availableNow run with
    ProcessingTimeTimeout never terminates while timeouts are pending."""
    from polkadot_etl_spark.streaming.corpus import make_dedup

    class FakeState:
        hasTimedOut = True
        exists = True
        get = (7, 3)
        removed = False

        def remove(self):
            self.removed = True

    st = FakeState()
    out = list(make_dedup(state_ttl_ms=1000)(("deadbeef",), iter([]), st))
    assert st.removed and out == []


def test_dedup_state_ttl_is_rearmed_per_batch():
    """With a TTL configured, every processed batch re-arms the timeout
    (setTimeoutDuration) and updates the ledger tuple."""
    import pandas as pd

    from polkadot_etl_spark.streaming.corpus import make_dedup

    class FakeState:
        hasTimedOut = False
        exists = False
        updated = None
        ttl = None

        def update(self, v):
            self.updated = v
            self.exists = True

        def setTimeoutDuration(self, ms):
            self.ttl = ms

    st = FakeState()
    pdf = pd.DataFrame(
        [
            {"doc_id": 9, "digest": "d", "source": "s0", "keep": True},
            {"doc_id": 5, "digest": "d", "source": "s0", "keep": True},
        ]
    )
    out = pd.concat(list(make_dedup(state_ttl_ms=250)(("d",), iter([pdf]), st)))
    # rows process in doc_id order: 5 is canonical even though listed second
    assert list(out.sort_values("doc_id")["canonical_id"]) == [5, 5]
    assert list(out.sort_values("doc_id")["is_first"]) == [True, False]
    assert st.updated == (5, 2)
    assert st.ttl == 250


def test_dedup_multi_chunk_group_uses_batch_min():
    """A group spanning multiple Arrow chunks must pin the BATCH min as
    canonical — per-chunk sorting would pin the first chunk's min (the
    hazard fixed in make_dedup; same fix in neardedup's matcher)."""
    import pandas as pd

    from polkadot_etl_spark.streaming.corpus import make_dedup

    class FakeState:
        hasTimedOut = False
        exists = False
        updated = None

        def update(self, v):
            self.updated = v
            self.exists = True

    chunk1 = pd.DataFrame([{"doc_id": 9, "digest": "d", "source": "s", "keep": True}])
    chunk2 = pd.DataFrame([{"doc_id": 4, "digest": "d", "source": "s", "keep": True}])
    st = FakeState()
    out = pd.concat(list(make_dedup()(("d",), iter([chunk1, chunk2]), st)))
    rows = {int(r.doc_id): r for r in out.itertuples(index=False)}
    assert rows[4].is_first and rows[4].canonical_id == 4
    assert not rows[9].is_first and rows[9].canonical_id == 4
    assert st.updated == (4, 2)


def test_accounting_sink_null_source_and_collision(spark, tmp_path):
    """A NULL source sentinels to '__null__' (json sort_keys would raise
    on a None key); a literal source NAMED like the sentinel must fail
    LOUDLY instead of silently merging with the null row."""
    import pytest

    from polkadot_etl_spark.streaming.corpus import ingest_accounting_sink

    acct = str(tmp_path / "acct")
    ok = spark.createDataFrame(
        [(1, "d", None, True, True, 1), (2, "e", "s0", True, True, 2)],
        "doc_id LONG, digest STRING, source STRING, keep BOOLEAN,"
        " is_first BOOLEAN, canonical_id LONG",
    )
    ingest_accounting_sink(acct)(ok, 0)
    payload = json.loads((pathlib.Path(acct) / "batch-00000000.json").read_text())
    assert payload["sources"]["__null__"]["n_in"] == 1
    assert payload["sources"]["s0"]["n_in"] == 1

    clash = spark.createDataFrame(
        [(1, "d", None, True, True, 1), (2, "e", "__null__", True, True, 2)],
        "doc_id LONG, digest STRING, source STRING, keep BOOLEAN,"
        " is_first BOOLEAN, canonical_id LONG",
    )
    with pytest.raises(ValueError, match="collision"):
        ingest_accounting_sink(acct)(clash, 1)


def test_out_of_order_arrival_is_first_arrival_wins(spark, tmp_path):
    src, _, _ = _mk_dirs(tmp_path)
    _write_ndjson(src / "a.json", [{"doc_id": 7, "text": GOOD, "source": "s0", "lang": "en"}])
    _write_ndjson(src / "b.json", [{"doc_id": 4, "text": GOOD, "source": "s0", "lang": "en"}])
    out = _run_to_memory(spark, src, "corpus_ooo")
    # 7 arrived first -> canonical stays 7 (NOT batch's min id 4): the
    # documented streaming-native divergence a backfill must account for
    assert out[7]["is_first"] and out[7]["canonical_id"] == 7
    assert not out[4]["is_first"] and out[4]["canonical_id"] == 7


def test_ingest_accounting_sink_counts_and_shape(spark, tmp_path):
    src, chk, acct = _mk_dirs(tmp_path)
    _write_ndjson(
        src / "a.json",
        [
            {"doc_id": 1, "text": GOOD, "lang": "en", "source": "s0"},
            {"doc_id": 2, "text": GOOD, "lang": "en", "source": "s0"},
            {"doc_id": 3, "text": SPAM, "lang": "en", "source": "s1"},
        ],
    )
    q = corpus_ingest_stream(spark, str(src), chk, acct)
    q.processAllAvailable()
    q.stop()
    files = sorted(pathlib.Path(acct).glob("batch-*.json"))
    assert files, "no accounting files written"
    payload = json.loads(files[-1].read_text())
    assert payload["sources"]["s0"] == {"n_in": 2, "n_quality": 2, "n_unique": 1}
    assert payload["sources"]["s1"] == {"n_in": 1, "n_quality": 0, "n_unique": 1}
    # idempotence: re-applying the same batch overwrites to identical bytes
    before = files[-1].read_text()
    from polkadot_etl_spark.streaming.corpus import ingest_accounting_sink

    batch_df = spark.createDataFrame(
        [(1, "d", "s0", True, True, 1), (2, "d", "s0", True, False, 1),
         (3, "e", "s1", False, True, 3)],
        "doc_id LONG, digest STRING, source STRING, keep BOOLEAN,"
        " is_first BOOLEAN, canonical_id LONG",
    )
    ingest_accounting_sink(acct)(batch_df, payload["batch_id"])
    assert files[-1].read_text() == before


# ---------------------------------------------------------------------------
# streaming/replay.py — the bounded-replay harness must size state
# partitions WITHOUT mutating the caller's session conf (r13 VERDICT
# item 2: the in-place override bled into concurrently-planning driver
# threads, e.g. corpus_daily_increment_replay's overlapped training leg)
# ---------------------------------------------------------------------------


def test_replay_session_is_isolated_and_sized(spark):
    from polkadot_etl_spark.streaming.replay import (
        STATE_ROWS_PER_PARTITION,
        replay_session,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    ss = replay_session(spark, STATE_ROWS_PER_PARTITION + 1)
    assert ss is not spark
    # clone: sized partitions, inherited timezone, SHARED SparkContext
    assert ss.conf.get("spark.sql.shuffle.partitions") == "2"
    assert ss.conf.get("spark.sql.session.timeZone") == spark.conf.get(
        "spark.sql.session.timeZone"
    )
    assert ss.sparkContext is spark.sparkContext
    # the caller's conf never changed
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_run_bounded_stream_always_stops(spark, tmp_path, monkeypatch):
    """A failing foreachBatch sink must surface its error to the caller
    and leave no streaming query running on the session; so must a wait
    that is interrupted while the query itself is still healthy."""
    import pytest
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.streaming.query import StreamingQuery

    from polkadot_etl_spark.streaming.replay import run_bounded_stream

    src, _, _ = _mk_dirs(tmp_path)
    _write_ndjson(src / "a.json", [{"doc_id": 1, "text": GOOD, "lang": "en", "source": "s0"}])
    before = {q.id for q in spark.streams.active}

    def sink(_batch_df, _batch_id):
        raise RuntimeError("sink failed on purpose")

    with pytest.raises(StreamingQueryException, match="sink failed on purpose"):
        run_bounded_stream(document_stream(spark, str(src)), str(tmp_path / "w1"), sink)
    assert {q.id for q in spark.streams.active} == before

    def interrupted(_self):
        raise KeyboardInterrupt

    monkeypatch.setattr(StreamingQuery, "processAllAvailable", interrupted)
    with pytest.raises(KeyboardInterrupt):
        run_bounded_stream(
            document_stream(spark, str(src)), str(tmp_path / "w2"), lambda b, i: None
        )
    assert {q.id for q in spark.streams.active} == before


def test_collect_bounded_stream_never_mutates_caller_conf(spark, tmp_path):
    """A concurrent driver thread polling the caller's session conf for
    the stream's whole lifetime must never observe the replay sizing —
    the exact observation the r13 in-place override failed."""
    import threading

    from polkadot_etl_spark.streaming.corpus import DEDUP_OUT_SCHEMA
    from polkadot_etl_spark.streaming.replay import collect_bounded_stream

    src, _, _ = _mk_dirs(tmp_path)
    _write_ndjson(
        src / "a.json",
        [
            {"doc_id": 1, "text": GOOD, "lang": "en", "source": "s0"},
            {"doc_id": 2, "text": GOOD, "lang": "en", "source": "s0"},
        ],
    )
    before = spark.conf.get("spark.sql.shuffle.partitions")
    seen: set[str] = set()
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            seen.add(spark.conf.get("spark.sql.shuffle.partitions"))

    t = threading.Thread(target=poll, daemon=True)
    t.start()
    try:
        pdf = collect_bounded_stream(
            lambda ss: dedup_first_occurrence(
                quality_gated(document_stream(ss, str(src)))
            ),
            str(tmp_path / "work"),
            DEDUP_OUT_SCHEMA,
            spark,
            n_rows=2,  # sizes the clone to ONE state partition
        )
    finally:
        stop.set()
        t.join(timeout=10)
    assert seen == {before}, f"caller conf mutated during stream: {seen}"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # the stream still ran (both docs out, dup resolved to canonical 1)
    assert sorted(pdf["doc_id"]) == [1, 2]
    assert sorted(pdf["canonical_id"]) == [1, 1]
