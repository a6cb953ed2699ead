"""X4: stateful cross-block XCM matching over a message stream.

The reference keeps a trailing in-memory map of XCM message candidates
across blocks while indexing, matches source/dest observations as they
arrive, and cleans entries after N blocks (reference indexer.js:3109-3194
cleanTrailingXcmMap; the async batch variant is xcmmanager.js:417-497).

Spark mapping: ``match_messages_stream`` is the one streaming form —
``applyInPandasWithState`` over groupBy(msgHash). Each message hash owns
a tiny state (unmatched source/dest observations); matching is
incremental per micro-batch and emits a match exactly once, when the
second side arrives. A processing-time timeout expires idle hashes,
bounding state exactly like cleanTrailingXcmMap bounds the map.

Semantics match the batch operator (plans/xcm.match_messages): band
0 <= sentAtDest - sentAtSource <= max_sent_lag, first-match-wins per dest
ordered by (diffSentAt, diffTS, blockNumberSource) — a total order, so
the incremental output equals the batch output when fed the same data.

Scale notes: state is partitioned by msgHash (the natural shard key —
the reference's map key); each group holds only unmatched observations
for one hash, so state size is O(in-flight messages), not O(history).
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("msgHash", T.StringType(), False),
        T.StructField("incoming", T.IntegerType(), False),  # 0 = source, 1 = dest
        T.StructField("chainID", T.IntegerType(), False),
        T.StructField("chainIDDest", T.IntegerType(), False),
        T.StructField("sentAt", T.LongType(), False),
        T.StructField("blockNumber", T.LongType(), False),
        T.StructField("blockTS", T.LongType(), False),
    ]
)

MATCH_SCHEMA = T.StructType(
    [
        T.StructField("msgHash", T.StringType(), False),
        T.StructField("chainID", T.IntegerType(), False),
        T.StructField("chainIDDest", T.IntegerType(), False),
        T.StructField("blockNumberSource", T.LongType(), False),
        T.StructField("blockNumberDest", T.LongType(), False),
        T.StructField("sentAtSource", T.LongType(), False),
        T.StructField("sentAtDest", T.LongType(), False),
        T.StructField("diffSentAt", T.LongType(), False),
        T.StructField("diffTS", T.LongType(), False),
    ]
)

# state = the unmatched observations for one msgHash, JSON-encoded (a
# stable wire format for GroupState across Spark versions)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("sources", T.StringType(), True),
        T.StructField("dests", T.StringType(), True),
    ]
)


def _match_pending(
    sources: list[dict[str, Any]],
    dests: list[dict[str, Any]],
    max_sent_lag: int,
) -> tuple[list[dict[str, Any]], list[dict[str, Any]], list[dict[str, Any]]]:
    """Greedy first-match-wins: dests in (sentAt, blockNumber) order each
    claim the best eligible source by (diffSentAt, diffTS, blockNumber) —
    the same total order as the batch window in plans/xcm.py."""
    matches = []
    free = sorted(sources, key=lambda s: (s["sentAt"], s["blockTS"], s["blockNumber"]))
    for d in sorted(dests, key=lambda x: (x["sentAt"], x["blockNumber"])):
        best = None
        for s in free:
            if s["chainID"] != d["chainID"] or s["chainIDDest"] != d["chainIDDest"]:
                continue
            lag = d["sentAt"] - s["sentAt"]
            if 0 <= lag <= max_sent_lag:
                cand = (lag, d["blockTS"] - s["blockTS"], s["blockNumber"])
                if best is None or cand < best[0]:
                    best = (cand, s)
        if best is not None:
            s = best[1]
            free.remove(s)
            d["_matched"] = True
            matches.append(
                {
                    "chainID": s["chainID"],
                    "chainIDDest": s["chainIDDest"],
                    "blockNumberSource": s["blockNumber"],
                    "blockNumberDest": d["blockNumber"],
                    "sentAtSource": s["sentAt"],
                    "sentAtDest": d["sentAt"],
                    "diffSentAt": d["sentAt"] - s["sentAt"],
                    "diffTS": d["blockTS"] - s["blockTS"],
                }
            )
    return matches, free, [d for d in dests if not d.get("_matched")]


def make_matcher(max_sent_lag: int = 4, state_ttl_ms: int | None = 120_000):
    """Build the applyInPandasWithState function. TTL mirrors the
    reference's 120 s match window (xcmmanager.js:421-423). With
    ``state_ttl_ms=None`` state never expires (NoTimeout) — note that an
    availableNow run with a TTL keeps scheduling no-data micro-batches
    until every pending timeout has fired, so bounded backfills either
    pass None or accept the drain time."""

    def matcher(
        key: tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (msg_hash,) = key
        if state.hasTimedOut:
            # cleanTrailingXcmMap: drop unmatched observations for idle hashes
            state.remove()
            return
        if state.exists:
            src_json, dst_json = state.get
            sources = json.loads(src_json) if src_json else []
            dests = json.loads(dst_json) if dst_json else []
        else:
            sources, dests = [], []
        for pdf in pdfs:
            for row in pdf.itertuples(index=False):
                obs = {
                    "chainID": int(row.chainID),
                    "chainIDDest": int(row.chainIDDest),
                    "sentAt": int(row.sentAt),
                    "blockNumber": int(row.blockNumber),
                    "blockTS": int(row.blockTS),
                }
                # U3 dedup: the same observation re-sent across blocks keeps
                # its earliest blockNumber (xcmmessages_dedup semantics)
                side = sources if int(row.incoming) == 0 else dests
                existing = next((o for o in side if o["sentAt"] == obs["sentAt"]), None)
                if existing is None:
                    side.append(obs)
                elif obs["blockNumber"] < existing["blockNumber"]:
                    existing.update(obs)
        matches, sources, dests = _match_pending(sources, dests, max_sent_lag)
        state.update((json.dumps(sources), json.dumps(dests)))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        if matches:
            out = pd.DataFrame(matches)
            out.insert(0, "msgHash", msg_hash)
            yield out

    return matcher


def match_messages_stream(
    messages: DataFrame, max_sent_lag: int = 4, state_ttl_ms: int | None = 120_000
) -> DataFrame:
    """Streaming X4 operator: matched XCM pairs, emitted incrementally."""
    timeout = (
        GroupStateTimeout.NoTimeout
        if state_ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return messages.groupBy("msgHash").applyInPandasWithState(
        make_matcher(max_sent_lag, state_ttl_ms),
        outputStructType=MATCH_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )

