"""Domain-pipeline correctness on the FIXTURES.md synthetic tables.

Where the semantics are SQL-expressible, the pipeline output is compared
against a DuckDB oracle over the SAME fixture parquet (the same gate the
driver applies to registry queries). Recursive / scoring pipelines
(call-tree flattening, XCM confidence) are checked against hand-derived
invariants and known fixture cases instead.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from polkadot_etl_spark.plans import (
    account_change_events,
    accounts_active,
    accounts_new_reaped,
    accounts_passive,
    best_by_liquidity,
    blocklog_daily,
    calls_from_extrinsics,
    match_messages,
    match_transfers,
    ohlcv_rollup,
    transfers_from_events,
    with_price_usd,
    xcm_channel_summary,
)
from tests.conftest import compare_frames


@pytest.fixture(scope="session")
def fx(spark, tmp_path_factory):
    """Fixture parquet dir + loaded DataFrames + DuckDB views over them."""
    from tests.fixtures import write_fixtures

    out = str(tmp_path_factory.mktemp("domain_fixtures"))
    paths = write_fixtures(spark, out)
    dfs = {name: spark.read.parquet(path) for name, path in paths.items()}
    con = duckdb.connect()
    for name, path in paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}/*.parquet'")
    return {"dfs": dfs, "con": con}


# ---------------------------------------------------------------------------
# F2: call-tree flattening
# ---------------------------------------------------------------------------


class TestCallsFromExtrinsics:
    def test_structure_invariants(self, fx):
        dfs = fx["dfs"]
        calls = calls_from_extrinsics(dfs["extrinsics"], dfs["events"], "polkadot", 0).cache()
        roots = calls.where(F.col("root"))
        # every successful extrinsic produces exactly one root call
        n_success = (
            dfs["events"]
            .where((F.col("section") == "system") & (F.col("method") == "ExtrinsicSuccess"))
            .select("extrinsic_id")
            .dropDuplicates()
            .join(dfs["extrinsics"], "extrinsic_id", "left_semi")
            .count()
        )
        assert roots.count() == n_success
        # fee/weight attach at the root only (substrateetl.js:6409-6416)
        assert calls.where(~F.col("root") & F.col("fee").isNotNull()).count() == 0
        # path ids: children extend the parent path
        non_roots = calls.where(~F.col("root"))
        assert non_roots.where(~F.col("call_id").startswith("0-")).count() == 0

    def test_nested_batch_depth(self, fx):
        dfs = fx["dfs"]
        calls = calls_from_extrinsics(dfs["extrinsics"], dfs["events"], "polkadot", 0)
        deep = calls.where(F.col("call_id") == "0-1-0")
        # fixture writes utility:batch[inner, utility:batch[inner, staking:bond]]
        # every 6th block → depth-3 nodes must exist and be leaves
        rows = deep.collect()
        assert rows, "expected depth-3 call nodes from nested utility:batch"
        assert all(r.leaf for r in rows)
        assert {r.call_section for r in rows} == {"balances"}
        # the nested batch node itself is neither root nor leaf
        mid = calls.where(F.col("call_id") == "0-1").collect()
        assert mid and all((not r.root) and (not r.leaf) for r in mid)

    def test_failed_extrinsics_produce_no_calls(self, fx):
        dfs = fx["dfs"]
        calls = calls_from_extrinsics(dfs["extrinsics"], dfs["events"], "polkadot", 0)
        failed = (
            dfs["events"]
            .where(F.col("method") == "ExtrinsicFailed")
            .select("extrinsic_id")
            .dropDuplicates()
        )
        assert calls.join(failed, "extrinsic_id", "left_semi").count() == 0


# ---------------------------------------------------------------------------
# F3: transfers extraction — vs DuckDB oracle on JSON positions
# ---------------------------------------------------------------------------


def test_transfers_from_events_oracle(fx):
    dfs, con = fx["dfs"], fx["con"]
    out = transfers_from_events(dfs["events"]).select(
        "event_id", "section", "method", "from_pub_key", "to_pub_key",
        F.col("raw_amount").cast("string").alias("raw_amount"), "amount",
    )
    oracle = con.execute("""
        SELECT event_id, section, method,
               CASE WHEN section = 'balances' THEN data->>0 ELSE data->>1 END AS from_pub_key,
               CASE WHEN section = 'balances' THEN data->>1 ELSE data->>2 END AS to_pub_key,
               CASE WHEN section = 'balances' THEN data->>2 ELSE data->>3 END AS raw_amount,
               CAST(CASE WHEN section = 'balances' THEN data->>2 ELSE data->>3 END AS DOUBLE)
                 / 1e10 AS amount
        FROM events
        WHERE section || ':' || method IN
              ('balances:Transfer','tokens:Transfer','currencies:Transferred','assets:Transferred')
    """).df()
    compare_frames(out.toPandas(), oracle, "transfers_from_events")


def test_transfer_ss58_encoding_roundtrip(fx):
    from polkadot_etl_spark.functions import scalars as sc

    row = transfers_from_events(fx["dfs"]["events"]).select("from_ss58", "from_pub_key").first()
    assert sc.get_pubkey(row.from_ss58) == row.from_pub_key


# ---------------------------------------------------------------------------
# A1: blocklog daily — vs oracle
# ---------------------------------------------------------------------------


def test_blocklog_daily_oracle(fx):
    dfs, con = fx["dfs"], fx["con"]
    transfers = transfers_from_events(dfs["events"])
    out = blocklog_daily(dfs["extrinsics"], transfers).select(
        F.date_format("log_dt", "yyyy-MM-dd").alias("log_dt"),
        "num_extrinsics", "num_signed_extrinsics", "num_active_signers", "num_transfers",
    )
    oracle = con.execute("""
        WITH ext AS (
          SELECT strftime(block_time, '%Y-%m-%d') AS log_dt,
                 COUNT(*) AS num_extrinsics,
                 COUNT(*) FILTER (WHERE signed) AS num_signed_extrinsics,
                 COUNT(DISTINCT signer_pub_key) FILTER (WHERE signed) AS num_active_signers
          FROM extrinsics GROUP BY 1
        ),
        xf AS (
          SELECT strftime(block_time, '%Y-%m-%d') AS log_dt, COUNT(*) AS num_transfers
          FROM events
          WHERE section || ':' || method IN
              ('balances:Transfer','tokens:Transfer','currencies:Transferred','assets:Transferred')
          GROUP BY 1
        )
        SELECT e.log_dt, e.num_extrinsics, e.num_signed_extrinsics, e.num_active_signers,
               xf.num_transfers
        FROM ext e LEFT JOIN xf USING (log_dt)
    """).df()
    compare_frames(out.toPandas(), oracle, "blocklog_daily")


# ---------------------------------------------------------------------------
# A4/J9 + day-diff: account lifecycle — vs oracles
# ---------------------------------------------------------------------------


def test_accounts_active_oracle(fx):
    dfs, con = fx["dfs"], fx["con"]
    out = accounts_active(dfs["extrinsics"], dfs["blocks"]).select(
        F.date_format("log_dt", "yyyy-MM-dd").alias("log_dt"),
        "address_pubkey", "account_type",
    )
    oracle = con.execute("""
        SELECT strftime(d, '%Y-%m-%d') AS log_dt, address_pubkey,
               MAX(account_type) AS account_type
        FROM (
          SELECT CAST(block_time AS DATE) AS d, signer_pub_key AS address_pubkey,
                 'User' AS account_type
          FROM extrinsics WHERE signed
          UNION ALL
          SELECT CAST(block_time AS DATE) AS d, author_pub_key, 'System'
          FROM blocks WHERE author_pub_key IS NOT NULL
        ) u GROUP BY d, address_pubkey
    """).df()
    compare_frames(out.toPandas(), oracle, "accounts_active")


def test_accounts_passive_excludes_active(fx):
    dfs = fx["dfs"]
    transfers = transfers_from_events(dfs["events"])
    active = accounts_active(dfs["extrinsics"], dfs["blocks"])
    passive = accounts_passive(transfers, active)
    # no overlap by construction (the J9 anti-join)
    overlap = passive.join(
        active.select("log_dt", "address_pubkey"), ["log_dt", "address_pubkey"], "left_semi"
    )
    assert overlap.count() == 0
    assert passive.count() > 0  # fixture guarantees never-signing recipients


def test_accounts_new_reaped_oracle(fx):
    dfs, con = fx["dfs"], fx["con"]
    out = accounts_new_reaped(dfs["balances"]).select(
        F.date_format("log_dt", "yyyy-MM-dd").alias("log_dt"),
        "address_pubkey", "account_type",
    )
    oracle = con.execute("""
        WITH p AS (SELECT DISTINCT address_pubkey, CAST(ts AS DATE) AS d FROM balances)
        SELECT strftime(d, '%Y-%m-%d') AS log_dt, address_pubkey, 'New' AS account_type
        FROM p a WHERE NOT EXISTS
          (SELECT 1 FROM p b WHERE b.address_pubkey = a.address_pubkey AND b.d = a.d - 1)
        UNION ALL
        SELECT strftime(d + 1, '%Y-%m-%d'), address_pubkey, 'Reaped'
        FROM p a WHERE NOT EXISTS
          (SELECT 1 FROM p b WHERE b.address_pubkey = a.address_pubkey AND b.d = a.d + 1)
    """).df()
    compare_frames(out.toPandas(), oracle, "accounts_new_reaped")


def test_balances_rollup_chain_partition(spark):
    """Multi-chain balances_day_rollup(chain_col=...): the prior-day lag
    and the per-address lifecycle window both key by chain — the same
    address on two chains has independent lifecycles, and a chain's
    FIRST day sees a NULL prior (nullified counts) regardless of what
    other chains published that day (r7 verdict task #6; the reference's
    blocklog is per-chain, substrateetl.js:9369-9428)."""
    from polkadot_etl_spark.plans.metrics import balances_day_rollup

    rows = [
        # chain X: 2 addrs on d1; same 2 + 1 new on d2 (rat 1/3 <= 0.5)
        ("X", "a1", "sa1", "2024-01-01 01:00:00"),
        ("X", "a2", "sa2", "2024-01-01 01:00:00"),
        ("X", "a1", "sa1", "2024-01-02 01:00:00"),
        ("X", "a2", "sa2", "2024-01-02 01:00:00"),
        ("X", "a3", "sa3", "2024-01-02 01:00:00"),
        # chain Y: first day is d2 — prior NULL, lifecycle counts nullify;
        # address a1 also exists on Y (independent of X's a1)
        ("Y", "a1", "sa1", "2024-01-02 01:00:00"),
    ]
    balances = spark.createDataFrame(
        rows, "chain_id string, address_pubkey string, address_ss58 string, ts_s string"
    ).select("chain_id", "address_pubkey", "address_ss58", F.col("ts_s").cast("timestamp").alias("ts"))
    out = {
        (r.chain_id, str(r.log_dt)): (
            r.num_addresses, r.num_new_accounts, r.num_reaped_accounts
        )
        for r in balances_day_rollup(balances, chain_col="chain_id").collect()
    }
    # X d1: first day -> both lifecycle counts nullified
    assert out[("X", "2024-01-01")][0] == 2
    assert out[("X", "2024-01-01")][1] is None
    # X d2: 3 addrs, 1 new kept (1 <= (1+2)*0.5), 0 reaped
    assert out[("X", "2024-01-02")] == (3, 1, 0)
    # Y d2: chain's own first day -> prior NULL -> nullified, even though
    # chain X has a d1 row (an unpartitioned lag would leak X's prior)
    assert out[("Y", "2024-01-02")][0] == 1
    assert out[("Y", "2024-01-02")][1] is None


# ---------------------------------------------------------------------------
# J1/W2/U3: XCM message matching — vs oracle
# ---------------------------------------------------------------------------


def test_match_messages_oracle(fx):
    dfs, con = fx["dfs"], fx["con"]
    out = match_messages(dfs["xcmmessages"]).select(
        "msgHash", "blockNumberSource", "blockNumberDest", "diffSentAt",
    )
    oracle = con.execute("""
        WITH dedup AS (
          SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY msgHash, incoming, sentAt
                                         ORDER BY blockNumber) AS rn
            FROM xcmmessages) WHERE rn = 1
        ),
        j AS (
          SELECT s.msgHash, s.blockNumber AS blockNumberSource,
                 d.blockNumber AS blockNumberDest,
                 d.sentAt - s.sentAt AS diffSentAt,
                 d.destTS - s.sourceTS AS diffTS
          FROM dedup s JOIN dedup d
            ON s.msgHash = d.msgHash AND s.chainID = d.chainID
           AND s.chainIDDest = d.chainIDDest
          WHERE s.incoming = 0 AND d.incoming = 1
            AND d.sentAt - s.sentAt BETWEEN 0 AND 4
        )
        SELECT msgHash, blockNumberSource, blockNumberDest, diffSentAt
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY msgHash, blockNumberDest
                  ORDER BY diffSentAt, diffTS, blockNumberSource) AS rn FROM j)
        WHERE rn = 1
    """).df()
    compare_frames(out.toPandas(), oracle, "match_messages")


def test_match_messages_excludes_out_of_band(fx):
    out = match_messages(fx["dfs"]["xcmmessages"])
    assert out.where(F.col("diffSentAt") > 4).count() == 0
    # fixture: k % 6 == 5 pairs have lag 5 → unmatched, EXCEPT k % 7 == 0
    # which also emits a second candidate capped at lag 4 (matchable)
    matched_hashes = {r.msgHash for r in out.select("msgHash").collect()}
    unmatchable = {"0x" + f"{k:064x}" for k in range(40) if k % 6 == 5 and k % 7 != 0}
    assert not (matched_hashes & unmatchable)


# ---------------------------------------------------------------------------
# J2/A6: XCM transfer fuzzy match — invariants on fixture cases
# ---------------------------------------------------------------------------


class TestMatchTransfers:
    def test_exact_matches_confidence_one(self, fx):
        dfs = fx["dfs"]
        m = match_transfers(dfs["xcmtransfer"], dfs["xcmtransferdestcandidate"]).cache()
        exact = m.where(
            (F.col("amountReceived") + F.col("xcmTeleportFees")) == F.col("amountSent")
        )
        assert exact.count() > 0
        assert exact.where(F.col("confidence") != 1.0).count() == 0

    def test_one_match_per_transfer_and_no_strays(self, fx):
        dfs = fx["dfs"]
        m = match_transfers(dfs["xcmtransfer"], dfs["xcmtransferdestcandidate"])
        dup = m.groupBy("extrinsicID", "transferIndex", "xcmIndex").count().where("count > 1")
        assert dup.count() == 0
        assert m.where(F.col("c_destTS").isNull()).count() == 0
        # the stray candidate's msgHash never appears
        assert m.where(F.col("msgHash") == "0x" + "ee" * 32).count() == 0

    def test_summary_rolls_up(self, fx):
        dfs = fx["dfs"]
        m = match_transfers(dfs["xcmtransfer"], dfs["xcmtransferdestcandidate"])
        s = xcm_channel_summary(m)
        row = s.first()
        assert row.num_transfers >= 1 and row.sum_usd > 0


# ---------------------------------------------------------------------------
# A10/W3/J3: price pipelines — vs oracles
# ---------------------------------------------------------------------------


def test_best_by_liquidity_oracle(fx):
    dfs, con = fx["dfs"], fx["con"]
    out = best_by_liquidity(dfs["assetlog"]).select("asset", "indexTS", "liquid", "priceUSD")
    oracle = con.execute("""
        SELECT asset, indexTS, liquid, priceUSD
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY asset, chainID, indexTS
                                           ORDER BY liquid, source) AS rn
              FROM assetlog)
        WHERE rn = 1
    """).df()
    compare_frames(out.toPandas(), oracle, "best_by_liquidity")


def test_ohlcv_rollup_oracle(fx):
    dfs, con = fx["dfs"], fx["con"]
    out = ohlcv_rollup(dfs["assetlog"]).select(
        "asset", "bucketTS", "open", "high", "low", "close", "n_points"
    )
    oracle = con.execute("""
        WITH best AS (
          SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY asset, chainID, indexTS
                                                      ORDER BY liquid, source) AS rn
                         FROM assetlog) WHERE rn = 1
        ),
        b AS (
          SELECT *, indexTS - indexTS % 3600 AS bucketTS,
                 ROW_NUMBER() OVER (PARTITION BY asset, chainID, indexTS - indexTS % 3600
                                    ORDER BY indexTS) AS rn_a,
                 ROW_NUMBER() OVER (PARTITION BY asset, chainID, indexTS - indexTS % 3600
                                    ORDER BY indexTS DESC) AS rn_d
          FROM best
        )
        SELECT asset, bucketTS,
               MAX(CASE WHEN rn_a = 1 THEN open END) AS open,
               MAX(high) AS high, MIN(low) AS low,
               MAX(CASE WHEN rn_d = 1 THEN close END) AS close,
               COUNT(*) AS n_points
        FROM b GROUP BY asset, bucketTS
    """).df()
    compare_frames(out.toPandas(), oracle, "ohlcv_rollup")


def test_with_price_usd_asof_oracle(fx):
    dfs, con = fx["dfs"], fx["con"]
    # decorate XCM transfers with as-of DOT price at sourceTS
    xfers = dfs["xcmtransfer"].select(
        "extrinsicID", F.lit("DOT").alias("asset"),
        F.col("sourceTS").alias("ts_epoch"),
        (F.col("amountSent").cast("double") / 1e10).alias("amount"),
    )
    out = with_price_usd(xfers, dfs["assetlog"]).select(
        "extrinsicID", "ts_epoch", "price_usd"
    )
    oracle = con.execute("""
        WITH best AS (
          SELECT asset, indexTS, MAX(priceUSD) AS priceUSD
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY asset, chainID, indexTS
                                             ORDER BY liquid, source) AS rn FROM assetlog)
          WHERE rn = 1 GROUP BY asset, indexTS
        ),
        x AS (SELECT extrinsicID, 'DOT' AS asset, sourceTS AS ts_epoch FROM xcmtransfer)
        SELECT x.extrinsicID, x.ts_epoch, b.priceUSD AS price_usd
        FROM x ASOF LEFT JOIN best b
          ON x.asset = b.asset AND x.ts_epoch >= b.indexTS
    """).df()
    compare_frames(out.toPandas(), oracle, "with_price_usd")


# ---------------------------------------------------------------------------
# W1: trace change detection — vs oracle
# ---------------------------------------------------------------------------


def test_account_change_events_oracle(fx):
    dfs, con = fx["dfs"], fx["con"]
    out = account_change_events(dfs["traces"]).select(
        "address_pubkey", "trace_id", "block_number", "reserved", "prev_reserved",
        "prev_change_trace_id",
    )
    oracle = con.execute("""
        WITH t AS (
          SELECT address_pubkey, trace_id, block_number,
                 CAST(split_part(trace_id, '-', 2) AS INT) AS t_index,
                 reserved, frozen,
                 CAST(json_extract_string(pv, '$.consumers') AS INT) AS consumers,
                 CAST(json_extract_string(pv, '$.providers') AS INT) AS providers,
                 CAST(json_extract_string(pv, '$.sufficients') AS INT) AS sufficients
          FROM traces WHERE section = 'System' AND storage = 'Account'
        ),
        lagged AS (
          SELECT *,
                 LAG(reserved) OVER w AS prev_reserved,
                 LAG(frozen) OVER w AS prev_frozen,
                 LAG(consumers) OVER w AS prev_consumers,
                 LAG(providers) OVER w AS prev_providers,
                 LAG(sufficients) OVER w AS prev_sufficients
          FROM t WINDOW w AS (PARTITION BY address_pubkey ORDER BY block_number, t_index)
        ),
        changed AS (
          SELECT * FROM lagged
          WHERE prev_reserved IS NULL OR reserved <> prev_reserved
             OR frozen <> prev_frozen OR consumers <> prev_consumers
             OR providers <> prev_providers OR sufficients <> prev_sufficients
        )
        SELECT address_pubkey, trace_id, block_number, reserved, prev_reserved,
               LAG(trace_id) OVER (PARTITION BY address_pubkey
                                   ORDER BY block_number, t_index) AS prev_change_trace_id
        FROM changed
    """).df()
    compare_frames(out.toPandas(), oracle, "account_change_events")


# ---------------------------------------------------------------------------
# A8: staking nominator aggregation over exploded JSON targets
# ---------------------------------------------------------------------------


def test_staking_nominators_explode_oracle(fx):
    dfs, con = fx["dfs"], fx["con"]
    nominations = (
        dfs["stakings"]
        .where(F.col("storage") == "Nominators")
        .select(
            "era",
            F.col("address_ss58").alias("nominator"),
            F.explode(
                F.from_json("targets", "array<string>")
            ).alias("validator"),
        )
    )
    out = nominations.groupBy("era", "validator").agg(
        F.count(F.lit(1)).alias("n_nominators"),
        F.array_join(F.sort_array(F.collect_list("nominator")), ",").alias("nominators"),
    )
    oracle = con.execute("""
        SELECT era, UNNEST(CAST(targets AS JSON)::VARCHAR[]) AS validator,
               address_ss58 AS nominator
        FROM stakings WHERE storage = 'Nominators'
    """).df()
    oracle_agg = con.execute("""
        WITH n AS (
          SELECT era, address_ss58 AS nominator,
                 UNNEST(CAST(targets AS JSON)::VARCHAR[]) AS validator
          FROM stakings WHERE storage = 'Nominators'
        )
        SELECT era, validator, COUNT(*) AS n_nominators,
               STRING_AGG(nominator, ',' ORDER BY nominator) AS nominators
        FROM n GROUP BY era, validator
    """).df()
    assert len(oracle) > 0
    compare_frames(out.toPandas(), oracle_agg, "staking_nominators")


# ---------------------------------------------------------------------------
# Dynamic per-pallet schema registry (setup_pallet equivalent)
# ---------------------------------------------------------------------------

_METADATA = {
    "pallets": [
        {
            "name": "balances",
            "events": [
                {
                    "name": "Transfer",
                    "fields": [
                        {"name": "from", "type": "AccountId32"},
                        {"name": "to", "type": "AccountId32"},
                        {"name": "amount", "type": "u128"},
                    ],
                }
            ],
        },
        {
            "name": "staking",
            "events": [
                {
                    "name": "Rewarded",
                    "fields": [
                        {"name": "stash", "type": "AccountId32"},
                        {"name": "era", "type": "u32"},
                        {"name": "amount", "type": "Compact<Balance>"},
                        {"name": "targets", "type": "Vec<u32>"},
                    ],
                }
            ],
        },
    ]
}


class TestPalletRegistry:
    def test_type_mapping(self):
        from pyspark.sql import types as T

        from polkadot_etl_spark.plans.pallets import map_substrate_type

        assert map_substrate_type("u32") == T.LongType()
        assert map_substrate_type("u64") == T.DecimalType(20, 0)
        assert map_substrate_type("u128") == T.DecimalType(38, 0)
        assert map_substrate_type("Compact<Balance>") == T.DecimalType(38, 0)
        assert map_substrate_type("Vec<u32>") == T.ArrayType(T.LongType())
        assert map_substrate_type("AccountId32") == T.StringType()
        assert map_substrate_type("bool") == T.BooleanType()

    def test_typed_views_from_metadata(self, spark):
        import json as _json

        from polkadot_etl_spark.plans.pallets import PalletRegistry

        reg = PalletRegistry.from_metadata(_METADATA)
        assert set(reg.events) == {("balances", "Transfer"), ("staking", "Rewarded")}

        big = 2**100  # a u128 beyond double precision
        rows = [
            ("0-0", "balances", "Transfer",
             _json.dumps({"from": "0xaa", "to": "0xbb", "amount": str(big)})),
            ("0-1", "staking", "Rewarded",
             _json.dumps({"stash": "0xcc", "era": 42, "amount": "1000", "targets": [1, 2]})),
        ]
        events = spark.createDataFrame(
            rows, "event_id: string, section: string, method: string, data_decoded: string"
        )
        t = reg.typed_events(events, "balances", "Transfer")
        r = t.collect()[0]
        # exact u128: numeric decimal AND untruncated raw string
        assert r.amount_raw == str(big)
        assert int(r.amount) == big
        assert r["from"] == "0xaa" and r.to == "0xbb"

        names = reg.generate_views(events)
        assert names == ["evt_balances_transfer", "evt_staking_rewarded"]
        got = spark.sql(
            "SELECT stash, era, amount, targets FROM evt_staking_rewarded"
        ).collect()[0]
        assert got.era == 42 and int(got.amount) == 1000 and got.targets == [1, 2]

    def test_filter_pushes_to_scan(self, spark, tmp_path):
        """The (section, method) filter of a typed view must reach the
        parquet scan as PushedFilters — that's what makes per-pallet
        views cheap projections at 100 TB."""
        import json as _json

        from polkadot_etl_spark.plans.pallets import PalletRegistry

        reg = PalletRegistry.from_metadata(_METADATA)
        path = str(tmp_path / "events_pq")
        spark.createDataFrame(
            [("0-0", "balances", "Transfer", _json.dumps({"from": "a", "to": "b", "amount": "1"}))],
            "event_id: string, section: string, method: string, data_decoded: string",
        ).write.parquet(path)
        t = reg.typed_events(spark.read.parquet(path), "balances", "Transfer")
        plan = t._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "EqualTo(section,balances)" in plan and "EqualTo(method,Transfer)" in plan


class TestParseTraces:
    def test_account_info_decode(self, spark):
        """F4: known SCALE AccountInfo bytes decode to exact fields via
        the native LE->BE + conv path (no Python in the plan)."""
        from polkadot_etl_spark.functions.scalars import twox_128
        from polkadot_etl_spark.plans.traces import parse_traces, storage_keys_dim

        free = 123_456_789_012_345_678_901  # > u64: exercises the hi*2^64+lo path
        reserved = 50
        frozen = 2**128 - 1  # past decimal(38,0): numeric col NULLs, raw stays exact
        v = (
            (5).to_bytes(4, "little")
            + (1).to_bytes(4, "little")
            + (2).to_bytes(4, "little")
            + (3).to_bytes(4, "little")
            + free.to_bytes(16, "little")
            + reserved.to_bytes(16, "little")
            + frozen.to_bytes(16, "little")
        ).hex()
        pubkey = "ab" * 32
        k = (
            twox_128(b"System")
            + twox_128(b"Account")
            + "cd" * 16  # blake2_128 of the key (prefix-irrelevant here)
            + pubkey
        )
        dim = storage_keys_dim(
            spark,
            [("System", "Account", "AccountInfo"), ("Balances", "TotalIssuance", "u128")],
        )
        traces = spark.createDataFrame(
            [("1-0", "0x" + k, "0x" + v), ("1-1", "0x" + "ee" * 80, "0xffff")],
            "trace_id: string, k: string, v: string",
        )
        rows = {r.trace_id: r for r in parse_traces(traces, dim).collect()}
        r = rows["1-0"]
        assert (r.section, r.storage) == ("System", "Account")
        assert r.address_pubkey == "0x" + pubkey
        assert (r.nonce, r.consumers, r.providers, r.sufficients) == (5, 1, 2, 3)
        assert int(r.free) == free and int(r.reserved) == reserved
        # u128 max: the 38-digit numeric column NULLs (documented cap);
        # the exact-string dual keeps the full value (balances *_raw rule)
        assert r.frozen is None
        assert r.free_raw == str(free) and r.reserved_raw == str(reserved)
        assert r.frozen_raw == str(2**128 - 1)
        # unmatched prefix keeps raw row, null decode
        assert rows["1-1"].section is None and rows["1-1"].nonce is None

    def test_dim_is_broadcast(self, spark):
        from polkadot_etl_spark.plans.traces import parse_traces, storage_keys_dim

        dim = storage_keys_dim(spark, [("System", "Account", "AccountInfo")])
        traces = spark.createDataFrame(
            [("1-0", "0x00", "0x00")], "trace_id: string, k: string, v: string"
        )
        plan = parse_traces(traces, dim)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
        assert "BroadcastHashJoin" in plan


class TestViewLayer:
    def test_recent_view_filters_and_suppresses(self, spark):
        from polkadot_etl_spark.sources.views import DEFAULT_SUPPRESS, create_recent_view

        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [
                ("2024-04-01 00:00:00", "balances", "transfer"),
                ("2024-04-01 00:00:00", "timestamp", "set"),
                ("2023-01-01 00:00:00", "balances", "transfer"),  # too old
            ],
            "ts: string, section: string, method: string",
        ).withColumn("ts", F.to_timestamp("ts"))
        out = create_recent_view(
            df, "recent_events", "ts", anchor="2024-05-01", days=109,
            suppress=DEFAULT_SUPPRESS,
        )
        rows = spark.sql("SELECT section, method FROM recent_events").collect()
        assert [(r.section, r.method) for r in rows] == [("balances", "transfer")]
        assert out.count() == 1

    def test_materialize_cache_partitions(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from polkadot_etl_spark.sources.views import materialize_cache

        df = spark.range(4).select(
            F.col("id"),
            F.to_timestamp(
                F.when(F.col("id") < 2, "2024-01-01 10:00:00").otherwise("2024-01-02 10:00:00")
            ).alias("ts"),
        )
        path = str(tmp_path / "cached")
        out = materialize_cache(spark, df, path, "ts")
        assert out.count() == 4
        import os

        parts = sorted(p for p in os.listdir(path) if p.startswith("log_dt="))
        assert parts == ["log_dt=2024-01-01", "log_dt=2024-01-02"]


class TestSkewOperators:
    def test_salted_agg_equals_plain_agg(self, spark):
        from pyspark.sql import functions as F

        from polkadot_etl_spark.operators.skew import salted_agg
        from polkadot_etl_spark.sources.tables import load_table
        from tests.conftest import SF_DIR

        e = load_table(spark, SF_DIR, "events")
        plain = (
            e.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(38,10)")).alias("total"),
            )
            .collect()
        )
        salted = salted_agg(
            e,
            ["event_type"],
            {
                "n": (F.count(F.lit(1)), F.sum("n")),
                "total": (F.sum(F.col("value").cast("decimal(38,10)")), F.sum("total")),
            },
            buckets=8,
        ).collect()
        assert {(r.event_type, r.n, r.total) for r in plain} == {
            (r.event_type, r.n, r.total) for r in salted
        }

    def test_salted_join_equals_plain_join(self, spark):
        from polkadot_etl_spark.operators.skew import salted_join
        from polkadot_etl_spark.sources.tables import load_table
        from tests.conftest import SF_DIR

        o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
        c = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_name")
        plain = o.join(c.withColumnRenamed("c_custkey", "o_custkey"), ["o_custkey"]).collect()
        salted = salted_join(
            o, c.withColumnRenamed("c_custkey", "o_custkey"), ["o_custkey"], buckets=4
        ).collect()
        key = lambda r: (r.o_orderkey, r.o_custkey, r.c_name)  # noqa: E731
        assert sorted(map(key, plain)) == sorted(map(key, salted))


class TestLakeWriter:
    """write_day_partitioned carries dynamic overwrite as a writer
    option, so each test publishes through a session clone set to
    static overwrite and checks the clone is still static afterwards."""

    KEY = "spark.sql.sources.partitionOverwriteMode"

    @pytest.fixture
    def static(self, spark):
        clone = spark.newSession()
        clone.conf.set(self.KEY, "static")
        yield clone
        assert clone.conf.get(self.KEY) == "static"

    def test_day_partition_replace_is_surgical(self, static, tmp_path):
        """X8: rewriting one day must replace exactly that day and leave
        the others untouched (the bq load --replace '$YYYYMMDD' analog)."""
        from pyspark.sql import functions as F

        from polkadot_etl_spark.sources.tables import write_day_partitioned

        path = str(tmp_path / "lake")
        day1 = [(1, "2024-01-01 05:00:00"), (2, "2024-01-01 06:00:00")]
        day2 = [(3, "2024-01-02 05:00:00")]
        df = static.createDataFrame(day1 + day2, "id: long, ts: string").withColumn(
            "ts", F.to_timestamp("ts")
        )
        write_day_partitioned(df, path, "ts", cluster_by=["id"])
        # re-publish ONLY day 2 with different content
        df2 = static.createDataFrame(
            [(99, "2024-01-02 09:00:00")], "id: long, ts: string"
        ).withColumn("ts", F.to_timestamp("ts"))
        write_day_partitioned(df2, path, "ts")
        got = {r.id for r in static.read.parquet(path).collect()}
        assert got == {1, 2, 99}  # day1 intact, day2 replaced

    def test_replay_same_day_is_idempotent(self, static, tmp_path):
        from pyspark.sql import functions as F

        from polkadot_etl_spark.sources.tables import write_day_partitioned

        path = str(tmp_path / "lake")
        df = static.createDataFrame([(1, "2024-01-01 05:00:00")], "id: long, ts: string").withColumn(
            "ts", F.to_timestamp("ts")
        )
        write_day_partitioned(df, path, "ts")
        write_day_partitioned(df, path, "ts")  # replay
        assert static.read.parquet(path).count() == 1

    def test_hourly_grain_replaces_one_hour(self, static, tmp_path):
        """dump_gs_hourly variant (substrateetl.js:5522-5650): two-level
        (log_dt, log_hr) partitioning -- an hourly replay replaces exactly
        that hour, sibling hours and other days stay intact."""
        from pyspark.sql import functions as F

        from polkadot_etl_spark.sources.tables import write_day_partitioned

        path = str(tmp_path / "lake_hr")
        rows = [
            (1, "2024-01-01 05:10:00"),
            (2, "2024-01-01 05:50:00"),
            (3, "2024-01-01 06:00:00"),
            (4, "2024-01-02 05:00:00"),
        ]
        df = static.createDataFrame(rows, "id: long, ts: string").withColumn(
            "ts", F.to_timestamp("ts")
        )
        write_day_partitioned(df, path, "ts", grain="hour")
        got = static.read.parquet(path)
        assert {(r.id, str(r.log_dt), r.log_hr) for r in got.collect()} == {
            (1, "2024-01-01", 5), (2, "2024-01-01", 5),
            (3, "2024-01-01", 6), (4, "2024-01-02", 5),
        }
        # replay hour 05 of day 1 with different content
        df2 = static.createDataFrame(
            [(99, "2024-01-01 05:30:00")], "id: long, ts: string"
        ).withColumn("ts", F.to_timestamp("ts"))
        write_day_partitioned(df2, path, "ts", grain="hour")
        assert {r.id for r in static.read.parquet(path).collect()} == {99, 3, 4}
        # day-level pruning still works over the two-level layout
        day1 = static.read.parquet(path).where(F.col("log_dt") == "2024-01-01")
        assert {r.id for r in day1.collect()} == {99, 3}


class TestWasmDecode:
    def test_scale_primitive_vectors(self):
        """Public SCALE spec vectors (substrate codec docs)."""
        from polkadot_etl_spark.functions.scale import (
            ScaleError,
            decode_compact,
            decode_value,
        )

        # compact: 0→0x00, 1→0x04, 42→0xa8, 69→0x1501, 65535→0xfeff0300,
        # 2^32→five-byte big mode
        assert decode_compact(bytes([0x00])) == (0, 1)
        assert decode_compact(bytes([0x04])) == (1, 1)
        assert decode_compact(bytes([0xA8])) == (42, 1)
        assert decode_compact(bytes.fromhex("1501")) == (69, 2)
        assert decode_compact(bytes.fromhex("feff0300")) == (65535, 4)
        assert decode_compact(bytes.fromhex("0300000001")) == (2**24, 5)  # 4-byte big mode
        assert decode_compact(bytes.fromhex("070000000001")) == (2**32, 6)  # 5-byte big mode

        assert decode_value("u32", bytes.fromhex("04030201")) == (0x01020304, 4)
        assert decode_value("i8", bytes([0xFF])) == (-1, 1)
        assert decode_value("u128", (10**12).to_bytes(16, "little")) == (10**12, 16)
        assert decode_value("bool", b"\x01") == (True, 1)
        assert decode_value("Vec<u8>", bytes.fromhex("0c010203")) == ("0x010203", 4)
        assert decode_value("String", bytes.fromhex("10696e6b21")) == ("ink!", 5)
        assert decode_value("Option<u32>", bytes.fromhex("0105000000")) == (5, 5)
        assert decode_value("Option<u32>", b"\x00") == (None, 1)
        assert decode_value("Vec<u16>", bytes.fromhex("0804000800")) == ([4, 8], 5)
        assert decode_value("[u8; 4]", bytes.fromhex("deadbeef")) == ("0xdeadbeef", 4)
        with pytest.raises(ScaleError):
            decode_value("u64", b"\x01\x02")  # truncated

    def test_contract_call_decode_full(self):
        """The erc20::transfer(AccountId, Balance) message decodes past
        the old stub boundary (substrateetl.js:2097-2140)."""
        from polkadot_etl_spark.plans.wasm import ContractRegistry, InkMessage

        reg = ContractRegistry()
        reg.register(
            "0xCODE",
            [
                InkMessage("get", "0x2f865bd9"),
                InkMessage("transfer", "0x84a15da1", ("AccountId", "Balance")),
                InkMessage("custom", "0x11111111", ("MyStruct",)),
            ],
        )
        assert reg.decode_call("0xcode", "0x2f865bd9") == {
            "selector": "0x2f865bd9",
            "label": "get",
            "decoded": True,
            "args": {},
        }
        assert reg.decode_call("0xcode", "0xdeadbeef")["decoded"] is False

        dest = "ab" * 32
        bal = (5 * 10**10).to_bytes(16, "little").hex()
        got = reg.decode_call("0xCODE", "0x84a15da1" + dest + bal)
        assert got["label"] == "transfer" and got["decoded"] is True
        assert got["args"] == {"arg0": "0x" + dest, "arg1": 5 * 10**10}

        # compound custom types are the remaining honest boundary
        with pytest.raises(NotImplementedError):
            reg.decode_call("0xCODE", "0x11111111" + "00")

    def test_native_decode_matches_python_codec(self, spark):
        """The generated-column fast path must emit byte-identical JSON
        to json.dumps(decode_call(...), sort_keys=True) for every
        fixed-width kind — u8/u32/u64 near 2^64, u128 past 2^64 (the
        two-limb conv), bool, AccountId, [u8; 4]."""
        import json

        from pyspark.sql import functions as F

        from polkadot_etl_spark.plans.wasm import (
            ContractRegistry,
            InkMessage,
            contractscall_table,
        )

        types = ("u8", "u32", "u64", "u128", "bool", "AccountId", "[u8; 4]")
        args = (7, 0x01020304, 2**64 - 5, 10**30 + 3, True, bytes(range(32)), b"\xde\xad\xbe\xef")
        blob = (
            args[0].to_bytes(1, "little")
            + args[1].to_bytes(4, "little")
            + args[2].to_bytes(8, "little")
            + args[3].to_bytes(16, "little")
            + b"\x01"
            + args[5]
            + args[6]
        )
        reg = ContractRegistry()
        reg.register("0xc0", [InkMessage("mix", "0xaabbccdd", types)])
        data = "0xaabbccdd" + blob.hex()
        want = json.dumps(reg.decode_call("0xc0", data), sort_keys=True)

        calls = spark.createDataFrame(
            [("c1", None, None, 1, None, "contracts", "call",
              json.dumps({"dest": {"id": "0xaa"}, "gas_limit": "1",
                          "value": "0", "data": data}), "0xbb")],
            "extrinsic_id: string, hash: string, block_time: timestamp,"
            " block_number: long, block_hash: string, section: string,"
            " method: string, params: string, signer_pub_key: string",
        )
        dim = spark.createDataFrame(
            [("0xaa", "0xc0")], "address_pub_key: string, code_hash: string"
        )
        df = contractscall_table(calls, dim, registry=reg)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan  # all-fixed registry: zero Python
        assert df.collect()[0]["decoded_call"] == want

    def test_native_u128_full_range(self, spark):
        """The native tier must stay exact past decimal(38,0): u128
        values ≥ 10^38 (up to 2^128-1) previously NULLed out while the
        Python codec returned the exact integer — the base-10^12 limb
        assembly keeps the tiers identical over the whole range."""
        import json

        from polkadot_etl_spark.plans.wasm import (
            ContractRegistry,
            InkMessage,
            contractscall_table,
        )

        reg = ContractRegistry()
        reg.register("0xc0", [InkMessage("pay", "0xaabbccdd", ("u128",))])
        dim = spark.createDataFrame(
            [("0xaa", "0xc0")], "address_pub_key: string, code_hash: string"
        )
        for v in (0, 10**38, 10**38 - 1, 2**128 - 1, 2**64, 2**64 - 1):
            data = "0xaabbccdd" + v.to_bytes(16, "little").hex()
            want = json.dumps(reg.decode_call("0xc0", data), sort_keys=True)
            calls = spark.createDataFrame(
                [("c1", None, None, 1, None, "contracts", "call",
                  json.dumps({"dest": {"id": "0xaa"}, "gas_limit": "1",
                              "value": "0", "data": data}), "0xbb")],
                "extrinsic_id: string, hash: string, block_time: timestamp,"
                " block_number: long, block_hash: string, section: string,"
                " method: string, params: string, signer_pub_key: string",
            )
            df = contractscall_table(calls, dim, registry=reg)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "EvalPython" not in plan
            assert df.collect()[0]["decoded_call"] == want, f"u128 value {v}"

    def test_udf_tier_malformed_calldata_is_null(self, spark):
        """Odd-length / non-hex calldata in the Python codec tier must
        surface as NULL (the native tier's behavior), not fail the task
        (bytes.fromhex raises plain ValueError, not ScaleError)."""
        import json

        from polkadot_etl_spark.plans.wasm import (
            ContractRegistry,
            InkMessage,
            contractscall_table,
        )

        reg = ContractRegistry()
        # Vec<u8> is dynamic → forces the Arrow UDF tier for this hash
        reg.register("0xc0", [InkMessage("store", "0xaabbccdd", ("Vec<u8>",))])
        dim = spark.createDataFrame(
            [("0xaa", "0xc0")], "address_pub_key: string, code_hash: string"
        )
        calls = spark.createDataFrame(
            [("c1", None, None, 1, None, "contracts", "call",
              json.dumps({"dest": {"id": "0xaa"}, "gas_limit": "1",
                          "value": "0", "data": "0xaabbccddZZZ"}), "0xbb")],
            "extrinsic_id: string, hash: string, block_time: timestamp,"
            " block_number: long, block_hash: string, section: string,"
            " method: string, params: string, signer_pub_key: string",
        )
        df = contractscall_table(calls, dim, registry=reg)
        assert df.collect()[0]["decoded_call"] is None


class TestStakingAnalytics:
    def test_validators_by_era_vs_oracle(self, fx):
        from polkadot_etl_spark.plans.stakings import validators_by_era

        got = validators_by_era(fx["dfs"]["stakings"]).toPandas()
        want = fx["con"].execute("""
WITH v AS (
  SELECT era, address_ss58 AS validator_ss58, validator_total, validator_own,
         validator_commission, validator_reward_points, ts
  FROM stakings WHERE storage = 'ErasStakers'
),
era_agg AS (
  SELECT era, CAST(SUM(validator_reward_points) AS BIGINT) AS era_reward_points,
         CAST(CAST(SUM(CAST(validator_total AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
           AS era_total_staked,
         COUNT(*) AS n_validators
  FROM v GROUP BY era
)
SELECT v.era, v.validator_ss58, v.validator_total, v.validator_own,
       v.validator_commission, v.validator_reward_points,
       e.era_reward_points, e.era_total_staked, e.n_validators,
       CAST(v.validator_reward_points AS DOUBLE) / e.era_reward_points AS reward_share,
       (CAST(v.validator_reward_points AS DOUBLE) / e.era_reward_points)
         / (v.validator_total / e.era_total_staked) AS points_per_stake_ratio
FROM v LEFT JOIN era_agg e ON v.era = e.era
""").df()
        got = got.drop(columns=[c for c in got.columns if c == "ts"], errors="ignore")
        compare_frames(got, want, "validators_by_era")

    def test_nominators_per_validator_vs_oracle(self, fx):
        from polkadot_etl_spark.plans.stakings import nominators_per_validator

        got = nominators_per_validator(fx["dfs"]["stakings"]).toPandas()
        want = fx["con"].execute("""
WITH n AS (
  SELECT era, address_ss58 AS nominator_ss58,
         UNNEST(CAST(json_extract(targets, '$') AS VARCHAR[])) AS validator_ss58
  FROM stakings WHERE storage = 'Nominators'
)
SELECT era, validator_ss58,
       STRING_AGG(nominator_ss58, ',' ORDER BY nominator_ss58) AS nominators,
       COUNT(DISTINCT nominator_ss58) AS n_nominators
FROM n GROUP BY era, validator_ss58
""").df()
        compare_frames(got, want, "nominators_per_validator")


class TestLpPrice:
    def test_lp_price_composes_both_legs(self, spark):
        from pyspark.sql import functions as F

        from polkadot_etl_spark.plans.stakings import validators_by_era  # noqa: F401
        from polkadot_etl_spark.plans.prices import lp_price_usd

        assetlog = spark.createDataFrame(
            [
                ("DOT", 0, 100, 7.0, 1, "oracle", 0.0, 0.0, 0.0, 0.0, 0.0),
                ("USDT", 0, 100, 1.0, 1, "oracle", 0.0, 0.0, 0.0, 0.0, 0.0),
                ("DOT", 0, 200, 8.0, 1, "oracle", 0.0, 0.0, 0.0, 0.0, 0.0),
            ],
            "asset: string, chainID: int, indexTS: long, priceUSD: double, liquid: int,"
            " source: string, open: double, high: double, low: double, close: double,"
            " total_volumes: double",
        )
        lp = spark.createDataFrame(
            [("LP-DOT-USDT", "DOT", "USDT", 1000.0, 7500.0, 500.0, 250)],
            "asset: string, token0: string, token1: string, reserve0: double,"
            " reserve1: double, lp_supply: double, ts_epoch: long",
        )
        r = lp_price_usd(lp, assetlog).collect()[0]
        # at ts 250: DOT as-of price 8.0 (ts 200), USDT 1.0 (ts 100)
        assert r.tvl_usd == 1000.0 * 8.0 + 7500.0 * 1.0
        assert r.lp_price_usd == r.tvl_usd / 500.0


class TestChainParsers:
    def test_dispatch_and_overrides(self):
        from polkadot_etl_spark.plans.chains import (
            ChainParser,
            MoonbeamParser,
            get_parser,
            register_parser,
        )

        assert isinstance(get_parser(2004), MoonbeamParser)
        assert get_parser(999999).__class__ is ChainParser  # generic fallback
        assert get_parser(2004).native_decimals == 18
        assert get_parser(2000).native_symbol == "ACA"
        assert get_parser(0).is_suppressed("timestamp", "set")

        @register_parser
        class TestChain(ChainParser):
            chain_id = 31337
            native_symbol = "TST"

        assert get_parser(31337).native_symbol == "TST"

    def test_per_chain_transfer_decimals(self, fx):
        """Kusama decodes the same raw integers at 12 decimals vs
        polkadot's 10 — the flat-config override changes scaling only."""
        from pyspark.sql import functions as F

        from polkadot_etl_spark.plans.chains import get_parser

        events = fx["dfs"]["events"]
        dot = get_parser(0).transfers(events).where(F.col("symbol") == "DOT")
        ksm = get_parser(2).transfers(events)
        r_dot = dot.select("raw_amount", "amount").first()
        r_ksm = ksm.where(F.col("raw_amount") == r_dot.raw_amount).select(
            "raw_amount", "amount"
        ).first()
        # same raw integer, 10 vs 12 decimals → amounts differ by 100×
        assert abs(float(r_dot.amount) / float(r_ksm.amount) - 100.0) < 1e-6

    def test_acala_asset_symbol_and_decimals(self, spark):
        """ORML CurrencyId canonicalization + per-asset decimals
        (acala.js token_to_string, getAssetInfo lcDOT rename :822-825,
        default-12 fallback :813) — acala output genuinely differs from
        the base parser on the same rows."""
        from polkadot_etl_spark.plans.chains import AcalaParser, get_parser

        p = get_parser(2000)
        assert isinstance(p, AcalaParser)
        rows = [
            ('{"Token":"KSM"}',),
            ('{"Token":"DOT"}',),
            ('{"DexShare":[{"Token":"KAR"},{"Token":"KSM"}]}',),
            ('{"ForeignAsset":"0"}',),
            ('{"LiquidCrowdloan":"13"}',),
            ('{"Token":"ZZZ"}',),
            ("DOT",),
        ]
        df = spark.createDataFrame(rows, "asset: string")
        got = df.select(
            p.asset_symbol(df.asset).alias("sym"),
            p.asset_decimals_col(p.asset_symbol(df.asset)).alias("dec"),
        ).collect()
        assert [(r.sym, r.dec) for r in got] == [
            ("KSM", 12),
            ("DOT", 10),  # per-asset: NOT the chain-native 12
            ("KAR/KSM", 12),
            ("fa#0", 12),
            ("lcDOT", 10),  # the hard rename
            ("ZZZ", 12),  # unknown → default-12 fallback
            ("DOT", 10),  # bare symbol passthrough
        ]

    def test_acala_transfers_differ_from_base(self, spark):
        """The same tokens:Transfer decodes differently under acala:
        ORML symbol extraction + per-asset decimals vs flat native."""
        from pyspark.sql import functions as F

        from polkadot_etl_spark.plans.chains import ChainParser, get_parser

        ev = spark.createDataFrame(
            [
                ("1-0-0", "tokens", "Transfer",
                 '["{\\"Token\\":\\"DOT\\"}", "0x01", "0x02", "50000000000"]',
                 "1-0", "0xe1", None, 1, "0xb1", None),
            ],
            "event_id: string, section: string, method: string, data: string, "
            "extrinsic_id: string, extrinsic_hash: string, block_time: timestamp, "
            "block_number: long, block_hash: string, data_decoded: string",
        )
        base_r = ChainParser().transfers(ev).first()
        aca_r = get_parser(2000).transfers(ev).first()
        assert base_r.symbol == '{"Token":"DOT"}'  # raw passthrough
        assert aca_r.symbol == "DOT"  # canonicalized
        assert float(base_r.amount) == pytest.approx(5.0)  # 10 decimals (polkadot base)
        assert float(aca_r.amount) == pytest.approx(5.0)  # per-asset DOT=10
        # an unknown ORML token falls back to 12 on acala → differs from base
        ev2 = ev.withColumn(
            "data", F.lit('["{\\"Token\\":\\"KAR\\"}", "0x01", "0x02", "50000000000"]')
        )
        assert float(get_parser(2000).transfers(ev2).first().amount) == pytest.approx(0.05)
        assert float(ChainParser().transfers(ev2).first().amount) == pytest.approx(5.0)

    def test_acala_dex_swap_hops(self, spark):
        """process_dex_swap_event (acala.js:619-670): a 3-token path
        explodes into 2 hops with per-asset-decimalized volumes."""
        from polkadot_etl_spark.plans.chains import get_parser

        data = (
            '["5Trader", '
            '[{"Token":"KAR"},{"Token":"KSM"},{"Token":"DOT"}], '
            '["5000000000000", "1000000000000", "30000000000"]]'
        )
        ev = spark.createDataFrame(
            [("9-0-1", "dex", "Swap", data, "9-0", None, 9)],
            "event_id: string, section: string, method: string, data: string, "
            "extrinsic_id: string, block_time: timestamp, block_number: long",
        )
        hops = get_parser(2000).dex_swap_hops(ev).orderBy("hop").collect()
        assert len(hops) == 2
        h0, h1 = hops
        assert (h0.token0, h0.token1) == ("KAR", "KSM")
        assert h0.token0_in == pytest.approx(5.0)  # 12 dec
        assert h0.token1_out == pytest.approx(1.0)  # 12 dec
        assert h0.pair_key == "[KAR,KSM]" and h0.trader == "5Trader"
        assert (h1.token0, h1.token1) == ("KSM", "DOT")
        assert h1.token1_out == pytest.approx(3.0)  # DOT at 10 dec
        # non-swap events and short paths produce nothing
        assert get_parser(2000).dex_swap_hops(
            ev.withColumn("method", F.lit("AddLiquidity"))
        ).count() == 0

    def test_moonbeam_parachain_staking_rewards(self, spark):
        """parachainStaking(Rewarded) with hex balances decodes exactly
        past 2^63 (moonbeam.js:877-902); base-chain staking events are
        ignored by the moonbeam override and vice versa."""
        from polkadot_etl_spark.plans.chains import ChainParser, get_parser

        big = 5 * 10**19  # > 2^63
        ev = spark.createDataFrame(
            [
                ("1-0-0", "parachainStaking", "Rewarded",
                 f'["0x22bA795AA1223F0C8fAE2932F16F4b1F8B573163", "0x{big:x}"]',
                 "1-0", None, 1),
                ("1-0-1", "staking", "Rewarded", '["0xaa", "1000"]', "1-0", None, 1),
            ],
            "event_id: string, section: string, method: string, data: string, "
            "extrinsic_id: string, block_time: timestamp, block_number: long",
        )
        moon = get_parser(2004).reward_feed(ev).collect()
        assert len(moon) == 1 and moon[0].event_id == "1-0-0"
        assert int(moon[0].raw_amount) == big  # exact past 2^63
        assert moon[0].amount == pytest.approx(big / 1e18)
        assert moon[0].era is None
        base = ChainParser().reward_feed(ev).collect()
        assert len(base) == 1 and base[0].event_id == "1-0-1"

    def test_moonbeam_xc20_precompile_address(self):
        """The u128→address rule reproduces the reference's hard-coded
        xcDOT precompile (moonbeam.js:726)."""
        from polkadot_etl_spark.plans.chains import MoonbeamParser

        xcdot = 42259045809535163221576417993425387648
        assert MoonbeamParser.xc20_contract_address(xcdot) == (
            "0xffffffff1fcacbd218edc0eba20fc2308c778080"
        )

    def test_junction_from_hex(self):
        """Precompile junction bytes (moonbeam.js:205-289)."""
        from polkadot_etl_spark.functions.multilocation import junction_from_hex

        assert junction_from_hex("0x00000007e7") == {"parachain": 2023}
        assert junction_from_hex("0x04" + "35") == {"palletInstance": 0x35}
        assert junction_from_hex("0x05" + "00" * 15 + "2a") == {"generalIndex": 42}
        a32 = junction_from_hex("0x01" + "ab" * 32 + "02")
        assert a32["accountId32"]["network"] == "Polkadot"
        assert a32["accountId32"]["key"] == "0x" + "ab" * 32
        k20 = junction_from_hex("0x03" + "cd" * 20 + "00")
        assert k20["accountKey20"]["key"] == "0x" + "cd" * 20
        with pytest.raises(ValueError):
            junction_from_hex("0x09beef")

    def test_acala_storage_key_order(self, spark):
        """Tokens:Accounts = [account, currency] but Loans:Positions =
        [currency, account] (acala.js:11-49)."""
        from polkadot_etl_spark.plans.chains import get_parser

        p = get_parser(2000)
        df = spark.createDataFrame(
            [('["5Acct",{"Token":"KSM"}]',), ('[{"Token":"KSM"},"5Acct"]',)],
            "k: string",
        )
        ta = df.limit(1).select(*p.storage_key_args("Tokens", "Accounts", df.k)).first()
        assert ta.account == "5Acct" and "KSM" in ta.asset
        lp_cols = p.storage_key_args("Loans", "Positions", df.k)
        lp = df.select(*lp_cols).collect()[1]
        assert lp.account == "5Acct" and "KSM" in lp.asset
        assert p.storage_key_args("Unknown", "Storage", df.k) is None

    def test_astar_dapps_staking_rewards(self, spark):
        """dappsStaking(Reward) carries era inline at data[2] and the hex
        amount at data[3]; the staked contract ({evm:...}) becomes a
        column; no PayoutStarted fill (astar.js:889-920)."""
        from polkadot_etl_spark.plans.chains import get_parser

        big = 3 * 10**18
        ev = spark.createDataFrame(
            [
                ("1-0-0", "dappsStaking", "Reward",
                 f'["WAcct", {{"evm": "0xcd12"}}, "68", "0x{big:x}"]',
                 "1-0", None, 1),
                ("1-0-1", "staking", "Rewarded", '["WOther", "500"]', "1-0", None, 1),
            ],
            "event_id: string, section: string, method: string, data: string, "
            "extrinsic_id: string, block_time: timestamp, block_number: long",
        )
        rows = get_parser(2006).reward_feed(ev).collect()
        assert len(rows) == 1 and rows[0].account == "WAcct"
        assert rows[0].era == 68
        assert rows[0].smart_contract == "0xcd12"
        assert int(rows[0].raw_amount) == big
        assert rows[0].amount == pytest.approx(big / 1e18)

    def test_astar_xc20_asset_id(self, spark):
        """'0xFFFFFFFF...' asset address → '0x' + addr[10:]
        (astar.js:624-628); id 0 is the native token."""
        from polkadot_etl_spark.plans.chains import AstarParser

        df = spark.createDataFrame(
            [("0xffffffff00000000000000010000000000000011",), ("42",)], "a: string"
        )
        got = df.select(AstarParser.xc20_asset_id(df.a).alias("v")).collect()
        assert got[0].v == "0x00000000000000010000000000000011"
        assert got[1].v == "42"
        p = AstarParser()
        sym = df.select(p.asset_symbol_for_id(F.lit("0")).alias("s")).first()
        assert sym.s == "ASTR"

    def test_parallel_storage_and_vals(self, spark):
        """Key orders (oracle/loans/amm families, parallel.js:436-489),
        comma-cleaned numeric ids (chainparser.js:6068), the 18-decimal
        liquidStaking exchange rate, and the oracle ms→s price val
        (parallel.js:246-255,417-424)."""
        from polkadot_etl_spark.plans.chains import ParallelParser, get_parser

        p = get_parser(2012)
        assert isinstance(p, ParallelParser)
        df = spark.createDataFrame(
            [('["hJOracle","102"]', '["1,000","hJAcct"]')], "k1: string, k2: string"
        )
        rv = df.select(*p.storage_key_args("oracle", "rawValues", df.k1)).first()
        assert rv.account == "hJOracle" and rv.asset_id == 102
        lb = df.select(*p.storage_key_args("loans", "accountBorrows", df.k2)).first()
        assert lb.account == "hJAcct" and lb.asset_id == 1000  # comma cleaned
        assert p.storage_key_args("unknown", "storage", df.k1) is None

        vals = spark.createDataFrame(
            [('{"value":"0x000000000000000003a2ae9d185fa4b3","timestamp":1653303666594}',
              hex(15 * 10**17))],
            "ov: string, xr: string",
        )
        price = vals.select(*ParallelParser.oracle_price("ov")).first()
        assert int(price.raw_price) == 0x03A2AE9D185FA4B3
        assert price.price_ts == 1653303666
        xr = vals.select(ParallelParser.liquid_staking_exchange_rate("xr").alias("r")).first()
        assert xr.r == pytest.approx(1.5)

    def test_parallel_decorate_asset(self, spark):
        """Numeric-id frames decorate symbol/decimals via a broadcast
        join against the assets dim and decimalize with a native-decimals
        fallback (parallel.js:154-215 assetInfo cache)."""
        from polkadot_etl_spark.plans.chains import get_parser

        p = get_parser(2012)
        assets = spark.createDataFrame(
            [(100, "KSM", 12), (102, "USDT", 6)], "asset_id: long, symbol: string, decimals: int"
        )
        rows = spark.createDataFrame(
            [("100", 5 * 10**12), ("102", 7 * 10**6), ("999", 10**12)],
            "asset_id: string, raw_amount: long",
        )
        got = {r.asset_id: r for r in p.decorate_asset(rows, assets).collect()}
        assert got["100"].symbol == "KSM" and got["100"].amount == pytest.approx(5.0)
        assert got["102"].symbol == "USDT" and got["102"].amount == pytest.approx(7.0)
        assert got["999"].symbol is None and got["999"].amount == pytest.approx(1.0)


class TestBucketedJoin:
    def test_colocated_join_has_no_exchange(self, spark):
        """Two tables bucketed on the join key must sort-merge join with
        ZERO Exchange nodes — the write-time shuffle replaces the
        query-time shuffle (run daily, pay once)."""
        import re

        from pyspark.sql import functions as F

        from polkadot_etl_spark.sources.tables import write_bucketed

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        try:
            a = spark.range(1000).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("va")
            )
            b = spark.range(1000).select(
                F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
            )
            write_bucketed(a, "bkt_a", ["k"], n_buckets=8)
            write_bucketed(b, "bkt_b", ["k"], n_buckets=8)
            j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
            plan = j._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            assert not re.findall(r"^\(\d+\) Exchange", plan, re.M), plan
            assert "SortMergeJoin" in plan
            assert j.count() == 1000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
            spark.sql("DROP TABLE IF EXISTS bkt_a")
            spark.sql("DROP TABLE IF EXISTS bkt_b")


class TestUpsertMerge:
    def test_merge_replaces_matches_inserts_new_keeps_other_days(self, spark, tmp_path):
        """J10/X6: matched keys replaced, new keys inserted, untouched
        partitions byte-identical; replay is idempotent."""
        from pyspark.sql import functions as F

        from polkadot_etl_spark.operators.merge import upsert_day_partitioned

        path = str(tmp_path / "tbl")

        def mk(rows):
            return spark.createDataFrame(rows, "k: long, v: string, ts: string").withColumn(
                "ts", F.to_timestamp("ts")
            )

        base = mk([
            (1, "a", "2024-01-01 01:00:00"),
            (2, "b", "2024-01-01 02:00:00"),
            (3, "c", "2024-01-02 01:00:00"),
        ])
        upsert_day_partitioned(spark, path, base, ["k"], "ts")
        upd = mk([
            (2, "B2", "2024-01-01 02:30:00"),  # replace key 2
            (4, "d", "2024-01-01 03:00:00"),   # insert key 4
        ])
        upsert_day_partitioned(spark, path, upd, ["k"], "ts")
        got = {r.k: r.v for r in spark.read.parquet(path).collect()}
        assert got == {1: "a", 2: "B2", 3: "c", 4: "d"}
        # replay the same batch → identical content (idempotent)
        upsert_day_partitioned(spark, path, upd, ["k"], "ts")
        got2 = {r.k: r.v for r in spark.read.parquet(path).collect()}
        assert got2 == got

    def test_upsert_leaves_a_static_session_static(self, spark, oracle, tmp_path):
        """The upsert's dynamic overwrite is a writer option: a session
        set to static overwrite stays static, the partitions an update
        does not touch survive, and merge_upsert_state still matches its
        oracle there."""
        from pyspark.sql import functions as F

        from polkadot_etl_spark.operators.merge import upsert_day_partitioned
        from polkadot_etl_spark.queries import QUERIES
        from tests.conftest import SF_DIR, compare_frames

        key = "spark.sql.sources.partitionOverwriteMode"
        clone = spark.newSession()
        clone.conf.set(key, "static")
        path = str(tmp_path / "tbl")

        def mk(rows):
            return clone.createDataFrame(rows, "k: long, v: string, ts: string").withColumn(
                "ts", F.to_timestamp("ts")
            )

        upsert_day_partitioned(
            clone, path, mk([(1, "a", "2024-01-01 01:00:00"), (3, "c", "2024-01-02 01:00:00")]),
            ["k"], "ts",
        )
        upsert_day_partitioned(clone, path, mk([(2, "b", "2024-01-01 02:00:00")]), ["k"], "ts")
        assert clone.conf.get(key) == "static"
        got = {r.k: r.v for r in clone.read.parquet(path).collect()}
        assert got == {1: "a", 2: "b", 3: "c"}  # 2024-01-02 was not touched
        spec = QUERIES["merge_upsert_state"]
        compare_frames(
            spec.build(clone, SF_DIR).toPandas(), oracle.execute(spec.oracle).df(), spec.name
        )
        assert clone.conf.get(key) == "static"

    def test_merge_upsert_state_dir_lives_as_long_as_its_session(self, spark):
        """merge_upsert_state returns a frame that reads its state dir
        lazily, so the dir must outlive the builder; it is removed once
        the session that built it is collected."""
        import gc
        import glob
        import os
        import tempfile

        from polkadot_etl_spark.queries import QUERIES
        from tests.conftest import SF_DIR

        pattern = os.path.join(tempfile.gettempdir(), "merge_state_*")
        before = set(glob.glob(pattern))
        clone = spark.newSession()
        assert QUERIES["merge_upsert_state"].build(clone, SF_DIR).collect()
        (state_dir,) = set(glob.glob(pattern)) - before
        del clone
        # pyspark pins the most recently constructed session in
        # RDD.toDF; constructing another moves that pin off the clone
        spark.newSession()
        gc.collect()
        assert not os.path.exists(state_dir)


class TestAsofAgainstPandas:
    def test_asof_join_matches_merge_asof(self, spark):
        """The union+window as-of operator must agree with pandas
        merge_asof (backward direction, by-key) on randomized data —
        an independent reference implementation."""
        import numpy as np
        import pandas as pd

        from polkadot_etl_spark.operators.asof import asof_join

        rng = np.random.default_rng(42)
        n_l, n_r = 400, 300
        left_pd = pd.DataFrame(
            {
                "key": rng.integers(0, 8, n_l),
                "ts": rng.integers(0, 10_000, n_l),
                "lid": np.arange(n_l),
            }
        )
        right_pd = pd.DataFrame(
            {
                "key": rng.integers(0, 8, n_r),
                "ts": rng.integers(0, 10_000, n_r),
                "val": rng.random(n_r).round(6),
            }
        )
        # merge_asof needs unique (key, ts) on the right to be unambiguous;
        # keep the max val per (key, ts) in both references
        right_pd = right_pd.sort_values(["key", "ts", "val"]).groupby(
            ["key", "ts"], as_index=False
        ).last()

        want = pd.merge_asof(
            left_pd.sort_values("ts"),
            right_pd.sort_values("ts"),
            on="ts",
            by="key",
            direction="backward",
        ).sort_values("lid")

        left = spark.createDataFrame(left_pd)
        right = spark.createDataFrame(right_pd)
        got = (
            asof_join(left, right, by=["key"], left_ts="ts", right_ts="ts", value_cols=["val"])
            .toPandas()
            .sort_values("lid")
        )
        lhs = got.set_index("lid")["val"].astype(float)
        rhs = want.set_index("lid")["val"].astype(float)
        pd.testing.assert_series_equal(lhs, rhs, check_exact=True)


class TestDumpDay:
    """End-to-end chain-day dump (substrateetl.js:6171-6596) on the domain
    fixtures, cross-checked against DuckDB over the SAME fixture parquet."""

    @pytest.fixture(scope="class")
    def dump(self, fx):
        from polkadot_etl_spark.plans.dump import dump_day

        dfs = fx["dfs"]
        return dump_day(
            dfs["blocks_raw"], dfs["extrinsics"], dfs["events"], "polkadot", 0
        )

    def test_logs_explode_oracle(self, fx, dump):
        got = dump["logs"].toPandas()
        want = fx["con"].execute(
            """
            SELECT CAST(number AS VARCHAR) || '-' ||
                   CAST(generate_subscripts(digest_logs, 1) - 1 AS VARCHAR) AS log_id,
                   hash AS block_hash, block_time,
                   number AS block_number,
                   unnest(digest_logs) AS log
            FROM blocks_raw
            """
        ).df()
        compare_frames(got, want, "logs")

    def test_published_block_counts_oracle(self, fx, dump):
        got = dump["blocks"].select(
            "number", "extrinsic_count", "event_count", "transfer_count"
        ).toPandas()
        # transfers come only from the 4 known transfer pallets; fixture
        # events carry balances:Transfer and tokens:Transfer
        want = fx["con"].execute(
            """
            SELECT b.number,
                   (SELECT COUNT(*) FROM extrinsics e WHERE e.block_number = b.number)
                     AS extrinsic_count,
                   (SELECT COUNT(*) FROM events v WHERE v.block_number = b.number)
                     AS event_count,
                   (SELECT COUNT(*) FROM events v WHERE v.block_number = b.number
                      AND v.section || ':' || v.method IN
                          ('balances:Transfer','tokens:Transfer',
                           'currencies:Transferred','assets:Transferred'))
                     AS transfer_count
            FROM blocks_raw b
            """
        ).df()
        got[["extrinsic_count", "event_count", "transfer_count"]] = got[
            ["extrinsic_count", "event_count", "transfer_count"]
        ].astype("int64")
        compare_frames(got, want, "published_blocks")

    def test_gap_audit_finds_dropped_block(self, fx):
        # gap_audit is per-chain (dump_substrateetl runs one chainID at a
        # time) — scope to the para-0 block range before auditing
        from polkadot_etl_spark.plans.dump import gap_audit

        braw = fx["dfs"]["blocks_raw"].where(F.col("number") < 5000)
        holes = {1005, 1017}
        audited = gap_audit(braw.where(~F.col("number").isin(*holes)))
        got = {r.block_number for r in audited.collect()}
        assert got == holes
        # intact chain → empty audit
        assert gap_audit(braw).count() == 0

    def test_blocklog_gold_oracle(self, fx, dump):
        got = dump["blocklog"].select(
            F.col("log_dt").cast("string").alias("log_dt"),
            "start_bn", "end_bn", "num_blocks", "num_missing",
            "num_extrinsics", "num_signed_extrinsics", "num_logs", "loaded",
        ).toPandas()
        want = fx["con"].execute(
            """
            WITH b AS (
              SELECT strftime(block_time, '%Y-%m-%d') AS log_dt,
                     MIN(number) AS start_bn, MAX(number) AS end_bn,
                     COUNT(*) AS num_blocks,
                     CAST(SUM(len(digest_logs)) AS BIGINT) AS num_logs
              FROM blocks_raw GROUP BY 1
            ), e AS (
              SELECT strftime(block_time, '%Y-%m-%d') AS log_dt,
                     COUNT(*) AS num_extrinsics,
                     COUNT(CASE WHEN signed THEN 1 END) AS num_signed_extrinsics
              FROM extrinsics GROUP BY 1
            )
            SELECT b.log_dt, b.start_bn, b.end_bn, b.num_blocks,
                   b.end_bn - b.start_bn + 1 - b.num_blocks AS num_missing,
                   e.num_extrinsics, e.num_signed_extrinsics, b.num_logs,
                   (b.end_bn - b.start_bn + 1 - b.num_blocks) = 0 AS loaded
            FROM b JOIN e USING (log_dt)
            """
        ).df()
        compare_frames(got, want, "blocklog_gold")

    def test_write_dump_partition_replace(self, fx, dump, tmp_path):
        """X8: re-publishing one day replaces exactly that day's partition
        in every silver table — the bq --replace semantics."""
        from polkadot_etl_spark.plans.dump import write_dump

        base = str(tmp_path / "lake")
        write_dump(dump, base)
        spark = fx["dfs"]["blocks_raw"].sparkSession
        before = spark.read.parquet(f"{base}/logs").count()
        # replay the same dump — dynamic partition overwrite must be a no-op
        write_dump(dump, base)
        after = spark.read.parquet(f"{base}/logs").count()
        assert before == after > 0


class TestFeeds:
    """feedreward / feedcrowdloan / identity (chainparser.js:4033-4117,
    indexer.js:3940-3999, identityManager.js:60-185)."""

    _EV = (
        "event_id: string, extrinsic_id: string, section: string, "
        "method: string, data: string, block_number: long, block_time: timestamp"
    )

    def test_reward_feed_era_fill_and_slash_gate(self, spark):
        from polkadot_etl_spark.plans.feeds import reward_feed

        rows = [
            # ext A: payout(era 100) → two rewards; a later payout resets era
            ("1", "A", "staking", "PayoutStarted", '["100","0xv"]', None, None),
            ("2", "A", "staking", "Rewarded", '["0xaa","50000000000"]', None, None),
            ("3", "A", "staking", "PayoutStarted", '["101","0xv"]', None, None),
            ("4", "A", "staking", "Rewarded", '["0xbb","20000000000"]', None, None),
            # ext B: reward BEFORE any payout → era null; slash is dropped
            ("5", "B", "staking", "Rewarded", '["0xcc","10000000000"]', None, None),
            ("6", "B", "staking", "Slashed", '["0xdd","70000000000"]', None, None),
            # noise
            ("7", "B", "balances", "Transfer", '["0xa","0xb","1"]', None, None),
        ]
        df = spark.createDataFrame(rows, self._EV)
        got = {r.event_id: r for r in reward_feed(df, native_decimals=10).collect()}
        assert set(got) == {"2", "4", "5"}  # slash gated out (indexer.js:3953)
        assert got["2"].era == 100 and got["4"].era == 101  # forward-fill
        assert got["5"].era is None
        assert got["2"].amount == pytest.approx(5.0)
        assert int(got["2"].raw_amount) == 50000000000
        # include_slashes=True surfaces the negated row
        slashes = {
            r.event_id: r
            for r in reward_feed(df, native_decimals=10, include_slashes=True).collect()
        }
        assert int(slashes["6"].raw_amount) == -70000000000

    def test_crowdloan_feed(self, spark):
        from polkadot_etl_spark.plans.feeds import crowdloan_feed

        rows = [
            ("1", "A", "crowdloan", "Contributed", '["0xaa","2004","500000000000"]', None, None),
            ("2", "A", "crowdloan", "MemoUpdated", '["0xaa","2004","0xb554"]', None, None),
            ("3", "A", "crowdloan", "Withdrew", '["0xaa","2004","1"]', None, None),
        ]
        got = {
            r.event_id: r
            for r in crowdloan_feed(spark.createDataFrame(rows, self._EV), 10).collect()
        }
        assert set(got) == {"1", "2"}
        c = got["1"]
        assert (c.account, c.para_id) == ("0xaa", 2004)
        assert c.amount == pytest.approx(50.0) and int(c.raw_amount) == 500000000000
        assert got["2"].memo == "0xb554" and got["2"].amount is None

    def test_identity_table(self, spark):
        from polkadot_etl_spark.functions.scalars import get_address
        from polkadot_etl_spark.plans.feeds import identity_table

        alice = "0x" + "d43593c715fdd31c61141abd04a99fd6822c8558854ccde39a5684e7a56da27d"
        bob = "0x" + "8eaf04151687736326c9fea17e25fc5287613693c912909cb226aa4794f26a48"
        sub = "0x" + "11" * 32
        regs = spark.createDataFrame(
            [
                (alice, "polkadot", '{"display": "Alice"}',
                 '[{"status": "Reasonable"}]'),
                (alice, "kusama", '{"display": "AliceK"}',
                 '[{"status": "FeePaid"}]'),
                (bob, "polkadot", '{"legal": "Bob"}', None),
            ],
            "pubkey: string, relay: string, info: string, judgements: string",
        )
        subs = spark.createDataFrame(
            [(sub, "polkadot", alice, "hot")],
            "pubkey: string, relay: string, parent: string, subname: string",
        )
        got = {r.pubkey: r for r in identity_table(regs, subs).collect()}
        a = got[alice]
        assert a.polkadot_name == "Alice" and a.polkadot_fullname == "Alice"
        assert a.polkadot_judgement_verified is True  # Reasonable ∈ verified set
        assert a.kusama_judgement_verified is False  # FeePaid is not
        assert a.polkadot_ss58 == get_address(alice, 0)
        assert a.kusama_ss58 == get_address(alice, 2)
        # sub-identity inherits parent name, composes fullname
        s = got[sub]
        assert s.polkadot_is_subidentity is True
        assert s.polkadot_fullname == "Alice/hot" and s.polkadot_name == "Alice"
        assert s.polkadot_parent == alice
        # display-less registration → name null, no crash
        assert got[bob].polkadot_name is None


class TestXcmgar:
    _COLS = (
        "relay_chain: string, para_id: int, currency_id: string, symbol: string, "
        "name: string, decimals: int, multilocation: string, "
        "xc_contract_address: string, source: string"
    )

    def _regs(self, spark):
        dot_ml = '{"parents": 1, "interior": {"Here": null}}'
        aca_ml = '{"parents": 1, "interior": {"X2": [{"Parachain": 2000}, {"GeneralKey": "0x0000"}]}}'
        rows = [
            # DOT: home registration on the relay (para 0)...
            ("polkadot", 0, '{"Token":"DOT"}', "DOT", "Polkadot", 10, dot_ml, None, "gar"),
            # ...and a wrapper registration on moonbeam with a precompile
            ("polkadot", 2004, "42259045809535163221576417993425387648", "xcDOT",
             "xcDOT", 10, dot_ml, "0xffffffff1fcacbd218edc0eba20fc2308c778080", "onchain"),
            # ACA: home on 2000, wrapper on 2004
            ("polkadot", 2000, '{"Token":"ACA"}', "ACA", "Acala", 12, aca_ml, None, "gar"),
            ("polkadot", 2004, "224821240862170613278369189818311486111", "xcACA",
             "Acala", 12, aca_ml, None, "onchain"),
        ]
        return spark.createDataFrame(rows, self._COLS)

    def test_registry_canonicalization(self, spark):
        from polkadot_etl_spark.plans.xcmgar import build_xcm_asset_registry

        reg = {r.xcm_interior_key: r for r in build_xcm_asset_registry(self._regs(spark)).collect()}
        assert set(reg) == {
            "polkadot~here",
            'polkadot~[{"parachain":2000},{"generalKey":"0x0000"}]',
        }
        dot = reg["polkadot~here"]
        # home registration wins over the xc-wrapper; contract address is
        # still harvested from the wrapper row
        assert dot.symbol == "DOT" and dot.para_id == 0
        assert dot.confidence == 2 and dot.interior_type == "here"
        assert dot.xc_contract_address == "0xffffffff1fcacbd218edc0eba20fc2308c778080"
        assert dot.xc_currency_id == '{"Token":"DOT"}'
        aca = reg['polkadot~[{"parachain":2000},{"generalKey":"0x0000"}]']
        assert aca.symbol == "ACA" and aca.para_id == 2000
        assert aca.interior_type == "x2" and aca.confidence == 2

    def test_propagation_join(self, spark):
        """xcmLiquidityPairsUpdate (xcmmanager.js:500-510): local asset
        rows pick up the canonical identity via their own (para_id,
        currency_id) registration."""
        from polkadot_etl_spark.plans.xcmgar import (
            build_xcm_asset_registry,
            propagate_registry,
        )

        regs = self._regs(spark)
        registry = build_xcm_asset_registry(regs)
        local = spark.createDataFrame(
            [
                (2004, "42259045809535163221576417993425387648", "lp-token-0"),
                (2004, "999", "unregistered"),
            ],
            "para_id: int, currency_id: string, note: string",
        )
        got = {r.note: r for r in propagate_registry(local, regs, registry).collect()}
        lp = got["lp-token-0"]
        assert lp.xcm_interior_key == "polkadot~here"
        assert lp.xcm_symbol == "DOT" and lp.xcm_home_para_id == 0
        assert got["unregistered"].xcm_interior_key is None


def test_sanity_nullify_counts(spark):
    """The reference's crawler-glitch guard: counts above ratio x prior
    total become NULL, sane counts survive (substrateetl.js:9407-9415)."""
    from polkadot_etl_spark.plans.metrics import sanity_nullify_counts

    df = spark.createDataFrame(
        [("d1", 10, 1000), ("d2", 600, 1000), ("d3", 500, 1000), ("d0", 5, None)],
        "day: string, new_accounts: long, prior_total: long",
    )
    got = {
        r.day: r.new_accounts
        for r in sanity_nullify_counts(df, "new_accounts", "prior_total").collect()
    }
    # d3: rat = 500/1001 < .5 keeps; d0: prior unknown ("yesterday is
    # blank") nullifies regardless of the count
    assert got == {"d1": 10, "d2": None, "d3": 500, "d0": None}


class TestContractsTables:
    def test_contracts_and_code_tables(self, spark):
        """CodeStored/Instantiated events x extrinsics signer join
        (substrateetl.js:2524-2566); non-contract events drop out."""
        from polkadot_etl_spark.plans.wasm import contracts_table, contractscode_table

        ev = spark.createDataFrame(
            [
                ("1-1", "contracts", "CodeStored", '["0xcode1"]', "0xe1", None, 10),
                ("1-2", "contracts", "Instantiated", '["0xdep", "0xaddr"]', "0xe2", None, 11),
                ("1-3", "balances", "Transfer", '["a","b","1"]', "0xe3", None, 12),
            ],
            "extrinsic_id: string, section: string, method: string, data: string, "
            "extrinsic_hash: string, block_time: timestamp, block_number: long",
        )
        xt = spark.createDataFrame(
            [("1-1", "0xsig1"), ("1-2", "0xsig2")],
            "extrinsic_id: string, signer_pub_key: string",
        )
        code = contractscode_table(ev, xt).collect()
        assert len(code) == 1
        assert code[0].code_hash == "0xcode1" and code[0].storer_pub_key == "0xsig1"
        con = contracts_table(ev, xt).collect()
        assert len(con) == 1
        # the reference reads data[0] as the address, data[1] as deployer
        assert con[0].address_pub_key == "0xdep" and con[0].deployer_pub_key == "0xaddr"
        assert con[0].storer_pub_key == "0xsig2"
        assert con[0].block_number_instantiated == 11

    def test_bifrost_inherits_orml(self, spark):
        """Bifrost is an empty ORML subclass in the reference too — the
        generic canonicalization must just work with its asset map."""
        from polkadot_etl_spark.plans.chains import get_parser

        p = get_parser(2030)
        df = spark.createDataFrame([('{"Token":"vDOT"}',)], "a: string")
        row = df.select(
            p.asset_symbol(df.a).alias("s"),
            p.asset_decimals_col(p.asset_symbol(df.a)).alias("d"),
        ).first()
        assert row.s == "vDOT" and row.d == 10

    def test_interlay_total_issuance(self, spark):
        """Pair assets take the FIRST leg's decimals; plain tokens their
        own; unknown falls back to native (interlay.js:43-72)."""
        from polkadot_etl_spark.plans.chains import get_parser

        p = get_parser(2032)
        rows = spark.createDataFrame(
            [
                ('{"Token":"IBTC"}', 5 * 10**8),
                ('[{"Token":"IBTC"}, {"Token":"DOT"}]', 3 * 10**8),
                ('{"Token":"UNKNOWN"}', 10**10),
            ],
            "asset: string, raw_issuance: long",
        )
        got = {r.symbol: r for r in p.total_issuance(rows).collect()}
        assert got["IBTC"].issuance == pytest.approx(5.0)
        assert got["IBTC"].asset_type == "token"
        pair = got["IBTC/DOT"]
        assert pair.asset_type == "liquidity_pair"
        assert pair.issuance == pytest.approx(3.0)  # leg-0 (IBTC, 8) decimals
        assert got["UNKNOWN"].issuance == pytest.approx(1.0)  # native 10

    def test_interlay_issuance_key(self, spark):
        from polkadot_etl_spark.plans.chains import get_parser

        p = get_parser(2032)
        df = spark.createDataFrame([('["{\\"Token\\":\\"IBTC\\"}"]',)], "k: string")
        got = df.select(*p.storage_key_args("tokens", "totalIssuance", df.k)).first()
        assert got.account is None and "IBTC" in got.asset
        assert p.storage_key_args("other", "thing", df.k) is None


class TestConnectedComponents:
    def test_components_and_canonical(self, spark):
        """Two components (one a 4-path needing multiple rounds), min-id
        labels, singleton-free output."""
        from polkadot_etl_spark.operators.graph import connected_components

        edges = spark.createDataFrame(
            [(4, 3), (3, 2), (2, 1), (10, 11), (11, 10)], "src: long, dst: long"
        )
        got = {r.node: r.component for r in connected_components(edges).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    def test_non_convergence_raises(self, spark):
        from polkadot_etl_spark.operators.graph import connected_components

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(8)], "src: long, dst: long"
        )
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="not converged"):
            connected_components(edges, max_iter=2)

    def test_star_matches_propagation_on_random_graph(self, spark):
        """large-star/small-star must produce byte-identical components
        to min-label propagation on a messy random graph (dups, reversed
        edges, self-loops, multiple components)."""
        import random

        from polkadot_etl_spark.operators.graph import (
            connected_components,
            connected_components_star,
        )

        rng = random.Random(42)
        raw = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
        raw += [(61, 61), (63, 63)]  # self-loop-only nodes must survive
        edges = spark.createDataFrame(raw, "src: long, dst: long")
        prop = {
            r.node: r.component
            for r in connected_components(edges).collect()
        }
        star = {
            r.node: r.component
            for r in connected_components_star(edges).collect()
        }
        assert star == prop

    def test_star_converges_on_high_diameter_chain(self, spark):
        """The whole point of star contraction: a 64-node chain needs ~64
        propagation rounds but must collapse within O(log^2 n) star
        alternations — and still label everything with the chain min."""
        from polkadot_etl_spark.operators.graph import connected_components_star

        n = 64
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "src: long, dst: long"
        )
        got = {
            r.node: r.component
            for r in connected_components_star(edges, max_iter=8).collect()
        }
        assert got == {i: 0 for i in range(n)}


class TestDumpDayChainDispatch:
    def test_chain_id_resolves_parser_transfers(self, fx):
        """dump_day(chain_id=2004) must use the moonbeam parser's
        18-decimal native config for transfer decimalization; the default
        path stays at 10 (setup_chainParser before processing,
        indexer.js:6697-6755)."""
        from polkadot_etl_spark.plans.dump import dump_day

        dfs = fx["dfs"]
        base = dump_day(dfs["blocks_raw"], dfs["extrinsics"], dfs["events"], "polkadot", 0)
        moon = dump_day(
            dfs["blocks_raw"], dfs["extrinsics"], dfs["events"], "polkadot", 0,
            chain_id=2004,
        )
        b = base["transfers"].select("event_id", "amount").orderBy("event_id").collect()
        m = moon["transfers"].select("event_id", "amount").orderBy("event_id").collect()
        assert len(b) == len(m) and len(b) > 0
        for rb, rm in zip(b, m):
            if rb.amount:  # same raw, different decimals: 10 vs 18
                assert rm.amount == pytest.approx(rb.amount / 1e8)


class TestGovernance:
    def test_conviction_votes_edge_payloads(self, spark):
        """Pin dump_democracy's per-variant semantics on a hand-built
        votingFor fixture (substrateetl.js:2219-2295): Standard Aye/Nay,
        Split (conviction None → 0.1x), SplitAbstain, the len!=2 tuple
        guard, the unknown-variant WEIRD row, and an unmapped conviction
        falling back to 1x."""
        from polkadot_etl_spark.plans.governance import (
            conviction_votes_table,
            delegations_table,
        )

        rows = [
            # Standard Aye with comma-grouped balance, Locked3x
            ("a1", 0,
             '{"Casting": {"votes": [[165, {"Standard": {"vote": {"vote": "Aye",'
             ' "conviction": "Locked3x"}, "balance": "1,000,000,000,000"}}]]}}'),
            # Standard Nay, unmapped conviction → mult fallback 1
            ("a2", 1,
             '{"Casting": {"votes": [[7, {"Standard": {"vote": {"vote": "Nay",'
             ' "conviction": "Locked9x"}, "balance": "20000000000"}}]]}}'),
            # Split (no conviction → None → 0.1x) + a malformed 1-tuple
            ("a3", 10,
             '{"Casting": {"votes": [[8, {"Split": {"aye": "30000000000",'
             ' "nay": "10000000000"}}], [99]]}}'),
            # SplitAbstain
            ("a4", 34,
             '{"Casting": {"votes": [[9, {"SplitAbstain": {"aye": "100",'
             ' "nay": "200", "abstain": "40000000000"}}]]}}'),
            # unknown payload variant → zeros, NULL vote (the WEIRD log)
            ("a5", 2,
             '{"Casting": {"votes": [[10, {"Quadratic": {"weight": "5"}}]]}}'),
            # Delegating
            ("a6", 20,
             '{"Delegating": {"balance": "5,000,000,000,000", "target": "a1",'
             ' "conviction": "Locked6x"}}'),
        ]
        state = spark.createDataFrame(rows, "account: string, class_id: int, voting: string")
        votes = {r["account"]: r for r in conviction_votes_table(state).collect()}

        v = votes["a1"]
        assert (v["poll_id"], v["vote"], v["conviction"]) == (165, "Aye", "Locked3x")
        assert (v["aye"], v["ayec"], v["nay"], v["class_name"]) == (100.0, 300.0, 0.0, "Root")
        v = votes["a2"]  # unmapped Locked9x → mult 1 (substrateetl.js:2266)
        assert (v["nay"], v["nayc"], v["class_name"]) == (2.0, 2.0, "Whitelisted Caller")
        v = votes["a3"]  # Split → conviction None → 0.1x; 1-tuple dropped
        assert (v["vote"], v["conviction"]) == ("Split", "None")
        assert (v["aye"], round(v["ayec"], 10), v["nay"]) == (3.0, 0.3, 1.0)
        assert sum(1 for r in conviction_votes_table(state).collect()
                   if r["account"] == "a3") == 1
        v = votes["a4"]
        assert (v["vote"], v["abstain"], v["class_name"]) == ("SplitAbstain", 4.0, "Big Spender")
        v = votes["a5"]  # WEIRD: zeros, NULL direction, still published
        assert v["vote"] is None and v["aye"] == 0.0 and v["nay"] == 0.0

        d = delegations_table(state).collect()
        assert len(d) == 1
        assert (d[0]["account"], d[0]["target"], d[0]["balance"],
                d[0]["conviction"], d[0]["class_name"]) == (
            "a6", "a1", 500.0, "Locked6x", "Referendum Canceller")


class TestXcmTransfersWide:
    def test_schema_matches_published_contract(self):
        """Column names, order, nullability-shape, and types of
        schemas.XCMTRANSFERS_WIDE must match schema/xcmtransfers.json
        exactly (the public data contract of the wide table)."""
        import json
        import os

        import pytest as _pytest
        from pyspark.sql import types as T

        from polkadot_etl_spark.schemas import XCMTRANSFERS_WIDE

        path = "/root/reference/schema/xcmtransfers.json"
        if not os.path.exists(path):
            _pytest.skip("reference schema dir not present")
        with open(path) as fh:
            contract = json.load(fh)
        type_map = {
            "STRING": T.StringType(),
            "INTEGER": T.LongType(),
            "FLOAT": T.DoubleType(),
            "BOOLEAN": T.BooleanType(),
            "TIMESTAMP": T.TimestampType(),
            "JSON": T.StringType(),
        }
        assert [f.name for f in XCMTRANSFERS_WIDE.fields] == [c["name"] for c in contract]
        for f, c in zip(XCMTRANSFERS_WIDE.fields, contract):
            assert f.dataType == type_map[c["type"]], f.name
            # REQUIRED columns must be non-nullable in the struct
            if c["mode"] == "REQUIRED":
                assert not f.nullable, f"{f.name} should be REQUIRED"

    def test_execution_status_rule(self, spark):
        """destination_execution_status (substrateetl.js:5095): success iff
        destStatus==1 OR xcmInfo says success OR amountReceived > 0."""
        from pyspark.sql import functions as F

        from polkadot_etl_spark.plans.xcm import xcmtransfers_wide

        base = dict(
            extrinsicHash="0xt1", extrinsicID="1-0", transferIndex=0, xcmIndex=0,
            chainID=2000, chainIDDest=2010, blockNumber=1, symbol="DOT",
            amountSent=100, sourceTS=1600000000, sentAt=1, msgHash="0xm1",
            priceUSD=1.0, amountSentUSD=1.0, amountReceivedUSD=1.0,
            section="xcmPallet", method="transfer", txFee=None, txFeeUSD=None,
            teleportFeeUSD=0.0, senderSS58="5S", senderPubKey="0xs",
            beneficiarySS58="5B", beneficiaryPubKey="0xb",
            transactionHash=None, isMsgSent=None, isFeeItem=None,
            destExtrinsicID="2-1", xcmInfoLastUpdateTS=1700000000,
            blockNumberDest=2, destEventID="1-e", c_destTS=1600000100,
        )
        rows = [
            {**base, "extrinsicID": "1-0", "destStatus": 1,
             "destExecutionStatus": "error", "amountReceived": 0, "xcmTeleportFees": 100},
            {**base, "extrinsicID": "2-0", "destStatus": 0,
             "destExecutionStatus": "success", "amountReceived": 0, "xcmTeleportFees": 100},
            {**base, "extrinsicID": "3-0", "destStatus": 0,
             "destExecutionStatus": "error", "amountReceived": 50, "xcmTeleportFees": 50},
            {**base, "extrinsicID": "4-0", "destStatus": 0,
             "destExecutionStatus": "error", "amountReceived": 0, "xcmTeleportFees": 100},
        ]
        schema = (
            "extrinsicHash string, extrinsicID string, transferIndex long,"
            " xcmIndex long, chainID long, chainIDDest long, blockNumber long,"
            " symbol string, amountSent long, sourceTS long, sentAt long,"
            " msgHash string, priceUSD double, amountSentUSD double,"
            " amountReceivedUSD double, section string, method string,"
            " txFee double, txFeeUSD double, teleportFeeUSD double,"
            " senderSS58 string, senderPubKey string, beneficiarySS58 string,"
            " beneficiaryPubKey string, transactionHash string,"
            " isMsgSent boolean, isFeeItem boolean, destExtrinsicID string,"
            " xcmInfoLastUpdateTS long, blockNumberDest long,"
            " destEventID string, c_destTS long, destStatus int,"
            " destExecutionStatus string, amountReceived long,"
            " xcmTeleportFees long"
        )
        field_names = [f.strip().split(" ")[0] for f in schema.split(",")]
        matched = spark.createDataFrame(
            [tuple(r[n] for n in field_names) for r in rows], schema
        )
        chains = spark.createDataFrame(
            [(2000, "c0", "C0", 0), (2010, "c1", "C1", 10)],
            "chainID: long, id: string, chain_name: string, para_id: long",
        )
        out = {
            r["origination_extrinsic_id"]: r
            for r in xcmtransfers_wide(matched, chains).collect()
        }
        assert out["1-0"]["destination_execution_status"] == "success"
        assert out["2-0"]["destination_execution_status"] == "success"
        assert out["3-0"]["destination_execution_status"] == "success"
        assert out["4-0"]["destination_execution_status"] == "unknown"
        # fee/flag coalesces (:5128-5131)
        assert out["1-0"]["origination_tx_fee"] == 0.0
        assert out["1-0"]["origination_is_msg_sent"] is False
        assert out["1-0"]["origination_is_fee_item"] is False
        # xcm_info is valid JSON with both sides
        import json as _json

        blob = _json.loads(out["1-0"]["xcm_info"])
        assert blob["origination"]["paraID"] == 0
        assert blob["destination"]["executionStatus"] == "success"


class TestPublishedContracts:
    """Schema parity of the published StructTypes against the reference's
    BigQuery JSON schema files (skipped when the reference isn't present)."""

    @staticmethod
    def _check(struct, path):
        import json
        import os

        import pytest as _pytest
        from pyspark.sql import types as T

        if not os.path.exists(path):
            _pytest.skip("reference schema dir not present")
        with open(path) as fh:
            contract = json.load(fh)
        type_map = {
            "STRING": T.StringType(),
            "INTEGER": T.LongType(),
            "FLOAT": T.DoubleType(),
            "BOOLEAN": T.BooleanType(),
            "TIMESTAMP": T.TimestampType(),
            "JSON": T.StringType(),
        }
        assert [f.name for f in struct.fields] == [c["name"] for c in contract]
        for f, c in zip(struct.fields, contract):
            assert f.dataType == type_map[c["type"]], f.name
            if c["mode"] == "REQUIRED":
                assert not f.nullable, f"{f.name} should be REQUIRED"

    def test_xcm_wide_matches_contract(self):
        from polkadot_etl_spark.schemas import XCM_WIDE

        self._check(XCM_WIDE, "/root/reference/schema/xcm.json")

    def test_snapshots_matches_contract(self):
        from polkadot_etl_spark.schemas import SNAPSHOTS

        self._check(SNAPSHOTS, "/root/reference/schema/snapshots.json")

    def test_snapshot_hour_dedup_keeps_first(self, spark):
        """priceManager.js:1007-1012: only the FIRST observation per
        (track_val, canonical hour) survives."""
        from pyspark.sql import functions as F

        from polkadot_etl_spark.plans.snapshots import snapshot_rows

        obs = spark.createDataFrame(
            [(1, "A", "2024-01-01 05:10:00"), (2, "A", "2024-01-01 05:50:00"),
             (3, "A", "2024-01-01 06:05:00"), (4, "B", "2024-01-01 05:59:00")],
            "k: long, sym: string, ts: string",
        ).withColumn("ts", F.to_timestamp("ts"))
        out = snapshot_rows(
            obs, section="pricefeed", storage="price", source="t",
            chain={"relay_chain": "polkadot", "para_id": 0, "id": "p",
                   "chain_name": "P"},
            block_number="k", block_hash="sym", ts="ts",
            track_val="sym",
            pv="struct(k AS price_raw)",
            dedup_first_per_hour=True, order_col="k",
        ).collect()
        kept = {(r.track_val, str(r.ts), r.block_number) for r in out}
        assert kept == {
            ("A", "2024-01-01 05:00:00", 1),  # k=2 same hour dropped
            ("A", "2024-01-01 06:00:00", 3),
            ("B", "2024-01-01 05:00:00", 4),
        }


class TestJdbcPlanner:
    """S3: the JDBC partition planner, plus (r13) a REAL end-to-end
    spark.read.jdbc round trip — pyspark ships the Derby jars, so the
    binding no longer has to be planner-only in this sandbox."""

    def test_stride_partitions_cover_and_never_overlap(self):
        from polkadot_etl_spark.sources.jdbc import stride_predicates

        preds = stride_predicates("k", 0, 1000, 4)
        assert len(preds) == 4
        assert preds[0] == "k < 250 OR k IS NULL"  # open below + NULLs
        assert preds[-1] == "k >= 750"  # open above
        # every key matches exactly one predicate
        import re

        def matches(k, p):
            if "IS NULL" in p:
                return k < int(re.search(r"< (\d+)", p).group(1))
            nums = [int(x) for x in re.findall(r"\d+", p)]
            if ">=" in p and "<" in p:
                return nums[0] <= k < nums[1]
            return k >= nums[0]

        for k in [-5, 0, 249, 250, 500, 999, 1000, 10**9]:
            assert sum(matches(k, p) for p in preds) == 1, k

    def test_stride_degenerate_cases(self):
        from polkadot_etl_spark.sources.jdbc import stride_predicates

        assert stride_predicates("k", 5, 5, 8) == ["1=1"]  # empty range
        assert stride_predicates("k", 0, 10, 1) == ["1=1"]  # single part
        # more partitions than keys → clamps, still covers
        preds = stride_predicates("k", 0, 3, 10)
        assert len(preds) == 3

    def test_point_and_day_predicates(self):
        from polkadot_etl_spark.sources.jdbc import (
            day_range_predicates,
            point_predicates,
        )

        assert point_predicates("chainID", [0, 2000]) == [
            "chainID = 0", "chainID = 2000",
        ]
        assert point_predicates("addr", ["a'b"]) == ["addr = 'a''b'"]
        days = day_range_predicates("sourceTS", "2023-02-01", 2)
        # 2023-02-01 UTC midnight = 1675209600
        assert days == [
            "sourceTS >= 1675209600 AND sourceTS < 1675296000",
            "sourceTS >= 1675296000 AND sourceTS < 1675382400",
        ]

    def test_derby_roundtrip_scan_fans_out_and_drops_nothing(self, spark):
        """The live leg: write supplier into embedded Derby via the JDBC
        sink, read back through the stride plan, and pin (a) the scan
        really is a 4-partition JDBCRelation (N independent range
        connections — the reference's MySQL fan-out shape), (b) not one
        row or key was lost or duplicated by the stride boundaries, and
        (c) doubles round-trip bit-for-bit."""
        from polkadot_etl_spark.queries import QUERIES
        from polkadot_etl_spark.sources.tables import load_table
        from tests.conftest import SF_DIR

        df = QUERIES["jdbc_derby_roundtrip"].build(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "JDBCRelation(supplier) [numPartitions=4]" in plan, plan
        truth = load_table(spark, SF_DIR, "supplier")
        got = {
            (r.n_name, r.n_suppliers, r.min_suppkey, r.max_suppkey,
             r.total_acctbal)
            for r in df.collect()
        }
        want = {
            (r.n_name, r.n_suppliers, r.min_suppkey, r.max_suppkey,
             r.total_acctbal)
            for r in truth.join(
                load_table(spark, SF_DIR, "nation"),
                truth["s_nationkey"] == F.col("n_nationkey"),
            )
            .groupBy("n_name")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
                F.min("s_suppkey").cast("bigint").alias("min_suppkey"),
                F.max("s_suppkey").cast("bigint").alias("max_suppkey"),
                F.sum(F.col("s_acctbal").cast("decimal(38,10)"))
                .cast("double")
                .alias("total_acctbal"),
            )
            .collect()
        }
        assert got == want


def test_topn_window_group_limit_exact(spark):
    """The rank-limit pushdown (WindowGroupLimit) must not change results:
    top_n_per_group equals the driver-side per-group sorted head on a
    skewed synthetic with heavy value ties forcing the tie-break."""
    from pyspark.sql import functions as F

    from polkadot_etl_spark.operators.topn import top_n_per_group

    df = (
        spark.range(2000)
        .repartition(16)  # many input partitions -> partial limits do work
        .select(
            (F.col("id") % 7).cast("string").alias("grp"),
            (F.col("id") % 13).cast("double").alias("val"),  # heavy ties
            F.col("id").alias("addr"),
        )
    )
    order = [F.col("val").desc(), F.col("addr").asc()]
    got = sorted(
        (r.grp, r.rn, r.val, r.addr)
        for r in top_n_per_group(df, ["grp"], order, 9).collect()
    )
    rows = sorted(((r.grp, -r.val, r.addr) for r in df.collect()))
    expect = []
    by_grp = {}
    for grp, nval, addr in rows:
        k = by_grp.setdefault(grp, [])
        if len(k) < 9:
            k.append((grp, len(k) + 1, -nval, addr))
    for k in by_grp.values():
        expect.extend(k)
    assert got == sorted(expect)


class TestScaleCompound:
    def test_compound_types_decode_with_registry(self):
        """Registered structs/enums/tuples decode (the uploaded-metadata
        equivalent); unregistered compounds stay the declared boundary."""
        import pytest

        from polkadot_etl_spark.functions.scale import (
            ScaleError,
            TypeRegistry,
            decode_value,
        )
        from polkadot_etl_spark.plans.wasm import ContractRegistry, InkMessage

        tr = TypeRegistry()
        tr.register_struct("Point", [("x", "u32"), ("y", "u32")])
        tr.register_enum(
            "Action", [("Noop", []), ("Move", ["Point"]), ("Label", ["String"])]
        )
        pt = (7).to_bytes(4, "little") + (9).to_bytes(4, "little")
        assert decode_value("Point", pt, 0, tr) == ({"x": 7, "y": 9}, 8)
        assert decode_value("Action", b"\x00", 0, tr) == (
            {"variant": "Noop", "values": []}, 1,
        )
        assert decode_value("Action", b"\x01" + pt, 0, tr) == (
            {"variant": "Move", "values": [{"x": 7, "y": 9}]}, 9,
        )
        assert decode_value("Action", b"\x02" + bytes.fromhex("10696e6b21"), 0, tr) == (
            {"variant": "Label", "values": ["ink!"]}, 6,
        )
        assert decode_value("Vec<Point>", b"\x08" + pt + pt, 0, tr)[0] == [
            {"x": 7, "y": 9}, {"x": 7, "y": 9},
        ]
        assert decode_value("(u8, Point)", b"\x05" + pt, 0, tr) == (
            [5, {"x": 7, "y": 9}], 9,
        )
        assert decode_value("Option<Point>", b"\x01" + pt, 0, tr) == (
            {"x": 7, "y": 9}, 9,
        )
        with pytest.raises(ScaleError):
            decode_value("Action", b"\x09", 0, tr)  # variant out of range

        reg = ContractRegistry(types=tr)
        reg.register("0xC0", [InkMessage("mv", "0xaabbccdd", ("Action",))])
        got = reg.decode_call("0xc0", "0xaabbccdd01" + pt.hex())
        assert got["decoded"] is True
        assert got["args"]["arg0"] == {"variant": "Move", "values": [{"x": 7, "y": 9}]}

        # without a type registry the same message is still the boundary
        bare = ContractRegistry()
        bare.register("0xC0", [InkMessage("mv", "0xaabbccdd", ("Action",))])
        with pytest.raises(NotImplementedError):
            bare.decode_call("0xc0", "0xaabbccdd00")


def test_chain_snapshotter_dispatch_and_issuance_tracks(spark):
    """The per-chain snapshotter registry dispatches interlay/bifrost to
    the generic issuance machinery (snapshot/interlay.js:31-47,
    bifrost.js:53-130): same key/value shape, different storage item and
    track label; hex values normalize to exact decimal strings."""
    from polkadot_etl_spark.plans.snapshots import (
        BifrostSnapshotter,
        get_snapshotter,
    )

    assert get_snapshotter("interlay").chain["para_id"] == 2032
    assert get_snapshotter("bifrost").chain["para_id"] == 2030
    assert get_snapshotter("nowhere").chain["para_id"] == 0  # generic fallback

    entries = spark.createDataFrame(
        [('[{"token":"BNC"}]', "0x2a"), ('[{"vToken":"DOT"}]', "7")],
        "key_args string, value string",
    )
    block = {"number": 9, "hash": "0x9", "ts": "2023-06-01 05:59:59"}
    rows = {r.track_val: r for r in BifrostSnapshotter().vtoken_pool(entries, block).collect()}
    r1 = rows['{"token":"BNC"}']
    assert (r1.section, r1.storage, r1.track) == ("vtokenMinting", "tokenPool", "vtoken")
    assert r1.pv == "42" and r1.kv == '{"token":"BNC"}'
    assert rows['{"vToken":"DOT"}'].pv == "7"
    assert str(r1.ts) == "2023-06-01 05:00:00"  # canonical hour


def test_moonbeam_kusama_snapshotters_are_config_subclasses(spark):
    """snapshot/moonbeam.js:1-11 and kusama.js:1-11 define ONLY
    chainName/chainDecimals/wsEndpoint — their snapshot surface is the
    inherited generic tracks. Pin the configs and run the generic
    issuance track under the Moonbeam identity."""
    from pyspark.sql import functions as F

    from polkadot_etl_spark.plans.snapshots import (
        KusamaSnapshotter,
        MoonbeamSnapshotter,
        RelaySnapshotter,
        get_snapshotter,
    )

    mb = get_snapshotter("moonbeam")
    assert type(mb) is MoonbeamSnapshotter
    assert mb.chain_decimals == 18 and mb.chain["para_id"] == 2004
    # no custom extractor beyond ChainSnapshotter's generic surface
    extra = set(dir(MoonbeamSnapshotter)) - set(dir(type(mb).__mro__[1]))
    assert not extra, f"moonbeam must stay config-only, found {extra}"

    ks = get_snapshotter("kusama")
    assert type(ks) is KusamaSnapshotter
    assert issubclass(KusamaSnapshotter, RelaySnapshotter)
    assert ks.chain_decimals == 12

    entries = spark.createDataFrame(
        [('["42"]', "0x0de0b6b3a7640000")],  # 1e18 wei hex
        "key_args string, value string",
    )
    block = {"number": 5, "hash": "0xabc", "ts": "2024-01-01 00:00:00"}
    row = mb.total_issuance(entries, block, section="assets",
                            storage="totalIssuance").head()
    assert row.pv == "1000000000000000000"
    assert row.chain_name == "Moonbeam"


def test_dechex_str_over_width_hex_is_null_not_truncated(spark):
    """lpad truncates long strings — a hex body wider than u128 must
    surface as NULL from every caller of the one u128 decode, never as a
    prefix-truncated number."""
    import decimal

    from polkadot_etl_spark.plans import feeds, snapshots, wasm

    df = spark.createDataFrame(
        [("0x" + "ff" * 16,), ("0x" + "01" + "00" * 16,), ("0x1" + "0" * 33,), ("123",)],
        "v string",
    )
    rows = df.selectExpr(
        f"{feeds._u128_from_maybe_hex('v')} AS feeds",
        f"{wasm._dechex_str('v')} AS wasm",
        f"{snapshots._dechex_str('v')} AS snapshots",
    ).collect()
    # max u128 still decodes; 17 bytes and 2^132 (34 digits) are NULL
    u128_max = str((1 << 128) - 1)
    assert [r.snapshots for r in rows] == [u128_max, None, None, "123"]
    assert [r.wasm for r in rows] == [u128_max, None, None, "123"]
    # feeds' contract is decimal(38,0), which 2^128-1 overflows to NULL
    assert [r.feeds for r in rows] == [None, None, None, decimal.Decimal(123)]


@pytest.mark.parametrize(
    "raw, want",
    [
        ("1,234", 1234),  # toHuman comma-formatted decimal
        ("0x8000000000000000", None),  # 2^63: past INT, must not fail the task
        ("0x" + "f" * 18, None),  # past 64 bits: conv would overflow
        ("4294967296", None),  # 2^32: past INT
        ("0x10", 16),
        ("12", 12),
        ("abc", None),
        ("0x", None),
    ],
)
def test_dechex_int_is_null_not_a_failure(spark, raw, want):
    """The one dechexToInt (reward eras, gar decimals, dApp-staking ids
    and eras): INT or NULL for every input, never a task failure under
    the session's ANSI mode."""
    from polkadot_etl_spark.plans.feeds import _dechex_int

    df = spark.createDataFrame([(raw,)], "v string").selectExpr(f"{_dechex_int('v')} AS n")
    assert df.schema["n"].dataType.simpleString() == "int"
    assert df.collect()[0].n == want


def test_newest_per_key_same_bn_conflict_is_deterministic(spark):
    """Two observations for one key at the SAME block with different
    payloads must pick a stable winner (payload-desc tiebreak), not a
    partition-order-dependent one."""
    from polkadot_etl_spark.plans.token_metadata import _newest_per_key

    obs = spark.createDataFrame(
        [("a", "x", 10), ("a", "z", 10), ("a", "y", 10), ("b", "q", 7)],
        "asset string, payload string, bn long",
    )
    for n_parts in (1, 7):
        got = {
            r.asset: r.payload
            for r in _newest_per_key(obs.repartition(n_parts), ["asset"], "bn").collect()
        }
        assert got == {"a": "z", "b": "q"}


def test_relay_vote_byte_decode_all_256(spark):
    """Exhaustive vote-byte table: for every byte 0..255 the casting
    decode must agree with an independent Python model of the rules
    (aye = byte >= 128, conviction weight = byte % 16 with the 0 -> 0.1
    'None' floor, balance lands ONLY on the voted side — the corrected
    semantics, not the reference's assignment-in-ternary bug)."""
    from polkadot_etl_spark.plans.snapshots import RelaySnapshotter

    rows = [
        (
            f'["v{b}", {b % 5}]',
            '{"casting":{"votes":[[%d,{"standard":{"vote":"0x%02x",'
            '"balance":50000000000}}]],'
            '"delegations":{"votes":0,"capital":0},"prior":[0,0]}}' % (b, b),
        )
        for b in range(256)
    ]
    df = spark.createDataFrame(rows, "key_args string, value string")
    got = {r.poll_id: r for r in RelaySnapshotter().casting_votes(df).collect()}
    assert len(got) == 256
    for b in range(256):
        r = got[b]
        w = 0.1 if b % 16 == 0 else float(b % 16)
        # conviction names exist only for the on-chain-valid nibbles
        # (0 -> None, 1..6 -> LockedNx); 7..15 cannot occur on chain and
        # the reference's convictionMap lookup is undefined there too —
        # our decode surfaces NULL for them
        name = (
            "None" if b % 16 == 0 else (f"Locked{b % 16}x" if b % 16 <= 6 else None)
        )
        assert r.vote_type == ("aye" if b >= 128 else "nay"), b
        assert r.conviction_weight == w, b
        assert r.conviction == name, b
        voted, other = (r.aye, r.nay) if b >= 128 else (r.nay, r.aye)
        assert voted == 5.0 and other == 0.0, b
        assert r.abstain == 0.0


def test_relay_delegatee_rollup_merge_shapes(spark):
    """The three delegatee shapes merge correctly: self-stats only
    (casting with delegations, no incoming), incoming only (pure
    target), and both — with the roster sorted and avg conviction
    rounded to 4 places."""
    from polkadot_etl_spark.plans.snapshots import RelaySnapshotter

    rows = [
        # vA: casting voter with its own delegations stats, no incoming
        ('["vA", 1]',
         '{"casting":{"votes":[],"delegations":{"votes":70000000000,'
         '"capital":30000000000},"prior":[0,0]}}'),
        # vB, vC delegate to vT (incoming only — vT has no entry)
        ('["vB", 1]',
         '{"delegating":{"balance":10000000000,"target":"vT",'
         '"conviction":"Locked2x","delegations":{"votes":0,"capital":0},'
         '"prior":[0,0]}}'),
        ('["vC", 1]',
         '{"delegating":{"balance":20000000000,"target":"vT",'
         '"conviction":"None","delegations":{"votes":0,"capital":0},'
         '"prior":[0,0]}}'),
        # vD: delegating AND carries its own delegations (intermediate
        # delegatee) -> self-stats row for vD
        ('["vD", 1]',
         '{"delegating":{"balance":5000000000,"target":"vT",'
         '"conviction":"Locked6x","delegations":{"votes":90000000000,'
         '"capital":60000000000},"prior":[0,0]}}'),
    ]
    df = spark.createDataFrame(rows, "key_args string, value string")
    got = {r.delegatee: r for r in RelaySnapshotter().delegatees(df).collect()}
    assert got["vA"].delegations_votes == 7.0
    assert got["vA"].avg_conviction == round(7.0 / 3.0, 4)
    assert got["vA"].delegators == "" and got["vA"].delegators_cnt == 0
    assert got["vT"].delegations_votes == 0.0 and got["vT"].avg_conviction == 0.0
    assert got["vT"].delegators == "vB,vC,vD" and got["vT"].delegators_cnt == 3
    assert got["vD"].delegations_votes == 9.0
    assert got["vD"].avg_conviction == 1.5


def test_nft_upsert_equal_bn_keeps_current(spark):
    """Replace only when strictly newer: an observation at the SAME
    block as the stored row must not replace it, regardless of how its
    payload sorts; a strictly newer observation still wins."""
    from polkadot_etl_spark.plans.token_metadata import upsert_nft_metadata

    schema = ("asset string, token_id long, holder string, meta string, "
              "token_uri string, free string, last_update_bn long")
    cur = spark.createDataFrame([("a", 1, "x", "m", "u", "f", 10)], schema)
    obs = spark.createDataFrame(
        [("a", 1, "z", "m2", "u2", "f2", 10),   # same bn: must lose
         ("a", 2, "w", "m3", "u3", "f3", 5)],   # unseen token: inserts
        schema,
    )
    got = {r.token_id: r.holder for r in upsert_nft_metadata(cur, obs).collect()}
    assert got == {1: "x", 2: "w"}
    newer = spark.createDataFrame([("a", 1, "z", "m2", "u2", "f2", 11)], schema)
    got2 = {r.token_id: r.holder for r in upsert_nft_metadata(cur, newer).collect()}
    assert got2 == {1: "z"}


def test_relay_staking_info_missing_or_duplicate_era(spark):
    """A missing currentEra singleton must surface metrics with a NULL
    era (not silently drop the whole track); a duplicated fetch must
    not double the rows; and junk delegations {votes>0, capital:0}
    yield avg_conviction 0, never Infinity."""
    from polkadot_etl_spark.plans.snapshots import RelaySnapshotter

    snap = RelaySnapshotter()
    no_era = spark.createDataFrame(
        [("totalIssuance", "50000000000"), ("validatorCount", "600")],
        "name string, value string",
    )
    rows = {r.metric: r for r in snap.staking_info(no_era).collect()}
    assert set(rows) == {"totalIssuance", "validatorCount"}
    assert all(r.era is None for r in rows.values())

    dup_era = spark.createDataFrame(
        [("currentEra", "7"), ("currentEra", "7"), ("validatorCount", "600")],
        "name string, value string",
    )
    out = snap.staking_info(dup_era).collect()
    assert len(out) == 1 and out[0].era == 7

    junk = spark.createDataFrame(
        [('["vJ", 1]',
          '{"casting":{"votes":[],"delegations":{"votes":"50000000000",'
          '"capital":"0"},"prior":[0,0]}}')],
        "key_args string, value string",
    )
    d = snap.delegatees(junk).collect()
    assert len(d) == 1
    assert d[0].avg_conviction == 0.0 and d[0].delegations_votes == 5.0


def test_relay_and_kusama_keep_their_own_decimals(spark):
    """Polkadot (10 decimals) and Kusama (12) run the same relay walks
    in one session: every decimalized balance reads exactly 100x larger
    on Polkadot, and every other column is equal. Balances are
    multiples of 1e11 plancks (one in hex), so both quotients are exact."""
    from polkadot_etl_spark.plans.snapshots import KusamaSnapshotter, RelaySnapshotter

    kv = "key_args string, value string"
    voting = spark.createDataFrame([
        ('["vA", 0]',
         '{"casting":{"votes":[[1,{"standard":{"vote":"0x81","balance":3000000000000}}],'
         '[2,{"splitAbstain":{"aye":1000000000000,"nay":500000000000,'
         '"abstain":2000000000000}}]],"delegations":{"votes":4000000000000,'
         '"capital":2000000000000},"prior":[7,1000000000000]}}'),
        ('["vB", 0]',
         '{"delegating":{"balance":"0x2d79883d2000","target":"vA","conviction":"Locked2x",'
         '"delegations":{"votes":0,"capital":0},"prior":[9,500000000000]}}'),
    ], kv)
    referenda = spark.createDataFrame([
        ('[5]',
         '{"ongoing":{"submissionDeposit":{"who":"d5","amount":1000000000000},'
         '"decisionDeposit":{"who":"d5","amount":2000000000000},"tally":'
         '{"ayes":7000000000000,"nays":3000000000000,"support":5000000000000}}}'),
        ('[6]', '{"approved":[100006,{"who":"d6","amount":1000000000000},null]}'),
    ], kv)
    treasury = spark.createDataFrame([
        ('["3"]', '{"proposer":"p","value":1000000000000,"beneficiary":"b",'
                  '"bond":500000000000}'),
    ], kv)
    bounties = spark.createDataFrame([
        ('[4]', '{"proposer":"p","value":5000000000000,"fee":1000000000000,'
                '"curatorDeposit":500000000000,"bond":1,'
                '"status":{"active":{"curator":"c","updateDue":9}}}'),
    ], kv)
    singles = spark.createDataFrame(
        [("currentEra", "1477"), ("erasTotalStake", "8200000000000000000"),
         ("totalIssuance", "15000000000000000000"), ("validatorCount", "600")],
        "name string, value string",
    )
    tracks = [
        ("casting_votes", voting, {"aye", "nay", "abstain"}),
        ("casting_summary", voting,
         {"delegations_votes", "delegations_capital", "prior_balance"}),
        ("delegations", voting, {"balance", "prior_balance"}),
        ("delegatees", voting, {"delegations_votes", "delegations_capital"}),
        ("referenda", referenda, {"submission_deposit", "decision_deposit",
                                  "tally_ayes", "tally_nays", "tally_support"}),
        ("treasury_proposals", treasury, {"value", "bond"}),
        ("bounties", bounties, {"value", "fee", "curator_deposit"}),
        ("staking_info", singles, {"value"}),
    ]

    def split(rows, balances):
        """(non-balance columns, balance columns) per row, in a stable
        order; staking_info's counters are not balances."""
        out = []
        for r in rows:
            d = r.asDict()
            bal = balances if d.get("metric", "erasTotalStake") in (
                "erasTotalStake", "totalIssuance") else set()
            out.append(({c: v for c, v in d.items() if c not in bal},
                        {c: v for c, v in d.items() if c in bal}))
        return sorted(out, key=lambda p: repr(sorted(p[0].items())))

    scaled = 0
    for method, entries, balances in tracks:
        dot = split(getattr(RelaySnapshotter(), method)(entries).collect(), balances)
        ksm = split(getattr(KusamaSnapshotter(), method)(entries).collect(), balances)
        assert dot and len(dot) == len(ksm), method
        for (dot_rest, dot_bal), (ksm_rest, ksm_bal) in zip(dot, ksm):
            assert dot_rest == ksm_rest, method
            for c, v in dot_bal.items():
                if v is None:
                    assert ksm_bal[c] is None, (method, c)
                else:
                    assert v == ksm_bal[c] * 100, (method, c, v, ksm_bal[c])
                    scaled += v != 0
    assert scaled >= 20


def test_bigquery_publish_contract(spark):
    """The bq load / bq query command contract matches the reference's
    invocations byte-for-byte in shape (substrateetl.js:713, 1513,
    3837, 298): NDJSON source format, day partition decorator,
    hourly-grain partitioning flags, --replace idempotence — and the
    live connector binding env-gates with a clear error."""
    import pytest

    from polkadot_etl_spark.sources.bigquery import (
        bq_load_command,
        bq_query_command,
        connector_available,
        partition_decorator,
        read_table,
    )

    assert partition_decorator("chains.blocks0", "2024-01-31") == (
        "chains.blocks0$20240131"
    )
    cmd = bq_load_command(
        "substrate.balances0",
        "/tmp/balances.json",
        "schema/substrateetl/balances.json",
        project_id="p1",
        day="2024-01-31",
    )
    assert cmd == [
        "bq", "load", "--project_id=p1", "--max_bad_records=10",
        "--source_format=NEWLINE_DELIMITED_JSON", "--replace=true",
        "substrate.balances0$20240131", "/tmp/balances.json",
        "schema/substrateetl/balances.json",
    ]
    hourly = bq_load_command(
        "polkadot_hourly.t", "f", "s", project_id="p1",
        time_partitioning_field="ts", hourly=True,
    )
    assert "--time_partitioning_type=HOUR" in hourly
    assert "--time_partitioning_field=ts" in hourly
    q = bq_query_command(
        "d.balances0$20240131", "select *\n from t\n where name = 'a  b'",
        project_id="p1", time_partitioning_field="ts",
    )
    assert "--replace" in q and "--use_legacy_sql=false" in q
    # removeNewLine parity: newlines -> spaces ONLY; spacing inside the
    # quoted literal must survive untouched
    assert q[-1] == "select *  from t  where name = 'a  b'"

    assert connector_available(spark) is False  # sandbox has no jar
    with pytest.raises(NotImplementedError, match="connector"):
        read_table(spark, "d.t", "p1")


def test_dune_connector_contracts(spark):
    """The result-pull URL and the CSV upload payload match the
    reference's invocations (dune.js:24, test/dune_upload.js:16-30)."""
    from polkadot_etl_spark.sources.dune import (
        dune_result_csv_url,
        upload_payload,
    )

    assert dune_result_csv_url(4004540) == (
        "https://api.dune.com/api/v1/query/4004540/results/csv?limit=1000"
    )
    p = upload_payload("polkadot_stakings", "Polkadot stakings info", "a,b\n1,2")
    assert p == {
        "table_name": "polkadot_stakings",
        "description": "Polkadot stakings info",
        "is_private": False,
        "data": "a,b\n1,2",
    }
