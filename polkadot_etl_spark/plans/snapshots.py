"""The generic hourly state-snapshot publish (schema/snapshots.json).

Reference behavior reproduced:
- snapshot rows are heterogeneous state observations normalized to one
  contract — (section, storage) name the pallet/item, track/track_val an
  optional sub-key, kv/pv the key and parsed-value JSON blobs
  (priceManager.js:1013-1032 coingecko price rows; substrateetl.js:
  7807-7818 staking era points; nomination pool members :8030-8045);
- observations bucket to a CANONICAL HOUR — ts_to_snapshot maps an event
  time to the hourly snapshot block and only the FIRST observation per
  (track_val, snapshot hour) is kept (priceManager.js:1007-1012 `hit`
  dedup, :1035 canonicalTS = floor(ts/3600)*3600);
- the table is published hourly with partition replace
  (substrateetl.js:7134 bq load --time_partitioning_field=ts; the
  matching writer here is sources.tables.write_day_partitioned
  grain="hour").

Spark shape: normalization is a pure projection (to_json packs kv/pv —
JVM-side); the first-per-hour dedup is one rank window keyed on the same
(track_val, hour) the downstream reads group by.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from polkadot_etl_spark.schemas import SNAPSHOTS


def _sql_lit(v) -> str:
    """A Python None, int or str as a Spark SQL literal."""
    if v is None:
        return "NULL"
    if isinstance(v, int) and not isinstance(v, bool):
        return str(v)
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal for {v!r}")


def canonical_hour_ts(ts: str) -> str:
    """priceManager.js:1035 canonicalTS = floor(unix/3600)*3600, as SQL
    text of a timestamp over the SQL text ``ts`` (integer epoch math —
    pushes into codegen)."""
    return f"timestamp_seconds(floor(unix_timestamp({ts}) / 3600) * 3600)"


def snapshot_rows(
    observations: DataFrame,
    *,
    section: str,
    storage: str,
    source: str,
    chain: dict,
    block_number: str,
    block_hash: str,
    ts: str,
    track: str | None = None,
    track_val: str | None = None,
    kv: str | None = None,
    kv_str: str | None = None,
    pv: str | None = None,
    pv_str: str | None = None,
    address_ss58: str | None = None,
    address_pubkey: str | None = None,
    dedup_first_per_hour: bool = False,
    order_col: str | None = None,
) -> DataFrame:
    """Normalize observation rows into the published snapshots contract.

    Every column argument is SQL text over ``observations``' columns:
    the projection is one ``selectExpr``, so a cold build parses it in
    a few py4j calls instead of one or more per Column-API node.
    ``kv``/``pv`` are struct expressions (packed to JSON via to_json, so
    the blob is canonical and engine-stable for integral/string
    fields); ``chain`` supplies the relay_chain/para_id/id/chain_name
    identity literals.  With ``dedup_first_per_hour`` the reference's
    `hit` rule keeps only the earliest observation (by ``order_col``)
    per (track_val, canonical hour)."""
    def text(e: str | None) -> str:
        return "CAST(NULL AS STRING)" if e is None else e

    out = observations.selectExpr(
        f"{_sql_lit(chain.get('relay_chain'))} AS relay_chain",
        f"{_sql_lit(str(chain.get('para_id')))} AS para_id",
        f"{_sql_lit(chain.get('id'))} AS id",
        f"{_sql_lit(chain.get('chain_name'))} AS chain_name",
        f"{canonical_hour_ts(ts)} AS ts",
        f"CAST({block_number} AS BIGINT) AS block_number",
        f"{block_hash} AS block_hash",
        f"{text(address_ss58)} AS address_ss58",
        f"{text(address_pubkey)} AS address_pubkey",
        f"{_sql_lit(section)} AS section",
        f"{_sql_lit(storage)} AS storage",
        f"{text(track)} AS track",
        f"{text(track_val)} AS track_val",
        f"{f'to_json({kv})' if kv is not None else text(kv_str)} AS kv",
        # pv is a struct packed to JSON; pv_str is an already-scalar pv
        # (e.g. a bare issuance string, snapshot/hydradx.js:192)
        f"{f'to_json({pv})' if pv is not None else text(pv_str)} AS pv",
        f"{_sql_lit(source)} AS source",
        *([f"{order_col} AS __ord"] if order_col else []),
    )
    if dedup_first_per_hour:
        out = (
            out.selectExpr(
                "*",
                "row_number() OVER (PARTITION BY track_val, ts ORDER BY __ord ASC) AS __rn",
            )
            .where("__rn = 1")
            .drop("__rn")
        )
    if order_col:
        out = out.drop("__ord")
    return out.selectExpr(
        *[f"CAST({f.name} AS {f.dataType.simpleString()}) AS {f.name}" for f in SNAPSHOTS.fields]
    )


# ---------------------------------------------------------------------------
# Per-chain snapshot track extractors (substrate/snapshot/*.js)
# ---------------------------------------------------------------------------


def _dechex_str(c: str) -> str:
    """SQL text of paraTool.dechexToIntStr over the SQL text ``c``:
    '0x1a2' → '418', decimal strings pass through — full u128 range via
    the base-10^12 limb decode (the snapshot pv contract keeps big
    balances as exact strings, e.g. snapshot/hydradx.js:176-180); hex
    wider than u128 is NULL (visible bad data)."""
    from polkadot_etl_spark.plans.feeds import _u128_hex_to_str

    from_hex = _u128_hex_to_str(f"regexp_replace({c}, '^0x', '')")
    return f"CASE WHEN startswith({c}, '0x') THEN {from_hex} ELSE {c} END"


def _value_dechex(path: str) -> str:
    """SQL text: dechexToIntStr of the ``value`` JSON field at ``path``."""
    return _dechex_str(f"get_json_object(value, '{path}')")


class ChainSnapshotter:
    """Base of the per-chain snapshot extractors (substrate/snapshot/
    snapshotter.js): a chain identity + a set of track builders, each
    turning one pallet's state entries (key_args JSON array + value JSON,
    the fixture-fed S10 contract) into normalized snapshot rows.

    Spark shape: every track is a pure projection (native JSON access +
    to_json packing); ticker decoration joins the chain's asset registry
    dim by broadcast — the reference's in-process assetMap
    (snapshot/hydradx.js:45-66 readAssetsFromFile). Track expressions
    are SQL text (selectExpr / F.expr), so a cold build parses each
    projection in a few py4j calls and nothing is memoized: every call
    builds its trees from its own class's knobs (Kusama's 12 decimals
    stay Kusama's)."""

    chain: dict = {"relay_chain": "polkadot", "para_id": 0, "id": "polkadot-0",
                   "chain_name": "Polkadot"}
    chain_decimals = 10
    source = "polkaholic"  # setSnapshotSource (snapshot/hydradx.js:25)

    def _decimalized(self, c: str) -> str:
        """SQL text of dechexToInt(c) / 10**chainDecimals as a double,
        for the SQL text ``c``. The exact decimal STRING parses into a
        double before ONE IEEE division, so both engines see identical
        values (decimal→double direct casts differ by 1 ulp across
        engines)."""
        return f"CAST({_dechex_str(c)} AS DOUBLE) / {10**self.chain_decimals}D"

    def _rows(self, obs: DataFrame, *, section: str, storage: str, block: dict,
              **kw) -> DataFrame:
        return snapshot_rows(
            obs,
            section=section,
            storage=storage,
            source=self.source,
            chain=self.chain,
            block_number=_sql_lit(block["number"]),
            block_hash=_sql_lit(block["hash"]),
            ts=f"CAST({_sql_lit(block['ts'])} AS TIMESTAMP)",
            **kw,
        )

    def total_issuance(self, entries: DataFrame, block: dict,
                       section: str = "tokens", storage: str = "totalIssuance",
                       track: str = "asset") -> DataFrame:
        """Generic per-currency issuance track — the shape shared by
        hydradx (snapshot/hydradx.js:183-194), interlay
        (snapshot/interlay.js:31-47) and bifrost's tokens/vtokenMinting
        maps (snapshot/bifrost.js:74-130): track_val = the currency-id
        JSON itself, pv = the dechexToIntStr issuance string."""
        return self._rows(
            entries.selectExpr("*", "get_json_object(key_args, '$[0]') AS __cur"),
            section=section,
            storage=storage,
            block=block,
            track=_sql_lit(track),
            track_val="__cur",
            kv_str="__cur",
            pv_str=_dechex_str("value"),
        )

    @staticmethod
    def _ticker(entries: DataFrame, asset_registry: DataFrame, id_sql: str) -> DataFrame:
        """assetMap.get(assetID)?.symbol — broadcast dim decoration on the
        asset id given as SQL text; ids missing from the registry keep a
        NULL ticker exactly like the reference's optional-chaining miss
        (hydradx.js:152)."""
        dim = F.broadcast(asset_registry.selectExpr("asset_id AS __aid", "symbol AS __ticker"))
        return entries.join(dim, F.expr(f"{id_sql} = __aid"), "left")


class HydradxSnapshotter(ChainSnapshotter):
    """HydraDX (polkadot-2034, snapshot/hydradx.js): the omnipool AMM
    tracks — per-asset omnipool liquidity ('omniasset'), LP position NFTs
    ('liquidity'), and per-currency total issuance ('asset'); every u128
    field normalizes through dechexToIntStr into the pv blob as an exact
    decimal STRING."""

    chain = {"relay_chain": "polkadot", "para_id": 2034, "id": "polkadot-2034",
             "chain_name": "HydraDx"}
    chain_decimals = 12

    def omnipool_assets(self, entries: DataFrame, asset_registry: DataFrame,
                        block: dict) -> DataFrame:
        """omnipool.assets → track 'omniasset' (hydradx.js:195-216):
        track_val = asset id, kv = {id, ticker}, pv = state with
        hubReserve/shares/protocolShares/cap dechex-normalized."""
        aid = "CAST(get_json_object(key_args, '$[0]') AS BIGINT)"
        e = self._ticker(entries.selectExpr("*", f"{aid} AS __id"), asset_registry, aid)
        pv = ", ".join(
            [
                *(
                    f"{_value_dechex('$.' + f)} AS {f}"
                    for f in ("hubReserve", "shares", "protocolShares", "cap")
                ),
                "get_json_object(value, '$.tradable') AS tradable",
            ]
        )
        return self._rows(
            e,
            section="omnipool",
            storage="assets",
            block=block,
            track="'omniasset'",
            track_val="CAST(__id AS STRING)",
            kv="struct(__id AS id, __ticker AS ticker)",
            pv=f"struct({pv})",
        )

    def omnipool_positions(self, entries: DataFrame, asset_registry: DataFrame,
                           block: dict) -> DataFrame:
        """omnipool.positions → track 'liquidity' (hydradx.js:218-240):
        keyed by position NFT id, track_val = the position's assetId, the
        price pair splits into price_1/price_2 (both dechex-normalized,
        array dropped)."""
        aid = "CAST(get_json_object(value, '$.assetId') AS BIGINT)"
        e = self._ticker(
            entries.selectExpr("*", "CAST(get_json_object(key_args, '$[0]') AS BIGINT) AS __pid")
            .selectExpr("*", f"{aid} AS __aid2"),
            asset_registry,
            aid,
        )
        pv = ", ".join(
            [
                "__aid2 AS assetId",
                *(
                    f"{_value_dechex(path)} AS {name}"
                    for path, name in (
                        ("$.amount", "amount"),
                        ("$.shares", "shares"),
                        ("$.price[0]", "price_1"),
                        ("$.price[1]", "price_2"),
                    )
                ),
            ]
        )
        return self._rows(
            e,
            section="omnipool",
            storage="positions",
            block=block,
            track="'liquidity'",
            track_val="CAST(__aid2 AS STRING)",
            kv="struct(__pid AS id, __ticker AS ticker)",
            pv=f"struct({pv})",
        )


_SNAPSHOTTERS: dict[str, type[ChainSnapshotter]] = {
    "hydradx": HydradxSnapshotter,
}


def get_snapshotter(chain_name: str) -> ChainSnapshotter:
    return _SNAPSHOTTERS.get(chain_name, ChainSnapshotter)()


def pubkey_ascii_name(pk: Column) -> Column:
    """paraTool.pubKeyHex2ASCII (paraTool.js:378-411): decode the
    human-readable identity of SYSTEM accounts — pubkeys prefixed
    'para' (0x70617261), 'sibl' or 'modl' whose bytes spell a name:
    trailing zero bytes strip, [A-Za-z/] bytes append to the name,
    other bytes accumulate (prepended — which exactly un-reverses a
    little-endian id) and render as ':<int>' when ≤ 2 bytes remain.
    '0x70617261d4070000…' → 'para:2004'. NULL for every non-system
    pubkey.

    Native higher-order fold over the byte pairs (≤ 32 elements — the
    HOF re-evaluation cost is bounded), so classifying a holder table
    stays in the JVM."""
    h = F.regexp_replace(F.lower(F.regexp_replace(pk, "^0x", "")), "(00)+$", "")
    prefix_ok = F.substring(h, 1, 8).isin("70617261", "7369626c", "6d6f646c")
    n_pairs = (F.length(h) / 2).cast("int")
    pairs = F.transform(
        F.sequence(F.lit(0), n_pairs - 1), lambda i: F.substr(h, i * 2 + 1, F.lit(2))
    )
    zero = F.struct(F.lit("").alias("out"), F.lit("").alias("rem"))

    def step(acc, p):
        c = F.conv(p, 16, 10).cast("int")
        is_name = (c == 47) | ((c >= 65) & (c <= 90)) | ((c >= 97) & (c <= 122))
        return F.struct(
            F.when(is_name, F.concat(acc["out"], F.char(c))).otherwise(acc["out"]).alias("out"),
            F.when(is_name, acc["rem"]).otherwise(F.concat(p, acc["rem"])).alias("rem"),
        )

    folded = F.aggregate(pairs, zero, step)
    tail = F.when(
        (F.length(folded["rem"]) > 0) & (F.length(folded["rem"]) <= 4),
        F.concat(F.lit(":"), F.conv(folded["rem"], 16, 10)),
    ).otherwise(F.lit(""))
    return F.when(
        prefix_ok & (F.length(h) >= 8), F.concat(folded["out"], tail)
    )


class AssetHubSnapshotter(ChainSnapshotter):
    """Polkadot AssetHub (polkadot-1000, snapshot/polkadot_assethub.js):
    the stablecoin distribution snapshot — per-currency assets.asset
    state (supply/deposit/minBalance/accounts/… comma-cleaned,
    :46-63) and the assets.account holder walk with the reference's
    selective-publish rule (:77-131): INDIVIDUAL rows for system-named
    accounts (pubKeyHex2ASCII hits), for small assets (the asset
    record's holder count ≤ the target), and for whales
    (balance/totalIssuance > 0.25%); everything else folds into ONE
    residual 'holders' row per currency with an exact big-int
    balance_raw sum and a holder count.

    Spark shape: the name decode and comma-cleaning are native column
    work; asset state broadcasts onto the holder scan; the residual is
    one partial-aggregated groupBy per currency — at 100 TB the holder
    walk is one scan + one tiny shuffle. The residual float balance is
    derived from the exact raw sum (the reference's incremental float
    `+=` is order-dependent; same value, deterministic)."""

    chain = {"relay_chain": "polkadot", "para_id": 1000, "id": "polkadot-1000",
             "chain_name": "Polkadot_AssetHub"}
    chain_decimals = 10
    TARGET_MAX_HOLDERS = 5000  # snapshot/polkadot_assethub.js:73
    WHALE_SHARE = 0.0025  # :91

    def stablecoin_assets(self, asset_entries: DataFrame) -> DataFrame:
        """assets.asset rows → (currency_id, supply, holder_cnt + the
        cleaned numeric fields) — the totalIssuanceMap."""
        num = lambda f: F.regexp_replace(  # noqa: E731 — toNumWithoutComma
            F.get_json_object("value", f"$.{f}"), ",", ""
        )
        return asset_entries.select(
            F.get_json_object("key_args", "$[0]").cast("long").alias("currency_id"),
            num("supply").try_cast("decimal(38,0)").alias("supply"),
            num("deposit").try_cast("decimal(38,0)").alias("deposit"),
            num("minBalance").try_cast("decimal(38,0)").alias("min_balance"),
            num("accounts").try_cast("long").alias("holder_cnt"),
            num("sufficients").try_cast("long").alias("sufficients"),
            num("approvals").try_cast("long").alias("approvals"),
        )

    def stablecoin_holders(
        self,
        asset_entries: DataFrame,
        account_entries: DataFrame,
        currency_list: dict[int, tuple[str, int]],
        target_max_holders: int | None = None,
    ) -> DataFrame:
        """The holder-walk publish (snapshot/polkadot_assethub.js:77-138).
        currency_list: {currency_id: (symbol, decimals)} — the
        reference's hard currencyList (:38-41)."""
        tmh = self.TARGET_MAX_HOLDERS if target_max_holders is None else target_max_holders
        assets = self.stablecoin_assets(asset_entries)
        cur = F.create_map(
            *[x for cid, (sym, _d) in sorted(currency_list.items())
              for x in (F.lit(cid), F.lit(sym))]
        )
        dec = F.create_map(
            *[x for cid, (_s, d) in sorted(currency_list.items())
              for x in (F.lit(cid), F.lit(d))]
        )
        a = account_entries.select(
            F.get_json_object("key_args", "$[0]").cast("long").alias("currency_id"),
            F.get_json_object("key_args", "$[1]").alias("address_pubkey"),
            F.regexp_replace(F.get_json_object("value", "$.balance"), ",", "")
            .try_cast("decimal(38,0)")
            .alias("balance_raw"),
        ).where(F.col("balance_raw").isNotNull())
        dim = F.broadcast(assets.select("currency_id", "supply", "holder_cnt"))
        j = (
            a.join(dim, "currency_id", "inner")
            .withColumn("symbol", cur[F.col("currency_id")])
            .withColumn("__dec", dec[F.col("currency_id")])
            .where(F.col("symbol").isNotNull())
            .withColumn("name", pubkey_ascii_name(F.col("address_pubkey")))
        )
        share = F.col("balance_raw").cast("double") / F.col("supply").cast("double")
        keep = (
            F.col("name").isNotNull()
            | (F.col("holder_cnt") <= F.lit(tmh))
            | (share > F.lit(self.WHALE_SHARE))
        )
        pow10 = F.pow(F.lit(10.0), F.col("__dec").cast("double"))
        individual = j.where(keep).select(
            "currency_id",
            "symbol",
            "name",
            "address_pubkey",
            (F.col("balance_raw").cast("double") / pow10).alias("balance"),
            F.col("balance_raw").cast("string").alias("balance_raw"),
            F.lit(None).cast("long").alias("holders"),
        )
        residual = (
            j.where(~keep)
            .groupBy("currency_id", "symbol", "__dec")
            .agg(
                F.sum("balance_raw").alias("__raw"),
                F.count(F.lit(1)).alias("holders"),
            )
            .select(
                "currency_id",
                "symbol",
                F.lit("holders").alias("name"),
                F.lit(None).cast("string").alias("address_pubkey"),
                (
                    F.col("__raw").cast("string").cast("double")
                    / F.pow(F.lit(10.0), F.col("__dec").cast("double"))
                ).alias("balance"),
                F.col("__raw").cast("string").alias("balance_raw"),
                "holders",
            )
        )
        return individual.unionByName(residual)


class AstarSnapshotter(ChainSnapshotter):
    """Astar (polkadot-2006, snapshot/astar.js): the dApp-staking v3
    tracks — per-(staker, dApp) stakerInfo (voting/buildAndEarn stakes
    decimalized through dechexToInt / 10^18, dApp identity split into
    type + address from the {"Evm"/"Wasm": addr} key, :174-208) and the
    integratedDApps registry (:279-294). The float decimalization
    parses the exact decimal STRING into a double before one IEEE
    division, so both engines see identical values (decimal→double
    direct casts differ by 1 ulp across engines)."""

    chain = {"relay_chain": "polkadot", "para_id": 2006, "id": "polkadot-2006",
             "chain_name": "Astar"}
    chain_decimals = 18

    def staker_info(self, entries: DataFrame) -> DataFrame:
        """dappStaking.stakerInfo → one typed row per (staker, dApp):
        key = [ss58, {"Evm"/"Wasm": address}], value = {staked:
        {voting, buildAndEarn, era, period}, loyalStaker}.

        Codegen-bounded staging (r11 verdict: janino 64 KB): the raw
        balance STRINGS land as plain attributes first, then decode.
        One whole-stage-codegen method holds an entire Project's
        expression code, and each limb-exact dechex tree generates
        ~120 KB of source over its input (measured budget: ~4 distinct
        trees per method), so a dechex over an inlined get_json_object
        chain compounds past the limit and silently drops the stage to
        interpreted evaluation. A raw column is referenced ~20x by its
        decode, which keeps CollapseProject from folding the seam back
        into one over-budget Project."""
        dmap = "from_json(get_json_object(key_args, '$[1]'), 'map<string,string>')"
        staked = "get_json_object(value, '$.staked')"
        raw = entries.selectExpr(
            "get_json_object(key_args, '$[0]') AS address_ss58",
            f"element_at(map_keys({dmap}), 1) AS dapp_type",
            f"element_at(map_values({dmap}), 1) AS dapp_address",
            f"get_json_object({staked}, '$.voting') AS __voting",
            f"get_json_object({staked}, '$.buildAndEarn') AS __bae",
            f"get_json_object({staked}, '$.era') AS __era",
            f"get_json_object({staked}, '$.period') AS __period",
            "get_json_object(value, '$.loyalStaker') AS __loyal",
        )
        return raw.selectExpr(
            "address_ss58",
            "dapp_type",
            "dapp_address",
            f"{self._decimalized('__voting')} AS voting",
            f"{self._decimalized('__bae')} AS build_and_earn",
            "CAST(__era AS INT) AS era",
            "CAST(__period AS INT) AS period",
            "CAST(__loyal AS BOOLEAN) AS loyal",
        )

    def integrated_dapps(self, entries: DataFrame) -> DataFrame:
        """dappStaking.integratedDApps → the dApp registry: key =
        [{"Evm"/"Wasm": address}], value = {owner, id, state}."""
        dapp = F.get_json_object("key_args", "$[0]")
        dmap = F.from_json(dapp, "map<string,string>")
        from polkadot_etl_spark.plans.feeds import _dechex_int

        return entries.select(
            F.get_json_object("value", "$.owner").alias("owner"),
            F.element_at(F.map_keys(dmap), 1).alias("dapp_type"),
            F.element_at(F.map_values(dmap), 1).alias("dapp_address"),
            _dechex_int(F.get_json_object("value", "$.id")).alias("dapp_id"),
            (F.get_json_object("value", "$.state") == "Registered").alias("registered"),
        )


class InterlaySnapshotter(ChainSnapshotter):
    """Interlay (polkadot-2032, snapshot/interlay.js): the per-currency
    tokens.totalIssuance walk — entirely the generic issuance track."""

    chain = {"relay_chain": "polkadot", "para_id": 2032, "id": "polkadot-2032",
             "chain_name": "Interlay"}
    chain_decimals = 10


class BifrostSnapshotter(ChainSnapshotter):
    """Bifrost (polkadot-2030, snapshot/bifrost.js): native + per-token
    issuance plus the vtokenMinting.tokenPool liquid-staking pools —
    the same key/value shape on a different storage item, published
    under track 'vtoken' (:110-130)."""

    chain = {"relay_chain": "polkadot", "para_id": 2030, "id": "polkadot-2030",
             "chain_name": "Bifrost"}
    chain_decimals = 12

    def vtoken_pool(self, entries: DataFrame, block: dict) -> DataFrame:
        return self.total_issuance(
            entries, block, section="vtokenMinting", storage="tokenPool",
            track="vtoken",
        )


_SNAPSHOTTERS.update({
    "assethub": AssetHubSnapshotter,
    "astar": AstarSnapshotter,
    "interlay": InterlaySnapshotter,
    "bifrost": BifrostSnapshotter,
})


class MoonbeamSnapshotter(ChainSnapshotter):
    """Moonbeam (polkadot-2004, snapshot/moonbeam.js:1-11): a pure
    CONFIG subclass — the reference class sets chainName/chainDecimals/
    wsEndpoint and inherits everything else, defining no custom
    processSnapshot, so its snapshot surface is exactly the generic
    tracks (total_issuance et al.) under the Moonbeam identity."""

    chain = {"relay_chain": "polkadot", "para_id": 2004, "id": "polkadot-2004",
             "chain_name": "Moonbeam"}
    chain_decimals = 18


class ShibuyaSnapshotter(AstarSnapshotter):
    """Shibuya (Astar's testnet, snapshot/shibuya.js): dApp-staking v3
    with two singleton tracks on top of Astar's stakerInfo walk —
    dappStaking.currentEraInfo (totalLocked/unlocking and the
    current/next stake amounts, every balance dechexToInt / 10^18,
    shibuya.js:40-66) and dappStaking.activeProtocolState (era,
    dechex'd nextEraStart, periodInfo, maintenance, :68-88)."""

    chain = {"relay_chain": "shibuya", "para_id": 0, "id": "shibuya-0",
             "chain_name": "Shibuya"}
    chain_decimals = 18

    def current_era_info(self, entries: DataFrame) -> DataFrame:
        """dappStaking.currentEraInfo singleton → one typed row:
        {totalLocked, unlocking, currentStakeAmount: {voting,
        buildAndEarn, era, period}, nextStakeAmount: {...}}."""
        cur = "get_json_object(value, '$.currentStakeAmount')"
        nxt = "get_json_object(value, '$.nextStakeAmount')"
        dec = self._decimalized
        # Six balance decodes exceed the ~4-trees-per-method codegen
        # budget (see staker_info's codegen note), so they stage 3 + 3.
        # Each stage also EXTRACTS the next stage's raw strings — the
        # multi-referenced raw columns are what keep CollapseProject
        # from folding the seams back into one over-budget Project
        # (a pure decode/decode split would collapse: its pass-through
        # aliases are cheap and its decoded aliases are used once).
        s1 = entries.selectExpr(
            "value",
            "get_json_object(value, '$.totalLocked') AS __total_locked",
            "get_json_object(value, '$.unlocking') AS __unlocking",
            f"get_json_object({cur}, '$.voting') AS __cur_voting",
        )
        s2 = s1.selectExpr(
            f"{dec('__total_locked')} AS total_locked",
            f"{dec('__unlocking')} AS unlocking",
            f"{dec('__cur_voting')} AS cur_voting",
            f"get_json_object({cur}, '$.buildAndEarn') AS __cur_bae",
            f"CAST(get_json_object({cur}, '$.era') AS INT) AS cur_era",
            f"CAST(get_json_object({cur}, '$.period') AS INT) AS cur_period",
            f"get_json_object({nxt}, '$.voting') AS __next_voting",
            f"get_json_object({nxt}, '$.buildAndEarn') AS __next_bae",
            f"CAST(get_json_object({nxt}, '$.era') AS INT) AS next_era",
            f"CAST(get_json_object({nxt}, '$.period') AS INT) AS next_period",
        )
        return s2.selectExpr(
            "total_locked",
            "unlocking",
            "cur_voting",
            f"{dec('__cur_bae')} AS cur_build_and_earn",
            "cur_era",
            "cur_period",
            f"{dec('__next_voting')} AS next_voting",
            f"{dec('__next_bae')} AS next_build_and_earn",
            "next_era",
            "next_period",
        )

    def active_protocol_state(self, entries: DataFrame) -> DataFrame:
        """dappStaking.activeProtocolState singleton → (era,
        next_era_start, period_number, subperiod,
        next_subperiod_start_era, maintenance); nextEraStart arrives
        comma-formatted or hex (dechexToInt, shibuya.js:85)."""
        from polkadot_etl_spark.plans.feeds import _dechex_int

        v = F.col("value")
        pi = F.get_json_object(v, "$.periodInfo")
        return entries.select(
            _dechex_int(F.get_json_object(v, "$.era")).alias("era"),
            _dechex_int(F.get_json_object(v, "$.nextEraStart"))
            .cast("long")
            .alias("next_era_start"),
            _dechex_int(F.get_json_object(pi, "$.number")).alias("period_number"),
            F.get_json_object(pi, "$.subperiod").alias("subperiod"),
            _dechex_int(F.get_json_object(pi, "$.nextSubperiodStartEra")).alias(
                "next_subperiod_start_era"
            ),
            F.get_json_object(v, "$.maintenance").cast("boolean").alias("maintenance"),
        )


# OpenGov track registry + conviction lock scale (snapshot/polkadot.js:4-37)
# as SQL map literals; doubles carry the D suffix (a bare 0.1 is a decimal)
_OPENGOV_TRACKS = (
    "map(0, 'Root', 1, 'WhitelistedCaller', 2, 'WishForChange', 10, 'StakingAdmin', "
    "11, 'Treasurer', 12, 'LeaseAdmin', 13, 'FellowshipAdmin', 14, 'GeneralAdmin', "
    "15, 'AuctionAdmin', 20, 'ReferendumCanceller', 21, 'ReferendumKiller', "
    "30, 'SmallTipper', 31, 'BigTipper', 32, 'SmallSpender', 33, 'MediumSpender', "
    "34, 'BigSpender')"
)
_CONVICTION_WEIGHTS = (
    "map('None', 0.1D, 'Locked1x', 1.0D, 'Locked2x', 2.0D, 'Locked3x', 3.0D, "
    "'Locked4x', 4.0D, 'Locked5x', 5.0D, 'Locked6x', 6.0D)"
)
_CONVICTION_NAMES = (
    "map(0.1D, 'None', 1.0D, 'Locked1x', 2.0D, 'Locked2x', 3.0D, 'Locked3x', "
    "4.0D, 'Locked4x', 5.0D, 'Locked5x', 6.0D, 'Locked6x')"
)
_TRACK = f"element_at({_OPENGOV_TRACKS}, CAST(track_id AS INT)) AS track"


class RelaySnapshotter(ChainSnapshotter):
    """Polkadot relay (polkadot-0, snapshot/polkadot.js): the staking-era
    rollup (computeTotalStaked, :374-416) plus the OpenGov surface —
    convictionVoting.votingFor walk into per-(voter, track) casting and
    delegating records with a delegatee rollup (process_voteStates,
    :97-317), referenda.referendumInfoFor status decode
    (process_referenda, :48-93), treasury.proposals with the hand-kept
    blacklist (:488-506), and bounties.bounties with the status-embedded
    curator (:509-525). KusamaSnapshotter is the same walks at 12
    decimals (snapshot/kusama.js:1-11).

    Spark shape: votingFor's heterogeneous [pollID, voteDetail] pairs
    ride from_json's raw-capture (StringType schema field keeps nested
    JSON verbatim) then explode; every balance decode and the vote-byte
    rules (aye = byte >= 128, conviction weight = byte % 16 with the
    0-means-0.1 floor, :129-131) are native column math; the delegatee
    rollup is one groupBy over the delegating rows full-outer-merged
    with the self-delegation stats carried on casting rows.

    INTENTIONAL divergence: the reference's standard-vote branch writes
    `voteAye: (voteType = "aye") ? ... : 0` (assignment, not
    comparison, polkadot.js:137-138), which makes BOTH voteAye and
    voteNay the balance for every standard vote; this module implements
    the evident intent (balance lands on the voted side only)."""

    chain = {"relay_chain": "polkadot", "para_id": 0, "id": "polkadot-0",
             "chain_name": "Polkadot"}
    chain_decimals = 10

    # -------------------------------------------------------- votingFor

    def _keyed(self, entries: DataFrame) -> DataFrame:
        return entries.selectExpr(
            "get_json_object(key_args, '$[0]') AS voter",
            "CAST(get_json_object(key_args, '$[1]') AS INT) AS track_id",
            "value",
        )

    def casting_votes(self, entries: DataFrame) -> DataFrame:
        """casting.votes → one row per (voter, track, pollID): standard
        votes decode the vote byte (aye >= 128; conviction = byte % 16,
        0 → 0.1 'None'); split carries aye/nay at conviction None;
        splitAbstain adds the abstain balance (polkadot.js:122-177)."""
        # Codegen-bounded staging (see staker_info's codegen note): the
        # original single Project inlined the detail JSON into ~6 dechex
        # trees — in-branch expressions are excluded from subexpression
        # elimination, so the generated method compounded past janino's
        # 64 KB and the whole stage silently fell back to interpreted
        # evaluation. Stages: variant split → vote byte + raw balance
        # strings → the four balance decodes (the ~4-trees-per-method
        # budget) → the tiny conditional assembly. Every seam column is
        # multi-referenced downstream, which is what keeps
        # CollapseProject from folding the stages back together.
        dec = self._decimalized
        casting = "get_json_object(value, '$.casting')"
        votes = f"from_json({casting}, 'struct<votes: array<string>>').votes"
        weight = "CASE WHEN __byte % 16 = 0 THEN 0.1D ELSE CAST(__byte % 16 AS DOUBLE) END"
        return (
            self._keyed(entries)
            .where(f"{casting} IS NOT NULL")
            .selectExpr("voter", "track_id", f"explode({votes}) AS pair")
            .selectExpr(
                "voter",
                "track_id",
                "CAST(get_json_object(pair, '$[0]') AS BIGINT) AS poll_id",
                "get_json_object(pair, '$[1]') AS detail",
            )
            .selectExpr(
                "voter",
                "track_id",
                "poll_id",
                "get_json_object(detail, '$.standard') AS __std",
                "get_json_object(detail, '$.split') AS __spl",
                "get_json_object(detail, '$.splitAbstain') AS __spa",
            )
            .selectExpr(
                "voter",
                "track_id",
                "poll_id",
                "__std",
                "__spa",
                "CAST(conv(regexp_replace(get_json_object(__std, '$.vote'), '^0x', ''),"
                " 16, 10) AS INT) AS __byte",
                "get_json_object(__std, '$.balance') AS __bal",
                "coalesce(get_json_object(__spl, '$.aye'), get_json_object(__spa, '$.aye'))"
                " AS __aye",
                "coalesce(get_json_object(__spl, '$.nay'), get_json_object(__spa, '$.nay'))"
                " AS __nay",
                "get_json_object(__spa, '$.abstain') AS __abstain",
            )
            .selectExpr(
                "voter",
                "track_id",
                "poll_id",
                "__std",
                "__spa",
                "__byte",
                f"{dec('__bal')} AS __bal_d",
                f"{dec('__aye')} AS __aye_d",
                f"{dec('__nay')} AS __nay_d",
                f"{dec('__abstain')} AS __abstain_d",
            )
            .selectExpr(
                "voter",
                "track_id",
                _TRACK,
                "poll_id",
                "CASE WHEN __std IS NOT NULL THEN"
                " CASE WHEN __byte >= 128 THEN 'aye' ELSE 'nay' END"
                " WHEN __spa IS NOT NULL THEN 'splitAbstain' ELSE 'split' END AS vote_type",
                f"CASE WHEN __std IS NOT NULL THEN element_at({_CONVICTION_NAMES}, {weight})"
                " ELSE 'None' END AS conviction",
                f"CASE WHEN __std IS NOT NULL THEN {weight} ELSE 0.1D END AS conviction_weight",
                "CASE WHEN __std IS NOT NULL THEN"
                " CASE WHEN __byte >= 128 THEN __bal_d ELSE 0.0D END"
                " ELSE __aye_d END AS aye",
                "CASE WHEN __std IS NOT NULL THEN"
                " CASE WHEN __byte < 128 THEN __bal_d ELSE 0.0D END"
                " ELSE __nay_d END AS nay",
                "CASE WHEN __spa IS NOT NULL THEN __abstain_d ELSE 0.0D END AS abstain",
            )
        )

    def casting_summary(self, entries: DataFrame) -> DataFrame:
        """One row per (voter, track) casting record — the granularity
        of the reference's cvVotingForRec (castingStruct: the voted poll
        list + count, the voter's own delegations stats, and the prior
        lock [bn, balance]; polkadot.js:214-226, 439-448). The per-poll
        decode lives in casting_votes; this is the record-level
        summary."""
        dec = self._decimalized
        c = "get_json_object(value, '$.casting')"
        d = f"get_json_object({c}, '$.delegations')"
        votes = f"from_json({c}, 'struct<votes: array<string>>').votes"
        return self._keyed(entries).where(f"{c} IS NOT NULL").selectExpr(
            "voter",
            "track_id",
            _TRACK,
            f"CAST(size({votes}) AS BIGINT) AS voted_cnt",
            f"array_join(transform({votes}, p -> get_json_object(p, '$[0]')), ',') AS voted",
            dec(f"get_json_object({d}, '$.votes')") + " AS delegations_votes",
            dec(f"get_json_object({d}, '$.capital')") + " AS delegations_capital",
            f"CAST(get_json_object({c}, '$.prior[0]') AS BIGINT) AS prior_bn",
            dec(f"get_json_object({c}, '$.prior[1]')") + " AS prior_balance",
        )

    def delegations(self, entries: DataFrame) -> DataFrame:
        """delegating branch → (voter, track, target, balance,
        conviction + weight via the name→scale map, prior lock)
        (polkadot.js:228-265)."""
        # Codegen-bounded staging (see staker_info's codegen note):
        # raw strings first, the two balance decodes over plain
        # attributes second.
        dec = self._decimalized
        return (
            self._keyed(entries)
            .selectExpr("*", "get_json_object(value, '$.delegating') AS __d")
            .where("__d IS NOT NULL")
            .selectExpr(
                "voter",
                "track_id",
                "get_json_object(__d, '$.target') AS target",
                "get_json_object(__d, '$.conviction') AS conviction",
                "get_json_object(__d, '$.balance') AS __balance",
                "get_json_object(__d, '$.prior[0]') AS __prior_bn",
                "get_json_object(__d, '$.prior[1]') AS __prior_bal",
            )
            .selectExpr(
                "voter",
                "track_id",
                _TRACK,
                "target",
                f"{dec('__balance')} AS balance",
                "conviction",
                f"element_at({_CONVICTION_WEIGHTS}, conviction) AS conviction_weight",
                "CAST(__prior_bn AS BIGINT) AS prior_bn",
                f"{dec('__prior_bal')} AS prior_balance",
            )
        )

    def delegatees(self, entries: DataFrame) -> DataFrame:
        """The delegatee rollup (polkadot.js:183-206, 267-297): an
        address becomes a delegatee row per track when (a) its OWN
        votingFor entry carries delegations.votes > 0 (casting or
        delegating — the stats live on the target's storage) or (b) at
        least one delegator names it; delegators aggregate into a
        sorted roster; average_conviction = round(votes/capital, 4)."""
        dec = self._decimalized
        # Codegen-bounded staging (see staker_info's codegen note).
        stats = (
            self._keyed(entries)
            .selectExpr(
                "*",
                "coalesce(get_json_object(value, '$.casting.delegations'),"
                " get_json_object(value, '$.delegating.delegations')) AS __d",
            )
            .where("__d IS NOT NULL")
            .selectExpr(
                "voter AS delegatee",
                "track_id",
                "get_json_object(__d, '$.votes') AS __votes",
                "get_json_object(__d, '$.capital') AS __capital",
            )
            .selectExpr(
                "delegatee",
                "track_id",
                f"{dec('__votes')} AS votes",
                f"{dec('__capital')} AS capital",
            )
            .where("votes > 0")
        )
        incoming = (
            self.delegations(entries)
            .groupBy(F.expr("target AS delegatee"), "track_id")
            .agg(
                F.expr("count(1) AS delegators_cnt"),
                F.expr("array_join(array_sort(collect_list(voter)), ',') AS delegators"),
            )
        )
        votes, capital = "coalesce(votes, 0.0D)", "coalesce(capital, 0.0D)"
        return stats.join(incoming, ["delegatee", "track_id"], "full_outer").selectExpr(
            "delegatee",
            "track_id",
            _TRACK,
            f"{votes} AS delegations_votes",
            f"{capital} AS delegations_capital",
            # guard capital > 0 too: junk delegations {votes>0,
            # capital:0} would otherwise emit Infinity
            f"CASE WHEN {votes} > 0 AND {capital} > 0 THEN round({votes} / {capital}, 4)"
            " ELSE 0.0D END AS avg_conviction",
            "CAST(coalesce(delegators_cnt, 0) AS BIGINT) AS delegators_cnt",
            "coalesce(delegators, '') AS delegators",
        )

    # -------------------------------------------------------- referenda

    def referenda(self, entries: DataFrame) -> DataFrame:
        """referendumInfoFor → status via the single version key
        (Object.keys[0]); non-ongoing/killed rows carry [moment,
        {who, amount}]; ongoing rows carry submission/decision deposits
        and the tally (polkadot.js:48-93)."""
        dec = self._decimalized
        m = "from_json(value, 'map<string,string>')"
        status = f"element_at(map_keys({m}), 1)"
        detail = f"element_at(map_values({m}), 1)"
        # killed rows deliberately carry NO moment: the reference's
        # closed-branch guard excludes killed too (polkadot.js:61
        # `referendumStatus != 'ongoing' && != 'killed'`), so the kill
        # block at detail[0] is dropped there as well — parity, not loss
        closed = f"({status} IN ('ongoing', 'killed')) = false"
        dep, sub, dd, tally = (
            f"get_json_object({detail}, '{path}')"
            for path in ("$[1]", "$.submissionDeposit", "$.decisionDeposit", "$.tally")
        )
        closed_amount = dec(f"get_json_object({dep}, '$.amount')")
        sub_amount = dec(f"get_json_object({sub}, '$.amount')")
        return entries.selectExpr(
            "CAST(get_json_object(key_args, '$[0]') AS BIGINT) AS ref_id",
            f"{status} AS status",
            f"CASE WHEN {closed} THEN CAST(get_json_object({detail}, '$[0]') AS BIGINT) END"
            " AS moment",
            f"CASE WHEN {closed} THEN get_json_object({dep}, '$.who')"
            f" ELSE get_json_object({sub}, '$.who') END AS depositor",
            f"CASE WHEN {closed} THEN {closed_amount} ELSE {sub_amount} END"
            " AS submission_deposit",
            dec(f"get_json_object({dd}, '$.amount')") + " AS decision_deposit",
            dec(f"get_json_object({tally}, '$.ayes')") + " AS tally_ayes",
            dec(f"get_json_object({tally}, '$.nays')") + " AS tally_nays",
            dec(f"get_json_object({tally}, '$.support')") + " AS tally_support",
        )

    # ------------------------------------------------ treasury / bounty

    TREASURY_BLACKLIST = ("309", "359", "452", "456", "472")

    def treasury_proposals(self, entries: DataFrame) -> DataFrame:
        """treasury.proposals minus the hand-kept blacklist
        (polkadot.js:491)."""
        # Codegen-bounded staging (see staker_info's codegen note).
        pid = "get_json_object(key_args, '$[0]')"
        blacklist = ", ".join(map(_sql_lit, self.TREASURY_BLACKLIST))
        return (
            entries.where(f"NOT {pid} IN ({blacklist})")
            .selectExpr(
                f"CAST({pid} AS BIGINT) AS proposal_id",
                "get_json_object(value, '$.proposer') AS proposer",
                "get_json_object(value, '$.beneficiary') AS beneficiary",
                "get_json_object(value, '$.value') AS __value",
                "get_json_object(value, '$.bond') AS __bond",
            )
            .selectExpr(
                "proposal_id",
                "proposer",
                "beneficiary",
                f"{self._decimalized('__value')} AS value",
                f"{self._decimalized('__bond')} AS bond",
            )
        )

    def bounties(self, entries: DataFrame) -> DataFrame:
        """bounties.bounties: value/fee/curatorDeposit decimalize; the
        status is a single-key variant whose detail may carry curator
        and updateDue (polkadot.js:232-254 process_bounties)."""
        dec = self._decimalized
        sm = "from_json(get_json_object(value, '$.status'), 'map<string,string>')"
        detail = f"element_at(map_values({sm}), 1)"
        return entries.selectExpr(
            "CAST(get_json_object(key_args, '$[0]') AS BIGINT) AS bounty_id",
            "get_json_object(value, '$.proposer') AS proposer",
            dec("get_json_object(value, '$.value')") + " AS value",
            dec("get_json_object(value, '$.fee')") + " AS fee",
            dec("get_json_object(value, '$.curatorDeposit')") + " AS curator_deposit",
            f"element_at(map_keys({sm}), 1) AS bounty_status",
            f"get_json_object({detail}, '$.curator') AS curator",
            f"CAST(get_json_object({detail}, '$.updateDue') AS BIGINT) AS update_due",
        )

    # ---------------------------------------------------------- staking

    def staking_info(self, singletons: DataFrame) -> DataFrame:
        """computeTotalStaked (polkadot.js:374-416): the era singleton
        walk — (metric, value) rows from a (name, value) frame where
        balances decimalize and counters stay integral; era rides every
        row. Input: rows (name string, value string) for currentEra,
        erasTotalStake, totalIssuance, counterForNominators,
        counterForValidators, validatorCount, counterForBondedPools,
        counterForPoolMembers."""
        # aggregate to exactly ONE era row: a missing currentEra yields a
        # NULL era (metrics still surface, visibly era-less) and
        # duplicated singleton fetches cannot double the metric rows
        era = singletons.agg(
            F.expr("max(CASE WHEN name = 'currentEra' THEN CAST(value AS BIGINT) END) AS __era")
        )
        return (
            singletons.where("name != 'currentEra'")
            .crossJoin(F.broadcast(era))
            .selectExpr(
                "name AS metric",
                "CASE WHEN name IN ('erasTotalStake', 'totalIssuance')"
                f" THEN {self._decimalized('value')}"
                f" ELSE CAST({_dechex_str('value')} AS DOUBLE) END AS value",
                "__era AS era",
            )
        )


class KusamaSnapshotter(RelaySnapshotter):
    """Kusama relay (snapshot/kusama.js:1-11): PolkadotSnapShotter at 12
    decimals — a pure config subclass."""

    chain = {"relay_chain": "kusama", "para_id": 0, "id": "kusama-0",
             "chain_name": "Kusama"}
    chain_decimals = 12


_SNAPSHOTTERS.update({
    "moonbeam": MoonbeamSnapshotter,
    "shibuya": ShibuyaSnapshotter,
    "polkadot": RelaySnapshotter,
    "kusama": KusamaSnapshotter,
})
