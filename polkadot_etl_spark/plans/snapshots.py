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
    (snapshot/hydradx.js:45-66 readAssetsFromFile)."""

    chain: dict = {"relay_chain": "polkadot", "para_id": 0, "id": "polkadot-0",
                   "chain_name": "Polkadot"}
    chain_decimals = 10
    source = "polkaholic"  # setSnapshotSource (snapshot/hydradx.js:25)

    def _decimalized(self, c: str) -> Column:
        """dechexToInt(c) / 10**chainDecimals as a double, for the SQL
        text ``c``. The exact decimal STRING parses into a double before
        ONE IEEE division, so both engines see identical values
        (decimal→double direct casts differ by 1 ulp across engines)."""
        return F.expr(f"CAST({_dechex_str(c)} AS DOUBLE) / {10**self.chain_decimals}D")

    def _memo(self, site: str, build):
        """Corpus-independent Column-tree memo for the track builders
        (r14, the gar-parser pattern — see plans/exprmemo.py): each
        builder's select lists are pure functions of the snapshotter
        CLASS (track maps, chain_decimals), not of the data, yet their
        construction dominated the snapshot queries' build time (r14:
        ~16.6k py4j round trips / ~4.5 s per relay build). A cold
        snapshots_relay_opengov build now makes ~4.4k (~18k before the
        u128 decode became SQL text and get_spark turned PySpark's
        per-call origin capture off). Keyed per concrete class so
        subclass knobs (e.g. Kusama's 12 decimals) can never be served
        another chain's trees."""
        from polkadot_etl_spark.plans.exprmemo import expr_cache

        return expr_cache(
            (site, type(self).__qualname__, self.chain_decimals), build
        )

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
        dapp = F.get_json_object("key_args", "$[1]")
        dmap = F.from_json(dapp, "map<string,string>")
        staked = F.get_json_object("value", "$.staked")
        raw = entries.select(
            F.get_json_object("key_args", "$[0]").alias("address_ss58"),
            F.element_at(F.map_keys(dmap), 1).alias("dapp_type"),
            F.element_at(F.map_values(dmap), 1).alias("dapp_address"),
            F.get_json_object(staked, "$.voting").alias("__voting"),
            F.get_json_object(staked, "$.buildAndEarn").alias("__bae"),
            F.get_json_object(staked, "$.era").alias("__era"),
            F.get_json_object(staked, "$.period").alias("__period"),
            F.get_json_object("value", "$.loyalStaker").alias("__loyal"),
        )
        return raw.select(
            "address_ss58",
            "dapp_type",
            "dapp_address",
            self._decimalized("__voting").alias("voting"),
            self._decimalized("__bae").alias("build_and_earn"),
            F.col("__era").cast("int").alias("era"),
            F.col("__period").cast("int").alias("period"),
            F.col("__loyal").cast("boolean").alias("loyal"),
        )

    def integrated_dapps(self, entries: DataFrame) -> DataFrame:
        """dappStaking.integratedDApps → the dApp registry: key =
        [{"Evm"/"Wasm": address}], value = {owner, id, state}."""
        dapp = F.get_json_object("key_args", "$[0]")
        dmap = F.from_json(dapp, "map<string,string>")
        from polkadot_etl_spark.plans.garparsers import _dechex_int

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
        v = F.col("value")
        cur = F.get_json_object(v, "$.currentStakeAmount")
        nxt = F.get_json_object(v, "$.nextStakeAmount")
        # Six balance decodes exceed the ~4-trees-per-method codegen
        # budget (see staker_info's codegen note), so they stage 3 + 3.
        # Each stage also EXTRACTS the next stage's raw strings — the
        # multi-referenced raw columns are what keep CollapseProject
        # from folding the seams back into one over-budget Project
        # (a pure decode/decode split would collapse: its pass-through
        # aliases are cheap and its decoded aliases are used once).
        s1 = entries.select(
            "value",
            F.get_json_object(v, "$.totalLocked").alias("__total_locked"),
            F.get_json_object(v, "$.unlocking").alias("__unlocking"),
            F.get_json_object(cur, "$.voting").alias("__cur_voting"),
        )
        s2 = s1.select(
            self._decimalized("__total_locked").alias("total_locked"),
            self._decimalized("__unlocking").alias("unlocking"),
            self._decimalized("__cur_voting").alias("cur_voting"),
            F.get_json_object(cur, "$.buildAndEarn").alias("__cur_bae"),
            F.get_json_object(cur, "$.era").cast("int").alias("cur_era"),
            F.get_json_object(cur, "$.period").cast("int").alias("cur_period"),
            F.get_json_object(nxt, "$.voting").alias("__next_voting"),
            F.get_json_object(nxt, "$.buildAndEarn").alias("__next_bae"),
            F.get_json_object(nxt, "$.era").cast("int").alias("next_era"),
            F.get_json_object(nxt, "$.period").cast("int").alias("next_period"),
        )
        return s2.select(
            "total_locked",
            "unlocking",
            "cur_voting",
            self._decimalized("__cur_bae").alias("cur_build_and_earn"),
            "cur_era",
            "cur_period",
            self._decimalized("__next_voting").alias("next_voting"),
            self._decimalized("__next_bae").alias("next_build_and_earn"),
            "next_era",
            "next_period",
        )

    def active_protocol_state(self, entries: DataFrame) -> DataFrame:
        """dappStaking.activeProtocolState singleton → (era,
        next_era_start, period_number, subperiod,
        next_subperiod_start_era, maintenance); nextEraStart arrives
        comma-formatted or hex (dechexToInt, shibuya.js:85)."""
        from polkadot_etl_spark.plans.garparsers import _dechex_int

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
_OPENGOV_TRACKS = {
    0: "Root", 1: "WhitelistedCaller", 2: "WishForChange", 10: "StakingAdmin",
    11: "Treasurer", 12: "LeaseAdmin", 13: "FellowshipAdmin", 14: "GeneralAdmin",
    15: "AuctionAdmin", 20: "ReferendumCanceller", 21: "ReferendumKiller",
    30: "SmallTipper", 31: "BigTipper", 32: "SmallSpender", 33: "MediumSpender",
    34: "BigSpender",
}
_CONVICTION_WEIGHTS = {"None": 0.1, "Locked1x": 1.0, "Locked2x": 2.0,
                       "Locked3x": 3.0, "Locked4x": 4.0, "Locked5x": 5.0,
                       "Locked6x": 6.0}


def _map_lit(mapping: dict) -> Column:
    pairs = []
    for k, v in mapping.items():
        pairs.extend([F.lit(k), F.lit(v)])
    return F.create_map(*pairs)


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

    def _track_name(self, track_id: Column) -> Column:
        return F.element_at(_map_lit(_OPENGOV_TRACKS), track_id.cast("int"))

    # -------------------------------------------------------- votingFor

    def _keyed(self, entries: DataFrame) -> DataFrame:
        return entries.select(
            *self._memo(
                "_keyed",
                lambda: [
                    F.get_json_object("key_args", "$[0]").alias("voter"),
                    F.get_json_object("key_args", "$[1]")
                    .cast("int")
                    .alias("track_id"),
                    F.col("value"),
                ],
            )
        )

    def casting_votes(self, entries: DataFrame) -> DataFrame:
        """casting.votes → one row per (voter, track, pollID): standard
        votes decode the vote byte (aye >= 128; conviction = byte % 16,
        0 → 0.1 'None'); split carries aye/nay at conviction None;
        splitAbstain adds the abstain balance (polkadot.js:122-177)."""
        k = self._keyed(entries)

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
        def _cols():
            votes = F.from_json(
                F.get_json_object("value", "$.casting"),
                "struct<votes: array<string>>",
            )["votes"]
            pred = F.get_json_object("value", "$.casting").isNotNull()
            sel_explode = ["voter", "track_id", F.explode(votes).alias("pair")]
            sel_pair = [
                "voter",
                "track_id",
                F.get_json_object("pair", "$[0]").cast("long").alias("poll_id"),
                F.get_json_object("pair", "$[1]").alias("detail"),
            ]
            sel_a = [
                "voter",
                "track_id",
                "poll_id",
                F.get_json_object("detail", "$.standard").alias("__std"),
                F.get_json_object("detail", "$.split").alias("__spl"),
                F.get_json_object("detail", "$.splitAbstain").alias("__spa"),
            ]
            sel_b = [
                "voter",
                "track_id",
                "poll_id",
                "__std",
                "__spa",
                F.conv(
                    F.regexp_replace(F.get_json_object("__std", "$.vote"), "^0x", ""),
                    16,
                    10,
                )
                .cast("int")
                .alias("__byte"),
                F.get_json_object("__std", "$.balance").alias("__bal"),
                F.coalesce(
                    F.get_json_object("__spl", "$.aye"),
                    F.get_json_object("__spa", "$.aye"),
                ).alias("__aye"),
                F.coalesce(
                    F.get_json_object("__spl", "$.nay"),
                    F.get_json_object("__spa", "$.nay"),
                ).alias("__nay"),
                F.get_json_object("__spa", "$.abstain").alias("__abstain"),
            ]
            sel_c = [
                "voter",
                "track_id",
                "poll_id",
                "__std",
                "__spa",
                "__byte",
                self._decimalized("__bal").alias("__bal_d"),
                self._decimalized("__aye").alias("__aye_d"),
                self._decimalized("__nay").alias("__nay_d"),
                self._decimalized("__abstain").alias("__abstain_d"),
            ]
            std, spa, byte = F.col("__std"), F.col("__spa"), F.col("__byte")
            weight = F.when(byte % 16 == 0, F.lit(0.1)).otherwise(
                (byte % 16).cast("double")
            )
            vote_type = F.when(
                std.isNotNull(), F.when(byte >= 128, "aye").otherwise("nay")
            ).when(spa.isNotNull(), F.lit("splitAbstain")).otherwise(F.lit("split"))
            sel_out = [
                "voter",
                "track_id",
                self._track_name(F.col("track_id")).alias("track"),
                "poll_id",
                vote_type.alias("vote_type"),
                F.when(std.isNotNull(), F.element_at(_map_lit({0.1: "None", 1.0: "Locked1x", 2.0: "Locked2x", 3.0: "Locked3x", 4.0: "Locked4x", 5.0: "Locked5x", 6.0: "Locked6x"}), weight))
                .otherwise(F.lit("None"))
                .alias("conviction"),
                F.when(std.isNotNull(), weight).otherwise(F.lit(0.1)).alias(
                    "conviction_weight"
                ),
                F.when(
                    std.isNotNull(),
                    F.when(byte >= 128, F.col("__bal_d")).otherwise(F.lit(0.0)),
                )
                .otherwise(F.col("__aye_d"))
                .alias("aye"),
                F.when(
                    std.isNotNull(),
                    F.when(byte < 128, F.col("__bal_d")).otherwise(F.lit(0.0)),
                )
                .otherwise(F.col("__nay_d"))
                .alias("nay"),
                F.when(spa.isNotNull(), F.col("__abstain_d"))
                .otherwise(F.lit(0.0))
                .alias("abstain"),
            ]
            return pred, sel_explode, sel_pair, sel_a, sel_b, sel_c, sel_out

        pred, sel_explode, sel_pair, sel_a, sel_b, sel_c, sel_out = self._memo(
            "casting_votes", _cols
        )
        e = k.where(pred).select(*sel_explode).select(*sel_pair)
        return e.select(*sel_a).select(*sel_b).select(*sel_c).select(*sel_out)

    def casting_summary(self, entries: DataFrame) -> DataFrame:
        """One row per (voter, track) casting record — the granularity
        of the reference's cvVotingForRec (castingStruct: the voted poll
        list + count, the voter's own delegations stats, and the prior
        lock [bn, balance]; polkadot.js:214-226, 439-448). The per-poll
        decode lives in casting_votes; this is the record-level
        summary."""
        k = self._keyed(entries)

        def _cols():
            c_sql = "get_json_object(value, '$.casting')"
            d_sql = f"get_json_object({c_sql}, '$.delegations')"
            c = F.expr(c_sql)
            votes = F.from_json(c, "struct<votes: array<string>>")["votes"]
            voted = F.transform(votes, lambda p: F.get_json_object(p, "$[0]"))
            return c.isNotNull(), [
                "voter",
                "track_id",
                self._track_name(F.col("track_id")).alias("track"),
                F.size(votes).cast("long").alias("voted_cnt"),
                F.array_join(voted, ",").alias("voted"),
                self._decimalized(f"get_json_object({d_sql}, '$.votes')").alias(
                    "delegations_votes"
                ),
                self._decimalized(f"get_json_object({d_sql}, '$.capital')").alias(
                    "delegations_capital"
                ),
                F.get_json_object(c, "$.prior[0]").cast("long").alias("prior_bn"),
                self._decimalized(f"get_json_object({c_sql}, '$.prior[1]')").alias(
                    "prior_balance"
                ),
            ]

        pred, sel = self._memo("casting_summary", _cols)
        return k.where(pred).select(*sel)

    def delegations(self, entries: DataFrame) -> DataFrame:
        """delegating branch → (voter, track, target, balance,
        conviction + weight via the name→scale map, prior lock)
        (polkadot.js:228-265)."""
        # Codegen-bounded staging (see staker_info's codegen note):
        # raw strings first, the two balance decodes over plain
        # attributes second.
        k = self._keyed(entries)

        def _cols():
            d = F.get_json_object("value", "$.delegating")
            sel_raw = [
                "voter",
                "track_id",
                F.get_json_object("__d", "$.target").alias("target"),
                F.get_json_object("__d", "$.conviction").alias("conviction"),
                F.get_json_object("__d", "$.balance").alias("__balance"),
                F.get_json_object("__d", "$.prior[0]").alias("__prior_bn"),
                F.get_json_object("__d", "$.prior[1]").alias("__prior_bal"),
            ]
            sel_out = [
                "voter",
                "track_id",
                self._track_name(F.col("track_id")).alias("track"),
                "target",
                self._decimalized("__balance").alias("balance"),
                "conviction",
                F.element_at(_map_lit(_CONVICTION_WEIGHTS), F.col("conviction")).alias(
                    "conviction_weight"
                ),
                F.col("__prior_bn").cast("long").alias("prior_bn"),
                self._decimalized("__prior_bal").alias("prior_balance"),
            ]
            return d, F.col("__d").isNotNull(), sel_raw, sel_out

        d, pred, sel_raw, sel_out = self._memo("delegations", _cols)
        raw = k.withColumn("__d", d).where(pred).select(*sel_raw)
        return raw.select(*sel_out)

    def delegatees(self, entries: DataFrame) -> DataFrame:
        """The delegatee rollup (polkadot.js:183-206, 267-297): an
        address becomes a delegatee row per track when (a) its OWN
        votingFor entry carries delegations.votes > 0 (casting or
        delegating — the stats live on the target's storage) or (b) at
        least one delegator names it; delegators aggregate into a
        sorted roster; average_conviction = round(votes/capital, 4)."""
        k = self._keyed(entries)

        # Codegen-bounded staging (see staker_info's codegen note).
        def _cols():
            own = F.coalesce(
                F.get_json_object("value", "$.casting.delegations"),
                F.get_json_object("value", "$.delegating.delegations"),
            )
            sel_raw = [
                F.col("voter").alias("delegatee"),
                "track_id",
                F.get_json_object("__d", "$.votes").alias("__votes"),
                F.get_json_object("__d", "$.capital").alias("__capital"),
            ]
            sel_dec = [
                "delegatee",
                "track_id",
                self._decimalized("__votes").alias("votes"),
                self._decimalized("__capital").alias("capital"),
            ]
            grp = [F.col("target").alias("delegatee"), "track_id"]
            agg = [
                F.count(F.lit(1)).alias("delegators_cnt"),
                F.array_join(F.array_sort(F.collect_list("voter")), ",").alias(
                    "delegators"
                ),
            ]
            votes = F.coalesce(F.col("votes"), F.lit(0.0))
            capital = F.coalesce(F.col("capital"), F.lit(0.0))
            sel_out = [
                "delegatee",
                "track_id",
                self._track_name(F.col("track_id")).alias("track"),
                votes.alias("delegations_votes"),
                capital.alias("delegations_capital"),
                # guard capital > 0 too: junk delegations {votes>0,
                # capital:0} would otherwise emit Infinity
                F.when((votes > 0) & (capital > 0), F.round(votes / capital, 4))
                .otherwise(F.lit(0.0))
                .alias("avg_conviction"),
                F.coalesce(F.col("delegators_cnt"), F.lit(0)).cast("long").alias(
                    "delegators_cnt"
                ),
                F.coalesce(F.col("delegators"), F.lit("")).alias("delegators"),
            ]
            return own, sel_raw, sel_dec, grp, agg, sel_out

        own, sel_raw, sel_dec, grp, agg, sel_out = self._memo("delegatees", _cols)
        stats = (
            k.withColumn("__d", own)
            .where(F.col("__d").isNotNull())
            .select(*sel_raw)
            .select(*sel_dec)
            .where(F.col("votes") > 0)
        )
        incoming = self.delegations(entries).groupBy(*grp).agg(*agg)
        merged = stats.join(incoming, ["delegatee", "track_id"], "full_outer")
        return merged.select(*sel_out)

    # -------------------------------------------------------- referenda

    def referenda(self, entries: DataFrame) -> DataFrame:
        """referendumInfoFor → status via the single version key
        (Object.keys[0]); non-ongoing/killed rows carry [moment,
        {who, amount}]; ongoing rows carry submission/decision deposits
        and the tally (polkadot.js:48-93)."""
        def _cols():
            ref_id = F.get_json_object("key_args", "$[0]").cast("long")
            m = F.from_json(F.col("value"), "map<string,string>")
            status = F.element_at(F.map_keys(m), 1)
            detail_sql = "element_at(map_values(from_json(value, 'map<string,string>')), 1)"
            detail = F.expr(detail_sql)
            # killed rows deliberately carry NO moment: the reference's
            # closed-branch guard excludes killed too (polkadot.js:61
            # `referendumStatus != 'ongoing' && != 'killed'`), so the kill
            # block at detail[0] is dropped there as well — parity, not loss
            closed = status.isin("ongoing", "killed") == F.lit(False)
            dep, sub, dec, tally = (
                f"get_json_object({detail_sql}, '{path}')"
                for path in ("$[1]", "$.submissionDeposit", "$.decisionDeposit", "$.tally")
            )
            return [
                ref_id.alias("ref_id"),
                status.alias("status"),
                F.when(closed, F.get_json_object(detail, "$[0]").cast("long")).alias(
                    "moment"
                ),
                F.when(closed, F.get_json_object(F.expr(dep), "$.who"))
                .otherwise(F.get_json_object(F.expr(sub), "$.who"))
                .alias("depositor"),
                F.when(closed, self._decimalized(f"get_json_object({dep}, '$.amount')"))
                .otherwise(self._decimalized(f"get_json_object({sub}, '$.amount')"))
                .alias("submission_deposit"),
                self._decimalized(f"get_json_object({dec}, '$.amount')").alias(
                    "decision_deposit"
                ),
                self._decimalized(f"get_json_object({tally}, '$.ayes')").alias("tally_ayes"),
                self._decimalized(f"get_json_object({tally}, '$.nays')").alias("tally_nays"),
                self._decimalized(f"get_json_object({tally}, '$.support')").alias(
                    "tally_support"
                ),
            ]

        return entries.select(*self._memo("referenda", _cols))

    # ------------------------------------------------ treasury / bounty

    TREASURY_BLACKLIST = ("309", "359", "452", "456", "472")

    def treasury_proposals(self, entries: DataFrame) -> DataFrame:
        """treasury.proposals minus the hand-kept blacklist
        (polkadot.js:491)."""
        # Codegen-bounded staging (see staker_info's codegen note).
        def _cols():
            pid = F.get_json_object("key_args", "$[0]")
            sel_raw = [
                pid.cast("long").alias("proposal_id"),
                F.get_json_object("value", "$.proposer").alias("proposer"),
                F.get_json_object("value", "$.beneficiary").alias("beneficiary"),
                F.get_json_object("value", "$.value").alias("__value"),
                F.get_json_object("value", "$.bond").alias("__bond"),
            ]
            sel_out = [
                "proposal_id",
                "proposer",
                "beneficiary",
                self._decimalized("__value").alias("value"),
                self._decimalized("__bond").alias("bond"),
            ]
            return ~pid.isin(*self.TREASURY_BLACKLIST), sel_raw, sel_out

        pred, sel_raw, sel_out = self._memo("treasury_proposals", _cols)
        return entries.where(pred).select(*sel_raw).select(*sel_out)

    def bounties(self, entries: DataFrame) -> DataFrame:
        """bounties.bounties: value/fee/curatorDeposit decimalize; the
        status is a single-key variant whose detail may carry curator
        and updateDue (polkadot.js:232-254 process_bounties)."""
        def _cols():
            sm = F.from_json(
                F.get_json_object("value", "$.status"), "map<string,string>"
            )
            status = F.element_at(F.map_keys(sm), 1)
            detail = F.element_at(F.map_values(sm), 1)
            return [
                F.get_json_object("key_args", "$[0]").cast("long").alias("bounty_id"),
                F.get_json_object("value", "$.proposer").alias("proposer"),
                self._decimalized("get_json_object(value, '$.value')").alias("value"),
                self._decimalized("get_json_object(value, '$.fee')").alias("fee"),
                self._decimalized("get_json_object(value, '$.curatorDeposit')").alias(
                    "curator_deposit"
                ),
                status.alias("bounty_status"),
                F.get_json_object(detail, "$.curator").alias("curator"),
                F.get_json_object(detail, "$.updateDue").cast("long").alias(
                    "update_due"
                ),
            ]

        return entries.select(*self._memo("bounties", _cols))

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
        def _cols():
            era_agg = F.max(
                F.when(F.col("name") == "currentEra", F.col("value").cast("long"))
            ).alias("__era")
            balances = ("erasTotalStake", "totalIssuance")
            metric = F.when(
                F.col("name").isin(*balances), self._decimalized("value")
            ).otherwise(F.expr(_dechex_str("value")).cast("double"))
            sel = [
                F.col("name").alias("metric"),
                metric.alias("value"),
                F.col("__era").alias("era"),
            ]
            return era_agg, sel

        era_agg, sel = self._memo("staking_info", _cols)
        era = singletons.agg(era_agg)
        return (
            singletons.where(F.col("name") != "currentEra")
            .crossJoin(F.broadcast(era))
            .select(*sel)
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
