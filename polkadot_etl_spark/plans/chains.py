"""Per-chain parser plugins (SURVEY §2.10 F1).

The reference has a 6,428-LoC base ChainParser with per-chain subclasses
(acala/astar/bifrost/interlay/moonbeam/parallel) overriding storage-key
decode, XCM extraction, and per-pallet asset semantics, dispatched by
chainID (reference substrate/chains/chainparser.js:188-3143,
substrate/indexer.js:6697-6755 setup_chainParser).

Spark translation: a parser produces CONFIG + COLUMN EXPRESSIONS, not
row loops — the base class carries the generic transfer-event layouts,
native token metadata, and suppress rules; subclasses override the
declarative bits. Dispatch is a registry keyed by chain_id, exactly like
setup_chainParser. Every hook returns DataFrames built from native
expressions, so a chain override never de-optimizes the plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polkadot_etl_spark.plans.decode import transfers_from_events


class ChainParser:
    """Base parser: generic Substrate semantics (chainparser.js base)."""

    chain_id: int = 0
    relay_chain: str = "polkadot"
    native_symbol: str = "DOT"
    native_decimals: int = 10
    ss58_prefix: int = 0

    # noise suppressed from published calls (assetManager.js:3214)
    suppress: tuple[tuple[str, str], ...] = (
        ("timestamp", "set"),
        ("paraInherent", "enter"),
        ("imOnline", "heartbeat"),
    )

    def transfers(self, events: DataFrame) -> DataFrame:
        """Typed transfers with this chain's native token config."""
        return transfers_from_events(
            events,
            native_symbol=self.native_symbol,
            native_decimals=self.native_decimals,
            ss58_prefix=self.ss58_prefix,
        )

    def is_suppressed(self, section: str, method: str) -> bool:
        return (section, method) in self.suppress

    def reward_feed(self, events: DataFrame) -> DataFrame:
        """feedreward extraction with this chain's pallet config
        (chainparser.js prepareFeedReward; overridden per chain)."""
        from polkadot_etl_spark.plans.feeds import reward_feed

        return reward_feed(events, native_decimals=self.native_decimals)


class MoonbeamParser(ChainParser):
    """EVM (frontier) chain (chains/moonbeam.js, 1,096 LoC): 18-decimal
    native token, h160 accounts (prefix 1284), EVM logs decoded via
    functions/evm.py, parachainStaking rewards with hex balances
    (moonbeam.js:867-902), and the XC-20 precompile address rule that
    maps a u128 asset id onto an EVM contract address
    (0xFFFFFFFF + 16-byte id — the addresses hard-coded at
    moonbeam.js:469,726 follow this rule)."""

    chain_id = 2004
    native_symbol = "GLMR"
    native_decimals = 18
    ss58_prefix = 1284

    def reward_feed(self, events: DataFrame) -> DataFrame:
        """parachainStaking(Rewarded) with 0x-hex balance payloads; no
        PayoutStarted/era on parachain staking (moonbeam.js:877-902
        prepareFeedReward override + rewardFilter :867)."""
        from polkadot_etl_spark.plans.feeds import reward_feed

        return reward_feed(
            events,
            native_decimals=self.native_decimals,
            section="parachainStaking",
            rewarded_methods=("Rewarded",),
            payout_method=None,
        )

    @staticmethod
    def xc20_contract_address(asset_id: int) -> str:
        """XC-20 precompile address for a u128 asset id:
        0xFFFFFFFF || 16-byte big-endian id. Verifiable against the
        reference's hard-coded xcDOT address (moonbeam.js:726)."""
        return "0xffffffff" + f"{asset_id:032x}"


class OrmlParser(ChainParser):
    """Shared base for ORML multi-asset (tokens/currencies pallet)
    chains — acala, bifrost, interlay, parallel all inherit the generic
    CurrencyId canonicalization and per-asset decimalization from the
    reference's base chainparser; per-chain subclasses supply the asset
    map and their pallet quirks. The lcDOT rename applies across relay
    ORML chains (acala.js:822-825; interlay.js:114-117)."""

    # known asset decimals (indexer.assetInfo equivalent); lookup misses
    # fall back to the native decimals exactly like getCachedAssetDecimal
    # (acala.js:813)
    asset_decimals: dict[str, int] = {}

    # ---- CurrencyId canonicalization (token_to_string / getAssetInfo) ----

    def asset_symbol(self, asset: Column) -> Column:
        """ORML CurrencyId JSON (or bare symbol) → display symbol.
        {"Token":"KSM"} → KSM; {"DexShare":[a,b]} → "symA/symB" LP label;
        {"ForeignAsset":"0"} → fa#0; {"LiquidCrowdloan":"13"} → lcDOT
        (the hard rename, acala.js:822-825). Bare strings pass through."""

        def tok(j: Column) -> Column:
            return F.coalesce(
                F.get_json_object(j, "$.Token"),
                F.concat(F.lit("fa#"), F.get_json_object(j, "$.ForeignAsset")),
            )

        lc = F.get_json_object(asset, "$.LiquidCrowdloan")
        dex0 = F.get_json_object(asset, "$.DexShare[0]")
        return (
            F.when(lc == "13", F.lit("lcDOT"))
            .when(lc.isNotNull(), F.concat(F.lit("lc#"), lc))
            .when(
                dex0.isNotNull(),
                F.concat(
                    tok(dex0), F.lit("/"), tok(F.get_json_object(asset, "$.DexShare[1]"))
                ),
            )
            .when(tok(asset).isNotNull(), tok(asset))
            .otherwise(asset)
        )

    def asset_decimals_col(self, symbol: Column) -> Column:
        """Per-asset decimals when-chain over the known-asset map, with the
        reference's default-12 fallback (acala.js:813)."""
        out = None
        for sym, dec in sorted(self.asset_decimals.items()):
            clause = symbol == sym
            out = F.when(clause, dec) if out is None else out.when(clause, dec)
        return out.otherwise(F.lit(self.native_decimals))

    def transfers(self, events: DataFrame) -> DataFrame:
        """Multi-asset transfers: unlike the base parser (flat native
        decimals), every row's amount is decimalized by ITS asset's
        decimals and the symbol is the canonical ORML form."""
        base = transfers_from_events(
            events,
            native_symbol=self.native_symbol,
            native_decimals=self.native_decimals,
            ss58_prefix=self.ss58_prefix,
        )
        sym = self.asset_symbol(F.col("asset"))
        dec = self.asset_decimals_col(sym)
        return (
            base.withColumn("symbol", sym)
            .withColumn("decimals", dec)
            .withColumn(
                "amount",
                F.col("raw_amount").try_cast("double") / F.pow(F.lit(10.0), dec.cast("double")),
            )
        )

class AcalaParser(OrmlParser):
    """ORML tokens chain (chains/acala.js, 1,137 LoC): multi-asset
    transfers via currencies/tokens pallets with PER-ASSET decimals,
    dex:Swap path-hop volume extraction (acala.js:619-670), and swapped
    storage-key argument orders (Tokens:Accounts = [account, currency]
    vs Loans:Positions = [currency, account], acala.js:11-49)."""

    chain_id = 2000
    native_symbol = "ACA"
    native_decimals = 12
    ss58_prefix = 10

    asset_decimals: dict[str, int] = {
        "ACA": 12, "AUSD": 12, "KUSD": 12, "KAR": 12, "KSM": 12, "LKSM": 12,
        "DOT": 10, "LDOT": 10, "lcDOT": 10, "TAP": 12, "TAI": 12,
    }

    # ---- dex:Swap path-hop extraction (acala.js:619-670) -----------------

    def dex_swap_hops(self, events: DataFrame) -> DataFrame:
        """dex(Swap) data = [trader, path currencies, path volumes] →
        one row per consecutive path hop with per-asset-decimalized
        volumes (process_dex_swap_event walks i, i+1 pairs). The explode
        is map-side; no shuffle."""
        d_tokens = F.from_json(
            F.get_json_object("data", "$[1]"), T.ArrayType(T.StringType())
        )
        d_vols = F.from_json(
            F.get_json_object("data", "$[2]"), T.ArrayType(T.DecimalType(38, 0))
        )
        e = (
            events.where((F.col("section") == "dex") & (F.col("method") == "Swap"))
            .select(
                "event_id",
                "extrinsic_id",
                "block_number",
                "block_time",
                F.get_json_object("data", "$[0]").alias("trader"),
                d_tokens.alias("__toks"),
                d_vols.alias("__vols"),
            )
            .where(F.size("__toks") >= 2)
        )
        hop = F.explode(
            F.transform(
                F.slice(F.col("__toks"), 1, F.size("__toks") - 1),
                lambda _t, i: F.struct(
                    F.col("__toks")[i].alias("tok0"),
                    F.col("__toks")[i + 1].alias("tok1"),
                    F.col("__vols")[i].alias("vol0_raw"),
                    F.col("__vols")[i + 1].alias("vol1_raw"),
                    i.alias("hop"),
                ),
            )
        ).alias("h")
        sym0 = self.asset_symbol(F.col("h.tok0"))
        sym1 = self.asset_symbol(F.col("h.tok1"))
        return e.select(
            "event_id", "extrinsic_id", "block_number", "block_time", "trader", hop
        ).select(
            "event_id",
            "extrinsic_id",
            "block_number",
            "block_time",
            "trader",
            F.col("h.hop").alias("hop"),
            sym0.alias("token0"),
            sym1.alias("token1"),
            (
                F.col("h.vol0_raw").try_cast("double")
                / F.pow(F.lit(10.0), self.asset_decimals_col(sym0).cast("double"))
            ).alias("token0_in"),
            (
                F.col("h.vol1_raw").try_cast("double")
                / F.pow(F.lit(10.0), self.asset_decimals_col(sym1).cast("double"))
            ).alias("token1_out"),
            F.concat(F.lit("["), sym0, F.lit(","), sym1, F.lit("]")).alias("pair_key"),
        )

    # ---- storage-key argument order (acala.js:11-49) ---------------------

    # pallet:storage → (position of accountID, position of currencyID)
    _STORAGE_KEY_ORDER = {
        ("Tokens", "Accounts"): (0, 1),
        ("Loans", "Positions"): (1, 0),
        ("Rewards", "SharesAndWithdrawnRewards"): (1, 0),
    }

    def storage_key_args(self, section: str, storage: str, decorated_key: Column):
        """(account, asset) columns from a decorated storage key JSON
        array — the per-storage argument order the reference hand-codes
        in getTokensAccountsKey/getLoansPositionsKey."""
        order = self._STORAGE_KEY_ORDER.get((section, storage))
        if order is None:
            return None
        acct_i, asset_i = order
        return (
            F.get_json_object(decorated_key, f"$[{acct_i}]").alias("account"),
            F.get_json_object(decorated_key, f"$[{asset_i}]").alias("asset"),
        )


class KusamaParser(ChainParser):
    chain_id = 2
    relay_chain = "kusama"
    native_symbol = "KSM"
    native_decimals = 12
    ss58_prefix = 2


class BifrostParser(OrmlParser):
    """Liquid-staking ORML chain (chains/bifrost.js — an empty subclass
    in the reference too: everything inherits from the ORML base; only
    the chain config and asset map differ)."""

    chain_id = 2030
    native_symbol = "BNC"
    native_decimals = 12
    ss58_prefix = 6

    asset_decimals: dict[str, int] = {
        "BNC": 12, "vBNC": 12, "DOT": 10, "vDOT": 10, "KSM": 12,
        "vKSM": 12, "vsDOT": 10, "vsKSM": 12,
    }


class InterlayParser(OrmlParser):
    """Bitcoin-bridge ORML chain (chains/interlay.js, 143 LoC):
    tokens:totalIssuance storage rows carry the currency id in the key
    (interlay.js:11-17) and a high-precision issuance value; issuance is
    decimalized per asset, with DexShare-style two-element pairs taking
    the FIRST leg's decimals (interlay.js:43-72
    processTokensTotalIssuance); generic balance vals are dechexed
    field-by-field (interlay.js:19-30)."""

    chain_id = 2032
    native_symbol = "INTR"
    native_decimals = 10
    ss58_prefix = 2032

    asset_decimals: dict[str, int] = {
        "INTR": 10, "IBTC": 8, "KINT": 12, "KBTC": 8, "DOT": 10, "KSM": 12,
    }

    _STORAGE_KEY_ORDER = {("tokens", "totalIssuance"): (None, 0)}

    def storage_key_args(self, section: str, storage: str, decorated_key: Column):
        """tokens:totalIssuance's decorated key = [currencyID]
        (interlay.js:11-17 getTotalIssuance)."""
        order = self._STORAGE_KEY_ORDER.get((section, storage))
        if order is None:
            return None
        return (
            F.lit(None).cast("string").alias("account"),
            F.get_json_object(decorated_key, "$[0]").alias("asset"),
        )

    def total_issuance(self, rows: DataFrame) -> DataFrame:
        """rows(asset JSON, raw_issuance) → decimalized issuance table.
        A two-element array asset is a liquidity pair: decimals come
        from the FIRST leg (interlay.js:46-52); otherwise the asset's
        own decimals with the native fallback."""
        leg0 = F.get_json_object(F.col("asset"), "$[0]")
        is_pair = leg0.isNotNull() & F.get_json_object(F.col("asset"), "$[1]").isNotNull()
        sym_direct = self.asset_symbol(F.col("asset"))
        sym_leg0 = self.asset_symbol(leg0)
        sym = F.when(is_pair, F.concat(sym_leg0, F.lit("/"), self.asset_symbol(F.get_json_object(F.col("asset"), "$[1]")))).otherwise(sym_direct)
        dec = F.when(is_pair, self.asset_decimals_col(sym_leg0)).otherwise(
            self.asset_decimals_col(sym_direct)
        )
        return rows.select(
            "asset",
            sym.alias("symbol"),
            F.when(is_pair, F.lit("liquidity_pair")).otherwise(F.lit("token")).alias("asset_type"),
            F.col("raw_issuance").try_cast("decimal(38,0)").alias("raw_issuance"),
            (
                F.col("raw_issuance").try_cast("double")
                / F.pow(F.lit(10.0), dec.cast("double"))
            ).alias("issuance"),
        )


class AstarParser(ChainParser):
    """dApps-staking chain (chains/astar.js, 966 LoC): 18-decimal native
    token, dappsStaking(Reward) rewards carrying the era INLINE in the
    event data (no PayoutStarted — astar.js:889-920), the staked smart
    contract ({evm:...}/{wasm:...}) as a first-class reward column, and
    the XC-20-style asset-address rule shared with moonbeam
    (astar.js:624-628: '0x' + addr[10:], with rawAssetID 0 → ASTR)."""

    chain_id = 2006
    native_symbol = "ASTR"
    native_decimals = 18
    ss58_prefix = 5

    def reward_feed(self, events: DataFrame) -> DataFrame:
        """dappsStaking(Reward) data = [account, smart_contract, era,
        amount]: era inline (dechex), hex balances, no fill window
        (astar.js:889-920 prepareFeedReward override)."""
        from polkadot_etl_spark.plans.feeds import reward_feed

        return reward_feed(
            events,
            native_decimals=self.native_decimals,
            section="dappsStaking",
            rewarded_methods=("Reward",),
            payout_method=None,
            account_index=0,
            contract_index=1,
            era_data_index=2,
            amount_index=3,
        )

    @staticmethod
    def xc20_asset_id(addr: Column) -> Column:
        """EVM asset address → raw asset id hex: strip the 0xFFFFFFFF
        marker prefix ('0x' + addr[10:], astar.js:624-625)."""
        return F.when(
            addr.startswith("0x"),
            F.concat(F.lit("0x"), F.substring(addr, 11, 2_000_000)),
        ).otherwise(addr)

    def asset_symbol_for_id(self, raw_id: Column) -> Column:
        """Asset id 0 is the native token on astar (astar.js:626-628)."""
        return F.when(raw_id.try_cast("long") == 0, F.lit(self.native_symbol))


class ParallelParser(ChainParser):
    """Money-market chain (chains/parallel.js, 1,225 LoC): NUMERIC asset
    ids resolved through the assets registry table (the reference queries
    assets.metadata on-chain and caches it, parallel.js:171-215 — the
    Spark translation is a broadcast join against the published assets
    dim), comma-formatted ids cleaned first (chainparser.js:6068-6071),
    per-pallet storage-key argument orders (oracle/loans/amm,
    parallel.js:436-489), and the liquidStaking exchange-rate ratio
    decoded from an 18-decimal fixed-point hex (parallel.js:417-424)."""

    chain_id = 2012
    native_symbol = "PARA"
    native_decimals = 12
    ss58_prefix = 172

    @staticmethod
    def cleaned_asset_id(raw: Column) -> Column:
        """'200,070,014' → 200070014 (paraTool.toNumWithoutComma via
        cleanedAssetID, chainparser.js:6068)."""
        return F.regexp_replace(raw, ",", "").try_cast("long")

    def decorate_asset(
        self, df: DataFrame, assets: DataFrame, id_col: str = "asset_id"
    ) -> DataFrame:
        """Broadcast-join symbol/decimals from the assets dim onto any
        frame keyed by numeric asset id, then decimalize raw_amount if
        present. The registry is tiny (<1e4 rows on any chain) so this is
        shuffle-free — the Spark form of the reference's assetInfo cache
        (parallel.js:154-215)."""
        dim = F.broadcast(
            assets.select(
                F.col("asset_id").alias("__aid"),
                F.col("symbol").alias("symbol"),
                F.col("decimals").alias("decimals"),
            )
        )
        out = df.join(dim, self.cleaned_asset_id(F.col(id_col)) == F.col("__aid"), "left").drop(
            "__aid"
        )
        if "raw_amount" in df.columns:
            out = out.withColumn(
                "amount",
                F.col("raw_amount").try_cast("double")
                / F.pow(F.lit(10.0), F.coalesce(F.col("decimals"), F.lit(self.native_decimals)).cast("double")),
            )
        return out

    # pallet:storage → decorated-key JSON array layout
    # (account position, asset position) with None = not present
    _STORAGE_KEY_ORDER: dict[tuple[str, str], tuple[int | None, int | None]] = {
        ("oracle", "values"): (None, 0),          # [assetId]
        ("oracle", "rawValues"): (0, 1),          # [oracle, assetId]
        ("assets", "asset"): (None, 0),           # [assetId]
        ("loans", "accountBorrows"): (1, 0),      # [assetId, account]
        ("loans", "accountDeposits"): (1, 0),     # [assetId, account]
        ("loans", "exchangeRate"): (None, 0),     # [assetId]
        ("loans", "borrowIndex"): (None, 0),
        ("loans", "totalBorrows"): (None, 0),
        ("loans", "totalSupply"): (None, 0),
        ("balances", "locks"): (0, None),         # [account]
        ("liquidStaking", "exchangeRate"): (0, None),
    }

    def storage_key_args(self, section: str, storage: str, decorated_key: Column):
        """(account, asset_id) columns for parallel's pallets — the
        hand-coded key walkers at parallel.js:436-489 as one layout
        table."""
        order = self._STORAGE_KEY_ORDER.get((section, storage))
        if order is None:
            return None
        acct_i, asset_i = order
        acct = (
            F.get_json_object(decorated_key, f"$[{acct_i}]")
            if acct_i is not None
            else F.lit(None).cast("string")
        )
        asset = (
            self.cleaned_asset_id(F.get_json_object(decorated_key, f"$[{asset_i}]"))
            if asset_i is not None
            else F.lit(None).cast("long")
        )
        return acct.alias("account"), asset.alias("asset_id")

    @staticmethod
    def liquid_staking_exchange_rate(decorated_val: str) -> Column:
        """liquidStaking:exchangeRate — 18-decimal fixed-point, possibly
        hex (parallel.js:417-424 getLiquidStakingExchangeRateVal), from
        the SQL text of the decorated value."""
        from polkadot_etl_spark.plans.feeds import _u128_from_maybe_hex

        return F.expr(_u128_from_maybe_hex(decorated_val)).cast("double") / 1e18

    @staticmethod
    def oracle_price(decorated_val: str):
        """oracle:values → (raw_price, price_ts): value is a u128 hex,
        timestamp is ms → floor seconds (parallel.js:246-255); the
        decorated value is given as SQL text."""
        from polkadot_etl_spark.plans.feeds import _u128_from_maybe_hex

        raw = F.expr(_u128_from_maybe_hex(f"get_json_object({decorated_val}, '$.value')"))
        ts = (F.get_json_object(F.expr(decorated_val), "$.timestamp").try_cast("long") / 1000).cast("long")
        return raw.alias("raw_price"), ts.alias("price_ts")


class StatemintParser(ChainParser):
    """AssetHub (statemint polkadot-1000 / statemine kusama-1000) — the
    relay's common-good assets chain, where most real asset traffic
    (USDT/USDC) lives. The reference covers it through the generic
    assets-pallet machinery plus the dedicated registry parser
    (gar/chainParsers/statemint.js:1): DOT-native (10 decimals, relay
    ss58 prefix), and every assets:Transferred event denominates in the
    PER-ASSET decimals of the assets:metadata registry — never the
    native token's.

    Spark shape: generic transfer extraction stays native
    (plans/decode.transfers_from_events already carries the
    assets:Transferred positional layout); the per-asset decimalization
    is a broadcast join against the registry dim (dim-scale, like the
    reference's assetInfo cache) that rewrites symbol/decimals/amount
    for assets rows only."""

    chain_id = 1000
    native_symbol = "DOT"
    native_decimals = 10
    ss58_prefix = 0

    def decorate_transfers(self, transfers: DataFrame, assets_registry: DataFrame) -> DataFrame:
        """Re-denominate assets-pallet rows with registry metadata:
        symbol/decimals come from assets:metadata (parsed by
        plans.garparsers.StatemintGarParser.parse_gar), amount =
        raw_amount / 10^decimals. Native (balances) rows pass through
        untouched. Unregistered asset ids keep the raw id as symbol with
        NULL decimals/amount — visibly undecorated, never silently
        native-denominated."""
        dim = F.broadcast(
            assets_registry.select(
                F.col("asset_id").alias("__aid"),
                F.col("symbol").alias("__sym"),
                F.col("decimals").alias("__dec"),
            )
        )
        from polkadot_etl_spark.plans.feeds import _cleaned_asset_id

        is_assets = F.col("section") == "assets"
        out = transfers.join(
            dim,
            is_assets & (F.expr(_cleaned_asset_id("asset")) == F.col("__aid")),
            "left",
        )
        dec = F.col("__dec")
        return out.select(
            *[c for c in transfers.columns if c not in ("symbol", "decimals", "amount")],
            F.when(~is_assets, F.col("symbol")).otherwise(
                F.coalesce(F.col("__sym"), F.col("asset"))
            ).alias("symbol"),
            F.when(~is_assets, F.col("decimals")).otherwise(dec).alias("decimals"),
            F.when(~is_assets, F.col("amount"))
            .otherwise(
                F.col("raw_amount").cast("double") / F.pow(F.lit(10.0), dec.cast("double"))
            )
            .alias("amount"),
        )


_PARSERS: dict[int, type[ChainParser]] = {
    p.chain_id: p
    for p in (
        ChainParser,
        KusamaParser,
        AcalaParser,
        MoonbeamParser,
        AstarParser,
        ParallelParser,
        BifrostParser,
        InterlayParser,
        StatemintParser,
    )
}


def register_parser(cls: type[ChainParser]) -> type[ChainParser]:
    """Plugin hook: new chains register their subclass (decorator-friendly)."""
    _PARSERS[cls.chain_id] = cls
    return cls


def get_parser(chain_id: int) -> ChainParser:
    """setup_chainParser dispatch: specific parser or generic base."""
    return _PARSERS.get(chain_id, ChainParser)()
