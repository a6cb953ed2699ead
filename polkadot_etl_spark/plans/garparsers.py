"""Per-chain XCM asset-registry (gar) parsers — the chain-parser plugin
layer of the reference's xcm-global-asset-registry crawler
(gar/chainParsers/: common_chainparser.js, statemint.js, hydra.js,
phala.js, ...).

The reference walks two on-chain storage maps per parachain:

- the LOCAL asset registry ("gar": e.g. assets:metadata) — asset id →
  {symbol, name, decimals} (common_chainparser.js:120-158
  processGarAssetPallet);
- the CROSS-CHAIN registry ("xcGar": e.g. assetRegistry:assetLocations)
  — asset id → XCM multilocation, joined against the local registry so
  only known assets register (processXcmAssetIdType,
  common_chainparser.js:576-688; processXcmAssetIdToLocation :268-380).

Chains differ in where the maps live and how the value JSON is shaped —
that is what the per-chain subclasses declare (gar/chainParsers/
statemint.js:1 assets:metadata + manual USDT row; hydra.js:1
assetRegistry:assetMetadataMap + assetLocations with version-wrapped
locations; phala.js:1 assets:metadata + assetsRegistry:registryInfoByIds
with a {location, properties} value).

Spark shape: inputs are state-entry frames (key_args JSON array + value
JSON — the same fixture-fed contract as plans/snapshots.py S10); every
parse is native JSON work written as SQL text (selectExpr / where
strings / F.expr), zero Python; the known-asset gate is a broadcast join
(registries are dim-scale, ~1e3 rows/chain); output rows feed straight
into plans.xcmgar.build_xcm_asset_registry, whose native column codec
(native_loc_cols) derives the canonical interior key.

SQL text, not Column trees: every Column-API node is at least one py4j
round trip, and a text parses into the same Catalyst expression in one
call (README pitfall "Large expression trees cost py4j, not JVM"), so
the selects are rebuilt on every call and hold no memo — except
GarParser.parse_gar, the one remaining plans/exprmemo site.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from polkadot_etl_spark.plans.exprmemo import expr_cache as _expr_cache
from polkadot_etl_spark.plans.feeds import _cleaned_asset_id, _dechex_int

# SQL text of the first storage-key argument
_KEY0 = "get_json_object(key_args, '$[0]')"


def _unwrap_location(value: str) -> str:
    """SQL text: the XCM location value ``value`` (SQL text) → the inner
    {parents, interior} JSON.

    Handles the three shapes the reference unwraps
    (common_chainparser.js:598-613 `xcmAssetJSON.xcm ?? xcmAssetJSON`;
    :299-301 version key `Object.keys(xcmAssetType)[0]`):
    - direct  {"parents":..,"interior":..}
    - xcm     {"xcm": {...}}
    - version {"V0"/"V1"/..: {...}} (any single version key)
    """
    versioned = f"element_at(map_values(from_json({value}, 'map<string,string>')), 1)"
    return (
        f"CASE WHEN get_json_object({value}, '$.parents') IS NOT NULL THEN {value}"
        f" ELSE coalesce(get_json_object({value}, '$.xcm'), {versioned}) END"
    )


def _xc_rows(entries: DataFrame, key: str, location: str) -> DataFrame:
    """xc entries → (the ``key`` select, multilocation) rows that carry a
    location; ``key`` and ``location`` are SQL text."""
    return entries.selectExpr(key, f"{location} AS multilocation").where(
        "multilocation IS NOT NULL"
    )


class GarParser:
    """Generic assets-pallet registry parser (processCommonAssetPalletGar,
    common_chainparser.js:176-190) — chains/statemint/phala/astar/moonbeam
    all read assets:metadata with this shape."""

    parser_name = "Common"
    relay_chain = "polkadot"
    para_id: int = 0
    gar_pallet = "assets"
    gar_storage = "metadata"
    xc_gar_pallet: str | None = None
    xc_gar_storage: str | None = None
    # processXcmAssetIdType strips the xc-wrapper prefix from the display
    # symbol (common_chainparser.js:610); processXcmAssetIdToLocation
    # (:292) does not — subclasses pick per their xc storage shape.
    xc_strip_wrapper = False
    # known-asset join key for the xc gate: numeric id for assets-pallet
    # chains, CurrencyId JSON for ORML tokens-pallet chains
    xc_join_on = "asset_id"
    # native tokens seeded into the local asset map BEFORE parsing, keyed
    # by SYMBOL — system.properties tokenSymbol/tokenDecimals
    # (getSystemProperties, common_chainparser.js:68-101); this is what
    # symbol-keyed manual registrations (astar.js:25-38 ASTR/SDN) attach
    # to. (symbol, decimals) pairs, first entry = the native asset.
    native_tokens: list[tuple[str, int]] = []

    def __init__(self, reference_byte_compat: bool = False):
        # Reproduce the reference's PUBLISHED bytes even where they are
        # documented typos (see DIVERGENCES below) — for consumers doing
        # byte-level comparison against reference-derived data. Default
        # False publishes the corrected form.
        self.reference_byte_compat = reference_byte_compat

    @property
    def manual_relay_chain(self) -> str:
        """Relay under which MANUAL registrations are keyed — equals
        ``relay_chain`` everywhere except documented reference typos
        (ShidenGarParser overrides under byte-compat)."""
        return self.relay_chain

    # ------------------------------------------------------------------ gar

    def parse_gar(self, entries: DataFrame) -> DataFrame:
        """assets:metadata-style map → (asset_id, currency_id, symbol,
        name, decimals). Reference rules (processGarAssetPallet,
        common_chainparser.js:120-158):
        - asset id = cleaned first key arg (commas stripped);
        - an extra ``metadata`` nesting level is unwrapped (kusama-2118
          listen, :135);
        - rows missing symbol or decimals are dropped (:136);
        - missing name falls back to the symbol (kusama-2090 basilisk,
          :137);
        - decimals parse decimal-or-hex (dechexToInt, :141)."""

        def _exprs():
            meta = "coalesce(get_json_object(value, '$.metadata'), value)"
            aid = _cleaned_asset_id(_KEY0)
            symbol = f"get_json_object({meta}, '$.symbol')"
            decimals = _dechex_int(f"get_json_object({meta}, '$.decimals')")
            return [
                F.expr(f"{aid} AS asset_id"),
                F.expr(f"""concat('{{"Token":"', CAST({aid} AS STRING), '"}}') AS currency_id"""),
                F.expr(f"{symbol} AS symbol"),
                F.expr(f"coalesce(get_json_object({meta}, '$.name'), {symbol}) AS name"),
                F.expr(f"{decimals} AS decimals"),
            ]

        # the one plans/exprmemo site (see its docstring for why it stays)
        cols = _expr_cache(("parse_gar", GarParser), _exprs)
        return entries.select(*cols).where("symbol IS NOT NULL AND decimals IS NOT NULL")

    # ---------------------------------------------------------------- xcGar

    def _xc_location(self, entries: DataFrame) -> DataFrame:
        """Raw xc entries → (asset_id, multilocation JSON). The common
        xc-map shape: numeric asset-id key, (possibly version-wrapped)
        multilocation value — hydra assetLocations, moonbeam assetIdType,
        calamari assetIdLocation, parallel assetIdType all read this
        way; Phala, Orml and OrmlMetadata override it."""
        if self.xc_gar_pallet is None:
            raise NotImplementedError(f"{self.parser_name} has no xc registry")
        return _xc_rows(
            entries, f"{_cleaned_asset_id(_KEY0)} AS asset_id", _unwrap_location("value")
        )

    def parse_xc_gar(self, xc_entries: DataFrame, gar: DataFrame) -> DataFrame:
        """XC registrations: location rows gated on the known-asset set —
        the reference skips ids absent from the local registry
        ('AssetInfo unknown -- skip', common_chainparser.js:672-675) —
        with the display symbol taken from the local registry, xc-wrapper
        prefix stripped (:610 symbol.replace('xc','')). The join key is
        ``xc_join_on`` — numeric asset_id for assets-pallet chains, the
        CurrencyId JSON for ORML chains whose registries key on currency
        objects."""
        return self._gated_registrations(self._xc_location(xc_entries), gar, "onchain")

    def _gated_registrations(
        self, rows: DataFrame, gar: DataFrame, source: str
    ) -> DataFrame:
        """Location ``rows`` joined to the local registry ``gar`` (a
        broadcast join: both sides are dim-scale) → the 9-column
        registration rows. Manual rows key on ``symbol`` when they carry
        one, else on ``asset_id``, publish under ``manual_relay_chain``
        and keep the registry symbol; on-chain and augment rows key on
        ``xc_join_on``, publish under ``relay_chain`` and strip the
        xc-wrapper prefix when ``xc_strip_wrapper``."""
        manual = source == "manual"
        if manual:
            key = "symbol" if "symbol" in rows.columns else "asset_id"
        else:
            key = self.xc_join_on
        relay = self.manual_relay_chain if manual else self.relay_chain
        symbol = "__sym"
        if self.xc_strip_wrapper and not manual:
            # INTENTIONAL divergence: the reference strips the FIRST 'xc'
            # occurrence anywhere (symbol.replace('xc',''),
            # common_chainparser.js:610) so an interior 'xc' in a
            # non-wrapper symbol would mangle ('FOxcBAR' → 'FOBAR'); the
            # anchored form only strips the wrapper PREFIX, which is the
            # rule's stated purpose. Symbols differing under the two
            # rules are malformed registrations in the reference too.
            symbol = "regexp_replace(__sym, '^xc', '')"
        dim = F.broadcast(
            gar.selectExpr(
                f"{key} AS __jk",
                "currency_id AS __cur",
                "symbol AS __sym",
                "name AS __name",
                "decimals AS __dec",
            )
        )
        return rows.join(dim, F.expr(f"{key} = __jk"), "inner").selectExpr(
            f"'{relay}' AS relay_chain",
            f"{self.para_id} AS para_id",
            "__cur AS currency_id",
            f"{symbol} AS symbol",
            "__name AS name",
            "__dec AS decimals",
            "multilocation",
            "CAST(NULL AS STRING) AS xc_contract_address",
            f"'{source}' AS source",
        )

    # -------------------------------------------------------------- augment

    def augment_from_xtokens(self, extrinsics: DataFrame, gar: DataFrame) -> DataFrame:
        """The optional AUGMENT step: infer (local currency id → XCM
        location) linkage from outgoing xTokens extrinsics when a chain
        publishes no (or an incomplete) xc registry
        (processOutgoingXTokens, common_chainparser.js:1093-1207; wired
        by clover.js:137-152 / origintrail.js:124-139 / robonomics'
        comment block).

        Reference rules reproduced (the transferMulticurrencies branch
        is an evident-intent reconstruction: in the reference that
        ``case`` is UNREACHABLE — processOutgoingXTokens has a duplicate
        ``case "xTokens:transfer":`` label (common_chainparser.js:1131
        and :1141), so transferMulticurrencies falls through to default
        and the positional loop dereferences undefined localXcAssetArr
        entries; we implement what the dead branch plainly meant):
        - only xTokens:transfer / xTokens:transferMulticurrencies carry
          an inferable local side (:1127-1130);
        - the extrinsic must have EXACTLY ONE
          xTokens(TransferredMultiAssets) event (:1119-1122);
        - the local currencies zip POSITIONALLY against the event's
          Vec<MultiAsset> (:1190-1203 — invalid entries on either side
          keep their slot as `false` placeholders, so the zip never
          misaligns; we zip first and drop after, same alignment);
        - only concrete fungible assets yield a location (:1171-1180);
          a `here`/null id is the native asset and not actionable
          (:1222-1226);
        - inferred rows still gate on the known local registry (the
          assetChainkey lookup) — unknown currencies drop.

        Input extrinsics frame: (section, method, params JSON, events
        JSON array of {section, method, data}). Everything is native
        JSON work; the gate is the same broadcast dim as parse_xc_gar;
        rows publish with source='augment'.

        Assets-pallet chains only (numeric currency ids — the chains the
        reference wires augment on: clover, origintrail, robonomics's
        comment block); ORML CurrencyId-object chains would need a
        currency-canonicalizing local side and are rejected loudly."""
        if self.xc_join_on != "asset_id":
            raise NotImplementedError(
                f"{self.parser_name}: xTokens augment supports "
                "assets-pallet (numeric id) chains only"
            )
        xt = (
            "filter(from_json(events, 'array<string>'),"
            " e -> get_json_object(e, '$.section') = 'xTokens'"
            " AND get_json_object(e, '$.method') = 'TransferredMultiAssets')"
        )
        # local side: one currency for transfer, the [currency, amount]
        # pair list's first elements for transferMulticurrencies
        currencies = (
            "CASE WHEN method = 'transfer'"
            " THEN array(get_json_object(params, '$.currency_id'))"
            " ELSE transform(from_json(get_json_object(params, '$.currencies'),"
            " 'array<string>'), c -> get_json_object(c, '$[0]')) END"
        )
        # global side: the event's Vec<MultiAsset> (data[1])
        assets = "from_json(get_json_object(element_at(__xt, 1), '$.data[1]'), 'array<string>')"
        loc = "get_json_object(ast, '$.id.concrete')"
        fungible = "get_json_object(ast, '$.fun.fungible')"
        aid = _cleaned_asset_id("coalesce(get_json_object(cur, '$.Token'), cur)")
        base = (
            extrinsics.where(
                "concat(section, ':', method)"
                " IN ('xTokens:transfer', 'xTokens:transferMulticurrencies')"
            )
            .selectExpr("*", f"{xt} AS __xt")
            .where("size(__xt) = 1")
        )
        pairs = (
            base.selectExpr(f"inline(arrays_zip({currencies}, {assets})) AS (cur, ast)")
            .where(f"{loc} IS NOT NULL AND {fungible} IS NOT NULL AND {aid} IS NOT NULL")
            .selectExpr(f"{aid} AS asset_id", f"{loc} AS multilocation")
            .distinct()
        )
        return self._gated_registrations(pairs, gar, "augment")

    # --------------------------------------------------------------- manual

    def manual_registrations(self, spark) -> DataFrame | None:
        """Hand-curated (asset, location) rows for chains whose registry
        does not expose one on chain (statemint.js:27-38
        manualRegistry)."""
        return None

    # ------------------------------------------------------------- assemble

    def registrations(
        self, spark, gar_entries: DataFrame, xc_entries: DataFrame | None = None
    ) -> DataFrame:
        """Everything this chain contributes to the global registry:
        on-chain xc rows (if the chain has an xc registry) + manual rows.
        Gar-only assets carry no location, hence no interior key — they
        decorate locally but cannot register globally, exactly like the
        reference (only setXcmAsset'd rows reach the global registry)."""
        gar = self.parse_gar(gar_entries)
        if self.native_tokens:
            # system.properties seeding: native assets enter the local
            # map symbol-keyed with no assets-pallet id
            # (getSystemProperties, common_chainparser.js:80-95)
            native = gar_entries.sparkSession.createDataFrame(
                [
                    (None, '{"Token":"%s"}' % s, s, s, d)
                    for s, d in self.native_tokens
                ],
                "asset_id long, currency_id string, symbol string, "
                "name string, decimals int",
            )
            gar = gar.unionByName(native)
        parts = []
        if xc_entries is not None and self.xc_gar_pallet is not None:
            parts.append(self.parse_xc_gar(xc_entries, gar))
        manual = self.manual_registrations(spark)
        if manual is not None:
            # manual rows attach to the cached gar asset for display
            # metadata; rows whose asset key has no cached entry are
            # DROPPED ('Asset=... NOT FOUND Skip', processManualRegistry,
            # common_chainparser.js:1057-1075). Keyed by asset_id
            # (statemint's {"Token":"1984"}) or by symbol (astar's
            # native {"Token":"ASTR"}, which attaches to the
            # system-properties seed).
            parts.append(self._gated_registrations(manual, gar, "manual"))
        if not parts:
            raise ValueError(f"{self.parser_name}: no registration source")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


class StatemintGarParser(GarParser):
    """AssetHub (statemint/statemine — polkadot-1000 / kusama-1000,
    gar/chainParsers/statemint.js:1): assets:metadata local registry, NO
    on-chain xc registry (isXcRegistryAvailable=false, :40), one manual
    registration — USDT (asset 1984) at
    [{parachain:1000},{palletInstance:50},{generalIndex:1984}]
    (manualRegistry, statemint.js:27-38; palletInstance 50 is the assets
    pallet's index on AssetHub)."""

    parser_name = "Statemint"
    para_id = 1000
    xc_gar_pallet = None
    xc_gar_storage = None

    MANUAL = [(1984, 50)]  # (asset_id, pallet_instance)

    def manual_registrations(self, spark) -> DataFrame:
        rows = [
            (
                aid,
                '{"parents": 1, "interior": {"X3": [{"Parachain": %d}, '
                '{"PalletInstance": %d}, {"GeneralIndex": %d}]}}'
                % (self.para_id, pallet, aid),
            )
            for aid, pallet in self.MANUAL
        ]
        return spark.createDataFrame(rows, "asset_id long, multilocation string")


class HydraGarParser(GarParser):
    """HydraDX (polkadot-2034, gar/chainParsers/hydra.js:1): local
    registry at assetRegistry:assetMetadataMap ({symbol, decimals} — no
    name field, so every name falls back to the symbol), xc registry at
    assetRegistry:assetLocations whose values are version-wrapped
    multilocations parsed by processXcmAssetIdType
    (common_chainparser.js:576-688)."""

    parser_name = "Hydra"
    para_id = 2034
    gar_pallet = "assetRegistry"
    gar_storage = "assetMetadataMap"
    xc_gar_pallet = "assetRegistry"
    xc_gar_storage = "assetLocations"
    xc_strip_wrapper = True  # IdType path (common_chainparser.js:610)


class PhalaGarParser(GarParser):
    """Phala (polkadot-2035 / kusama-2004 khala, gar/chainParsers/
    phala.js:1): assets:metadata local registry; xc registry at
    assetsRegistry:registryInfoByIds whose value embeds the location
    under $.location next to a properties blob
    (AssetsRegistryAssetRegistryInfo, phala.js:72-105;
    processXcmAssetIdToLocation, common_chainparser.js:268-380)."""

    parser_name = "Phala"
    para_id = 2035
    xc_gar_pallet = "assetsRegistry"
    xc_gar_storage = "registryInfoByIds"

    def _xc_location(self, entries: DataFrame) -> DataFrame:
        return _xc_rows(
            entries,
            f"{_cleaned_asset_id(_KEY0)} AS asset_id",
            "get_json_object(value, '$.location')",
        )


class OrmlGarParser(GarParser):
    """ORML tokens-pallet registries keyed by CurrencyId OBJECTS, not
    numeric ids (gar/chainParsers/acala.js:1 assetRegistry:assetMetadatas
    over processGarTokensPallet, common_chainparser.js:211-256): the
    storage key is {"ForeignAssetId":"0"} / {"NativeAssetId":{"Token":
    "BNC"}} / {"Erc20":"0x…"} / {"StableAssetId":"0"}; the 'Id' suffix
    strips off the key name, NativeAssetId unwraps to the inner currency
    (the bifrost case, :223-225), numeric values clean commas and stay
    unquoted, and the xc registry (assetRegistry:foreignAssetLocations,
    processXcmForeignAssetLocations :696-760) joins back on the
    {"ForeignAsset": id} currency object."""

    parser_name = "Orml"
    para_id = 2000
    gar_pallet = "assetRegistry"
    gar_storage = "assetMetadatas"
    xc_gar_pallet = "assetRegistry"
    xc_gar_storage = "foreignAssetLocations"
    xc_join_on = "currency_id"
    # bifrost's VSToken symbol disambiguation (common_chainparser.js:
    # 236-242) — off for acala/karura
    vs_token_rule = False

    def parse_gar(self, entries: DataFrame) -> DataFrame:
        kmap = f"from_json({_KEY0}, 'map<string,string>')"
        kname = f"element_at(map_keys({kmap}), 1)"
        kval = f"element_at(map_values({kmap}), 1)"
        scalar_json = (
            f"CASE WHEN {kval} rlike '^[0-9,]+$' THEN regexp_replace({kval}, ',', '')"
            f""" ELSE concat('"', {kval}, '"') END"""
        )
        currency = (
            f"CASE WHEN {kname} = 'NativeAssetId' THEN {kval}"
            f""" ELSE concat('{{"', regexp_replace({kname}, 'Id$', ''), '":',"""
            f" {scalar_json}, '}}') END"
        )
        symbol = "get_json_object(value, '$.symbol')"
        name = "get_json_object(value, '$.name')"
        if self.vs_token_rule:
            is_vs = f"""startswith({currency}, '{{"VSToken"')"""
            symbol = f"CASE WHEN {is_vs} THEN concat('VS', {symbol}) ELSE {symbol} END"
            name = (
                f"CASE WHEN {is_vs} THEN concat('Bifrost Voucher Slot ', {name})"
                f" ELSE {name} END"
            )
        decimals = _dechex_int("get_json_object(value, '$.decimals')")
        return entries.selectExpr(
            "CAST(NULL AS BIGINT) AS asset_id",
            f"{currency} AS currency_id",
            f"{symbol} AS symbol",
            f"{name} AS name",
            f"{decimals} AS decimals",
        ).where("symbol IS NOT NULL AND decimals IS NOT NULL")

    def _xc_location(self, entries: DataFrame) -> DataFrame:
        # foreignAssetLocations keys on the bare ForeignAsset id
        # (useForeignAssetPrefix, common_chainparser.js:714-718)
        fa = _cleaned_asset_id(_KEY0)
        return _xc_rows(
            entries,
            f"""concat('{{"ForeignAsset":', CAST({fa} AS STRING), '}}') AS currency_id""",
            _unwrap_location("value"),
        )


class AcalaGarParser(OrmlGarParser):
    """acala polkadot-2000 / karura kusama-2000 (gar/chainParsers/
    acala.js:1)."""

    parser_name = "Acala"
    para_id = 2000

    @staticmethod
    def erc20_general_key(erc20_address: Column) -> Column:
        """acala's Erc20 CurrencyId → SCALE-encoded generalKey junction
        value: 0x02 (the Erc20 enum index) ++ the h160
        (isAcalaXcAsset, acala.js:128-147) — the local xcmInteriorKey
        decoration for on-chain ERC-20s."""
        return F.concat(F.lit("0x02"), F.substring(F.lower(erc20_address), 3, 40))


class BifrostGarParser(OrmlGarParser):
    """bifrost polkadot-2030 / kusama-2001 (gar/chainParsers/
    bifrost.js): currencyMetadatas keyed by NativeAssetId-wrapped
    currencies, with the VSToken symbol disambiguation."""

    parser_name = "Bifrost"
    para_id = 2030
    gar_storage = "currencyMetadatas"
    xc_gar_storage = "currencyIdToLocations"
    vs_token_rule = True


class MoonbeamGarParser(GarParser):
    """moonbeam polkadot-2004 / moonriver kusama-2023 (gar/chainParsers/
    moonbeam.js:1): assets:metadata (+ a localAssets:metadata extra
    pallet, :85-99) with the assetManager:assetIdType xc registry parsed
    IdType-style (xc prefix strips), and — the moonbeam-specific bit —
    every xc registration also derives its XC-20 PRECOMPILE contract
    address from the asset id (addXcmAssetLocalxcContractAddress,
    :123; the 0xFFFFFFFF ++ u128 rule shared with plans/precompiles and
    chains.MoonbeamParser.xc20_contract_address)."""

    parser_name = "Moonbeam"
    para_id = 2004
    xc_gar_pallet = "assetManager"
    xc_gar_storage = "assetIdType"
    xc_strip_wrapper = True

    def parse_xc_gar(self, xc_entries: DataFrame, gar: DataFrame) -> DataFrame:
        out = super().parse_xc_gar(xc_entries, gar)
        # xcContractAddress = 0xffffffff ++ 16-byte big-endian asset id
        aid = _cleaned_asset_id("get_json_object(currency_id, '$.Token')")
        xc20 = f"concat('0xffffffff', lpad(lower(hex({aid})), 32, '0'))"
        return out.withColumn("xc_contract_address", F.expr(xc20))


class OrmlMetadataGarParser(GarParser):
    """orml-asset-registry chains whose metadata value EMBEDS the
    location (interlay/kintsugi, mangatax, oak, centrifuge — gar and xc
    are the SAME storage walk, gar/chainParsers/interlay.js:16-21 +
    processXcmAssetsRegistryAssetMetadata, common_chainparser.js:
    381-470: location may be version-wrapped under $.location).
    ``pad_prefix`` reproduces interlay's currency padding — numeric ids
    publish as {"ForeignAsset":"<id>"} to match the chain's
    tokens:account keys (padCurrencyID, interlay.js:111-127)."""

    parser_name = "OrmlMetadata"
    gar_pallet = "assetRegistry"
    gar_storage = "metadata"
    xc_gar_pallet = "assetRegistry"
    xc_gar_storage = "metadata"
    pad_prefix: str | None = None

    def parse_gar(self, entries: DataFrame) -> DataFrame:
        out = super().parse_gar(entries)
        if self.pad_prefix:
            cur = f"""concat('{{"{self.pad_prefix}":"', CAST(asset_id AS STRING), '"}}')"""
            out = out.withColumn(
                "currency_id",
                F.expr(f"CASE WHEN asset_id IS NOT NULL THEN {cur} ELSE currency_id END"),
            )
        return out

    def _xc_location(self, entries: DataFrame) -> DataFrame:
        return _xc_rows(
            entries,
            f"{_cleaned_asset_id(_KEY0)} AS asset_id",
            _unwrap_location("get_json_object(value, '$.location')"),
        )


class InterlayGarParser(OrmlMetadataGarParser):
    """interlay polkadot-2032 / kintsugi kusama-2092 (interlay.js:1)."""

    parser_name = "Interlay"
    para_id = 2032
    pad_prefix = "ForeignAsset"


class MangataGarParser(OrmlMetadataGarParser):
    """mangatax kusama-2110 (mangatax.js:1)."""

    parser_name = "Mangata"
    relay_chain = "kusama"
    para_id = 2110


class OakGarParser(OrmlMetadataGarParser):
    """oak/turing kusama-2114 (oak.js:1)."""

    parser_name = "Oak"
    relay_chain = "kusama"
    para_id = 2114


class CentrifugeGarParser(OrmlMetadataGarParser):
    """centrifuge polkadot-2031 (centrifuge.js:1) — same shape under the
    ormlAssetRegistry pallet name."""

    parser_name = "Centrifuge"
    para_id = 2031
    gar_pallet = "ormlAssetRegistry"
    xc_gar_pallet = "ormlAssetRegistry"


class ListenGarParser(HydraGarParser):
    """listen kusama-2118 (listen.js:1): currencies:listenAssetsInfo gar
    (the extra ``metadata`` nesting level the generic parse unwraps,
    common_chainparser.js:135) + currencies:assetLocations xc — the
    hydra IdType machinery under different storage names."""

    parser_name = "Listen"
    relay_chain = "kusama"
    para_id = 2118
    gar_pallet = "currencies"
    gar_storage = "listenAssetsInfo"
    xc_gar_pallet = "currencies"
    xc_gar_storage = "assetLocations"


class CalamariGarParser(GarParser):
    """calamari kusama-2084 (calamari.js:1): assets:metadata +
    assetManager:assetIdLocation parsed IdToLocation-style (no
    xc-wrapper strip)."""

    parser_name = "Calamari"
    relay_chain = "kusama"
    para_id = 2084
    xc_gar_pallet = "assetManager"
    xc_gar_storage = "assetIdLocation"


class ParallelGarParser(GarParser):
    """parallel polkadot-2012 / heiko kusama-2085 (parallel.js:1):
    assets:metadata + assetRegistry:assetIdType, IdType-style."""

    parser_name = "Parallel"
    para_id = 2012
    xc_gar_pallet = "assetRegistry"
    xc_gar_storage = "assetIdType"
    xc_strip_wrapper = True


class AstarGarParser(GarParser):
    """astar polkadot-2006 (gar/chainParsers/astar.js:1): assets:metadata
    local registry + xcAssetConfig:assetIdToLocation xc registry parsed
    IdToLocation-style (processXcmAssetIdToLocation, astar.js:94 — no
    xc-wrapper strip), plus the manual NATIVE registration — ASTR at the
    chain's own [{parachain:2006}] location (manualRegistry,
    astar.js:25-31) — which attaches to the system-properties native
    seed (symbol-keyed, never in assets:metadata)."""

    parser_name = "Astar"
    para_id = 2006
    xc_gar_pallet = "xcAssetConfig"
    xc_gar_storage = "assetIdToLocation"
    native_tokens = [("ASTR", 18)]

    def manual_registrations(self, spark) -> DataFrame:
        loc = (
            '{"parents": 1, "interior": {"X1": [{"Parachain": %d}]}}' % self.para_id
        )
        return spark.createDataFrame(
            [(s, loc) for s, _ in self.native_tokens[:1]],
            "symbol string, multilocation string",
        )


class ShidenGarParser(AstarGarParser):
    """shiden kusama-2007 — AstarParser's second chainkey (astar.js:9,
    manualRegistry 'kusama-2007' SDN, :32-37).

    INTENTIONAL DIVERGENCE (DIVERGENCES['shiden-manual-relay']): the
    reference's kusama-2007 manual entry pins xcmInteriorKey
    ``[{"network":"polkadot"},{"parachain":2007}]`` (astar.js:32-38) —
    network *polkadot* on a *kusama* registration, an evident copy-paste
    typo from the astar entry above it. We publish the SDN row under the
    chain's actual relay (kusama), matching how every other kusama-side
    parser keys its registrations; construct the parser with
    ``reference_byte_compat=True`` to reproduce the reference's
    published bytes instead."""

    parser_name = "Astar"
    relay_chain = "kusama"
    para_id = 2007
    native_tokens = [("SDN", 18)]

    @property
    def manual_relay_chain(self) -> str:
        return "polkadot" if self.reference_byte_compat else self.relay_chain


class CloverGarParser(GarParser):
    """clover polkadot-2002 (gar/chainParsers/clover.js:1):
    assets:metadata + assetConfig:assetIdLocation parsed
    IdToLocation-style (clover.js:109, no strip). The file's first
    manualRegistry literal is dead code — the second ``manualRegistry =
    {}`` at clover.js:53 wins (last class-field assignment), so no
    manual rows."""

    parser_name = "Clover"
    para_id = 2002
    xc_gar_pallet = "assetConfig"
    xc_gar_storage = "assetIdLocation"


class OrigintrailGarParser(GarParser):
    """origintrail polkadot-2043 (gar/chainParsers/origintrail.js:1):
    assets:metadata + xcAssetConfig:assetIdToLocation — Astar's storage
    layout (origintrail.js:21-22) without the manual native row
    (manualRegistry = {}, :40)."""

    parser_name = "OriginTrail"
    para_id = 2043
    xc_gar_pallet = "xcAssetConfig"
    xc_gar_storage = "assetIdToLocation"


class RobonomicsGarParser(GarParser):
    """robonomics kusama-2048 (gar/chainParsers/robonomics.js:1):
    assets:metadata ONLY — isXcRegistryAvailable = false
    (robonomics.js:55, xcGarPallet = ''), no manual rows. Local assets
    decorate the chain but never reach the global registry — the named
    parser IS the generic assets-pallet fallback (crawlRegistry also
    routes it through processCommonAssetPalletGar,
    xcmgarManager.js:546-548)."""

    parser_name = "Robonomics"
    relay_chain = "kusama"
    para_id = 2048


class ShadowGarParser(GarParser):
    """crust shadow kusama-2012 (gar/chainParsers/shadow.js:1):
    assets:metadata + assetManager:assetIdType parsed IdTYPE-style
    (processXcmAssetIdType, shadow.js:79) — the one long-tail chain
    whose xc display symbols strip the xc-wrapper prefix
    (common_chainparser.js:610)."""

    parser_name = "Shadow"
    relay_chain = "kusama"
    para_id = 2012
    xc_gar_pallet = "assetManager"
    xc_gar_storage = "assetIdType"
    xc_strip_wrapper = True


_GAR_PARSERS: dict[str, type[GarParser]] = {
    "moonbeam": MoonbeamGarParser,
    "moonriver": MoonbeamGarParser,
    "statemint": StatemintGarParser,
    "statemine": StatemintGarParser,
    "hydra": HydraGarParser,
    "basilisk": HydraGarParser,
    "phala": PhalaGarParser,
    "khala": PhalaGarParser,
    "acala": AcalaGarParser,
    "karura": AcalaGarParser,
    "bifrost": BifrostGarParser,
    "interlay": InterlayGarParser,
    "kintsugi": InterlayGarParser,
    "mangatax": MangataGarParser,
    "oak": OakGarParser,
    "turing": OakGarParser,
    "centrifuge": CentrifugeGarParser,
    "listen": ListenGarParser,
    "calamari": CalamariGarParser,
    "parallel": ParallelGarParser,
    "heiko": ParallelGarParser,
    "astar": AstarGarParser,
    "shiden": ShidenGarParser,
    "clover": CloverGarParser,
    "origintrail": OrigintrailGarParser,
    "robonomics": RobonomicsGarParser,
    "shadow": ShadowGarParser,
}
# Dispatch-completeness vs gar/chainParsers/*.js: every reference parser
# file now has a named entry above (statemint, hydra, phala, acala,
# bifrost, interlay, mangatax, oak, centrifuge, listen, calamari,
# parallel, moonbeam, astar, clover, origintrail, robonomics, shadow) —
# custom_parser_template.js is the fork template, common_chainparser.js
# the base class; neither names a chain.


# Machine-readable registry of every documented divergence from the
# reference's published bytes, so byte-compat consumers know exactly what
# differs and which knob (if any) restores reference output. Each entry:
# (where, ours, reference, restore).
DIVERGENCES: dict[str, dict[str, str]] = {
    "shiden-manual-relay": {
        "where": "ShidenGarParser manual SDN registration (astar.js:32-38)",
        "ours": "relay_chain='kusama' (the chain's actual relay)",
        "reference": "network 'polkadot' — copy-paste typo from the astar entry",
        "restore": "get_gar_parser('shiden', reference_byte_compat=True)",
    },
    "xc-strip-anchored": {
        "where": "xc_strip_wrapper symbol strip (common_chainparser.js:610)",
        "ours": "anchored ^xc prefix strip",
        "reference": "first-occurrence replace('xc','') — mangles interior 'xc'",
        "restore": "none — symbols differing under the two rules are malformed"
        " registrations in the reference too (see _gated_registrations)",
    },
    "xtokens-multicurrencies": {
        "where": "augment_from_xtokens transferMulticurrencies"
        " (common_chainparser.js processOutgoingXTokens)",
        "ours": "inferred: the [currency, amount] pairs' currencies zip"
        " positionally against the event's MultiAssets (augment_from_xtokens)",
        "reference": "nominally handled, never executes (duplicate"
        " 'xTokens:transfer' case label, common_chainparser.js:1131/:1141)",
        "restore": "none — no reference output exists to reproduce",
    },
}


def get_gar_parser(chain_name: str, **kwargs) -> GarParser:
    """Dispatch like gar/xcmgar.js chainParserInit: named parser or the
    generic assets-pallet fallback. ``kwargs`` forward to the parser
    constructor (e.g. ``reference_byte_compat=True``)."""
    return _GAR_PARSERS.get(chain_name, GarParser)(**kwargs)
