"""XCM global asset registry (xcmgar) build + propagation.

The reference maintains a cross-chain asset registry: every chain
registers its local representation of an asset (native Token JSON,
ForeignAsset index, 128-bit asset id on EVM chains, xc-prefixed wrapper
symbols), and the registry canonicalizes them under one
``xcm_interior_key`` derived from the asset's multilocation
(substrate/xcmgarlib3.js — the (relayChain, paraID, currencyID) →
(symbol, name, decimals) map; published as schema/xcmassets.json). The
registry then propagates back into per-chain asset tables — the
asset × xcmasset join of xcmLiquidityPairsUpdate
(substrate/xcmmanager.js:500-510).

Spark shape: the multilocation→interior-key codec is native column
work — one let-chained SQL expression per registration row
(native_loc_cols), evaluated once inside one Generate node, no Python
stage (registrations are dim-scale: ~1e3 rows per relay — this whole
pipeline is broadcast territory); canonical-row selection is a rank
window over (origin-first, non-wrapper-first); propagation is a
broadcast join on the local (para_id, currency_id) representation.
Lake upsert goes through operators.merge.upsert_day_partitioned (J10
MERGE semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from polkadot_etl_spark.functions.multilocation import _JUNCTIONS
from polkadot_etl_spark.operators.srp import _let

# ---------------------------------------------------------------------------
# The interior-key codec as column work.
#
# The codec is deterministic JSON→JSON assembly, and for the SCALAR
# junction zoo it is expressible as column work: get_json_object('$')
# normalizes the document to compact Jackson text (whitespace stripped —
# the same separators json.dumps(…, separators=(',', ':')) emits),
# junction names rename through a map literal, and each single-key
# junction object re-assembles by string math. json.dumps(sort_keys=True)
# is a NO-OP on single-key dicts, so compact-normalize + rename IS the
# canonical serialization for scalar junctions.
#
# SUPPORTED (returns exactly what functions/multilocation.interior_key
# returns, cross-checked row-for-row in tests/test_xcmgar.py):
#   - here / missing / null interiors (including the {} → '~here' rule);
#   - X1 bare-or-array through Xn arrays of single-key junctions whose
#     values are JSON null, integers, or printable-ASCII strings with
#     no quote/backslash escapes (parachain, palletInstance,
#     generalIndex, generalKey, onlyChild, string-network
#     globalConsensus — everything the gar parsers emit);
#   - mixed-case junction/variant names, first-parachain origin
#     extraction, n_junctions.
# OUT OF SCOPE → NULL key, and the registry builders below drop the
# row: object-valued junctions (accountId32/accountKey20/accountIndex64
# carry nested dicts whose key ORDER json.dumps sorts — one-level-flat
# string math cannot honestly reproduce that), float literals, and
# strings needing escape sequences.
# ---------------------------------------------------------------------------

_CANON_MAP_SQL = (
    "map(" + ", ".join(f"'{k}', '{v}'" for k, v in sorted(_JUNCTIONS.items())) + ")"
)

# printable ASCII minus '"' (x22) and '\' (x5c): a quoted JSON string
# with none of these needs no (re-)escaping, so source text == dumps text
_SAFE_QSTRING_RE = r'^\"[\\x20-\\x21\\x23-\\x5b\\x5d-\\x7e]*\"$'


def native_loc_cols(
    df: DataFrame, ml_col: str = "multilocation", relay_col: str = "relay_chain"
) -> DataFrame:
    """df + the codec columns (xcm_interior_key, origin_para_id,
    n_junctions) for scalar-junction multilocations; NULL key outside
    the documented scope (see the codec comment above). Identical output
    to functions/multilocation.interior_key on supported shapes
    (cross-checked in tests/test_xcmgar.py).

    The whole codec is ONE let-chained expression (see _let): every
    intermediate — normalized doc, interior text, variant keys, the
    junction array, per-junction canon texts — binds once and is
    referenced as a leaf, so consumers (the isNotNull gate, the
    canonical window, the struct-field extraction) can duplicate the
    expression a handful of times without the multiplicative blowup a
    nested-reference form produces. ANSI-safe (get / try_cast /
    try_element_at everywhere a malformed row could throw)."""
    reserved = {"__nloc", "xcm_interior_key", "origin_para_id", "n_junctions"}
    clash = reserved & set(df.columns)
    if clash:
        # same contract as operators.bloom.bloom_probe: a caller column
        # named like an output would silently produce duplicate/ambiguous
        # columns after the explode — fail loudly instead
        raise ValueError(f"input columns collide with codec outputs: {sorted(clash)}")
    return df.select(
        "*", F.explode_outer(F.expr(_native_loc_sql(ml_col, relay_col))).alias("__nloc")
    ).select("*", "__nloc.*").drop("__nloc")


def _native_loc_sql(ml_col: str, relay_col: str) -> str:
    """The codec's one let-chained SQL expression (see native_loc_cols)."""
    # inner lets: keys / canonical name / value text each bind once
    # per junction (the inline form re-ran json_object_keys ~6x per
    # junction per evaluation)
    jcanon = _let(
        "json_object_keys(jt)", "jks",
        _let(
            "CASE WHEN jt IS NULL OR size(jks) != 1 THEN NULL"
            " ELSE try_element_at(" + _CANON_MAP_SQL + ", lower(get(jks, 0)))"
            " END",
            "cn",
            _let(
                "CASE WHEN cn IS NOT NULL THEN"
                " substr(jt, length(get(jks, 0)) + 5,"
                " length(jt) - length(get(jks, 0)) - 5) END",
                "vl",
                "CASE WHEN cn IS NULL THEN NULL"
                " WHEN vl = 'null' OR vl rlike '^-?[0-9]+$'"
                f" OR vl rlike '{_SAFE_QSTRING_RE}'"
                " THEN concat('{\"', cn, '\":', vl, '}')"
                " ELSE NULL END",
            ),
        ),
    )
    # sequence(0, -1) would generate a DESCENDING [0, -1]; empty/null
    # arrays short-circuit to a typed empty array instead
    jts_sql = (
        "CASE WHEN coalesce(json_array_length(ar), 0) > 0"
        " THEN transform(sequence(0, json_array_length(ar) - 1),"
        "   i -> get_json_object(ar, concat('$[', i, ']')))"
        " ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    relayx = "coalesce(nullif(rl0, ''), 'polkadot')"
    is_here = (
        "(itr IS NULL OR size(iks) = 0"
        " OR coalesce(exists(iks, k -> lower(k) = 'here'), false))"
    )
    is_x = (
        "(size(iks) = 1 AND lower(get(iks, 0)) rlike '^x'"
        " AND ar IS NOT NULL"
        " AND coalesce(forall(jc, j -> j IS NOT NULL), false))"
    )
    # a 0/1-element array: the caller EXPLODES it, so the whole chain
    # evaluates exactly once per row inside one Generate node and every
    # consumer reads leaf attributes (the struct-returning form was
    # re-evaluated by each consumer - filter + three field extractions
    # made the sf0.1 exec 4.8 s)
    empty = (
        "CAST(array() AS ARRAY<STRUCT<xcm_interior_key: STRING,"
        " origin_para_id: INT, n_junctions: INT>>)"
    )
    final = (
        f"CASE WHEN ml0 IS NULL OR nrm IS NULL"
        f" OR NOT startswith(nrm, '{{') THEN {empty}"
        f" WHEN {is_here} THEN array(named_struct("
        f"   'xcm_interior_key', concat({relayx}, '~here'),"
        f"   'origin_para_id', CAST(NULL AS INT),"
        f"   'n_junctions', 0))"
        f" WHEN {is_x} THEN array(named_struct("
        f"   'xcm_interior_key', concat({relayx}, '~', bd),"
        f"   'origin_para_id', try_cast(nullif(regexp_extract(bd,"
        f"     '\"parachain\":(-?[0-9]+)', 1), '') AS INT),"
        f"   'n_junctions', CAST(size(jts) AS INT)))"
        f" ELSE {empty} END"
    )
    sql = _let(
        ml_col, "ml0",
        _let(
            relay_col, "rl0",
            _let(
                "get_json_object(ml0, '$')", "nrm",
                _let(
                    "coalesce(get_json_object(ml0, '$.interior'),"
                    " get_json_object(ml0, '$.Interior'))", "itr",
                    _let(
                        "json_object_keys(itr)", "iks",
                        _let(
                            "get_json_object(itr, concat('$.', get(iks, 0)))",
                            "rw",
                            _let(
                                "CASE WHEN startswith(rw, '[') THEN rw"
                                " WHEN rw IS NOT NULL"
                                " THEN concat('[', rw, ']') END", "ar",
                                _let(
                                    jts_sql, "jts",
                                    _let(
                                        f"transform(jts, jt -> {jcanon})", "jc",
                                        _let(
                                            "concat('[', array_join(jc, ','),"
                                            " ']')", "bd",
                                            final,
                                        ),
                                    ),
                                ),
                            ),
                        ),
                    ),
                ),
            ),
        ),
    )
    return sql


def _keyed(chain_assets: DataFrame) -> DataFrame:
    """chain_assets + the codec columns, NULL-keyed (out-of-scope) rows
    dropped."""
    return native_loc_cols(chain_assets).where(F.col("xcm_interior_key").isNotNull())


def build_xcm_asset_registry(chain_assets: DataFrame) -> DataFrame:
    """Per-chain registrations → one canonical row per xcm_interior_key.

    Input columns: relay_chain, para_id (registering chain), currency_id
    (local representation), symbol, name, decimals, multilocation (JSON),
    xc_contract_address?, source.

    Canonical selection: the asset's HOME registration (registering chain
    == the multilocation's Parachain junction; relay assets' home is
    para 0) wins; else a non-xc-wrapper symbol; ties break on
    (para_id, currency_id) for determinism. confidence = number of
    distinct chains that know the asset (schema/xcmassets.json
    confidence column).

    Rows are keyed by native_loc_cols; a registration whose
    multilocation is outside the codec's scope (object-valued junctions
    such as AccountId32, float literals, strings needing escapes) gets a
    NULL key and is dropped. Every gar parser emits in-scope rows only.
    """
    r = _keyed(chain_assets)
    is_origin = F.coalesce(F.col("origin_para_id"), F.lit(0)) == F.col("para_id")
    is_wrapper = F.col("symbol").startswith("xc")
    w = Window.partitionBy("xcm_interior_key").orderBy(
        is_origin.desc(),
        is_wrapper.asc(),
        F.col("para_id").asc(),
        F.col("currency_id").asc(),
        F.col("source").asc(),
    )
    # confidence/contract stats ride the SAME key partitioning as the
    # rank window — an unordered window over xcm_interior_key reuses the
    # rank window's Exchange, where a groupBy+join-back would both add a
    # join and duplicate the upstream codec branch in the plan.
    wk = Window.partitionBy("xcm_interior_key")
    canon = (
        r.withColumn("confidence", F.size(F.collect_set("para_id").over(wk)).cast("long"))
        .withColumn("__any_contract", F.max("xc_contract_address").over(wk))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
    )
    return canon.select(
        "xcm_interior_key",
        F.lit(None).cast("string").alias("xcm_v1_multilocation_byte"),
        F.col("multilocation").alias("xcm_v1_multilocation"),
        "symbol",
        "decimals",
        F.coalesce(F.col("origin_para_id"), F.lit(0)).alias("para_id"),
        F.concat(F.lit("chain"), F.coalesce(F.col("origin_para_id"), F.lit(0))).alias(
            "chain_name"
        ),
        F.when(F.col("n_junctions") == 0, F.lit("here"))
        .otherwise(F.concat(F.lit("x"), F.col("n_junctions")))
        .alias("interior_type"),
        "source",
        F.col("__any_contract").alias("xc_contract_address"),
        F.col("currency_id").alias("xc_currency_id"),
        "confidence",
    )


def propagate_registry(local_assets: DataFrame, chain_assets: DataFrame, registry: DataFrame) -> DataFrame:
    """Decorate per-chain asset rows with their canonical identity — the
    xcmLiquidityPairsUpdate join (xcmmanager.js:500-510): local
    (para_id, currency_id) → xcm_interior_key → canonical
    symbol/decimals/home chain. Registry sides broadcast (dim-scale).
    Registrations outside the codec's scope map to no key, so their
    local rows get a NULL xcm_interior_key."""
    mapping = F.broadcast(
        build_registration_index(chain_assets).select(
            F.col("para_id").alias("__mp"),
            F.col("currency_id").alias("__mc"),
            F.col("xcm_interior_key").alias("__mk"),
        )
    )
    reg = F.broadcast(
        registry.select(
            F.col("xcm_interior_key").alias("__rk"),
            F.col("symbol").alias("xcm_symbol"),
            F.col("decimals").alias("xcm_decimals"),
            F.col("para_id").alias("xcm_home_para_id"),
            F.col("confidence"),
        )
    )
    out = (
        local_assets.join(
            mapping,
            (local_assets.para_id == mapping.__mp)
            & (local_assets.currency_id == mapping.__mc),
            "left",
        )
        .join(reg, F.col("__mk") == reg.__rk, "left")
        .drop("__mp", "__mc", "__rk")
    )
    return out.withColumnRenamed("__mk", "xcm_interior_key")


def build_registration_index(chain_assets: DataFrame) -> DataFrame:
    """(para_id, currency_id) → xcm_interior_key for every registration
    in the codec's scope (out-of-scope rows drop, as in
    build_xcm_asset_registry)."""
    return (
        _keyed(chain_assets)
        .select("para_id", "currency_id", "xcm_interior_key")
        .dropDuplicates(["para_id", "currency_id"])
    )
