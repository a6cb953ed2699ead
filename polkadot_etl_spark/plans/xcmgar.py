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

Spark shape: the multilocation→interior-key codec runs once per
registration row in one Arrow-batched UDF (registrations are dim-scale:
~1e3 rows per relay — this whole pipeline is broadcast territory);
canonical-row selection is a rank window over (origin-first,
non-wrapper-first); propagation is a broadcast join on the local
(para_id, currency_id) representation. Lake upsert goes through
operators.merge.upsert_day_partitioned (J10 MERGE semantics).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from polkadot_etl_spark.functions.multilocation import (
    _JUNCTIONS,
    interior_key,
    para_id_of,
)
from polkadot_etl_spark.operators.srp import _let

_LOC_INFO = T.StructType(
    [
        T.StructField("xcm_interior_key", T.StringType()),
        T.StructField("origin_para_id", T.IntegerType()),
        T.StructField("n_junctions", T.IntegerType()),
    ]
)


@pandas_udf(_LOC_INFO)
def _loc_info_fn(multilocation: pd.Series, relay: pd.Series) -> pd.DataFrame:
    keys, paras, njs = [], [], []
    for m, r in zip(multilocation, relay):
        try:
            d = json.loads(m)
            k = interior_key(d, r or "polkadot")
            keys.append(k)
            paras.append(para_id_of(d))
            body = k.split("~", 1)[1]
            njs.append(0 if body == "here" else len(json.loads(body)))
        except Exception:
            keys.append(None)
            paras.append(None)
            njs.append(None)
    return pd.DataFrame(
        {"xcm_interior_key": keys, "origin_para_id": paras, "n_junctions": njs}
    )


# The codec IS deterministic, but Catalyst treats deterministic
# expressions as free to duplicate and push around — measured: the
# isNotNull(xcm_interior_key) gate got pushed below the repartition into
# every union leg, re-running the Arrow stage once per near-empty file
# split (each Python task pays a ~1.5 s worker-fork floor here).
# Marking it nondeterministic pins ONE evaluation in ONE compact stage.
_loc_info = _loc_info_fn.asNondeterministic()


# ---------------------------------------------------------------------------
# Native (pure-column) form of the codec — the Arrow form's fast path.
#
# Every Arrow stage pays the ~1.5 s Python-worker fork floor (measured,
# see build_xcm_asset_registry below), and the interior-key codec is
# deterministic JSON→JSON assembly — for the SCALAR junction zoo it is
# expressible as column work: get_json_object('$') normalizes the
# document to compact Jackson text (whitespace stripped — the same
# separators json.dumps(…, separators=(',', ':')) emits), junction
# names rename through a map literal, and each single-key junction
# object re-assembles by string math. json.dumps(sort_keys=True) is a
# NO-OP on single-key dicts, so compact-normalize + rename IS the
# canonical serialization for scalar junctions.
#
# SUPPORTED (returns the identical struct the Arrow codec returns,
# cross-checked row-for-row in tests/test_xcmgar.py):
#   - here / missing / null interiors (including the {} → '~here' rule);
#   - X1 bare-or-array through Xn arrays of single-key junctions whose
#     values are JSON null, integers, or printable-ASCII strings with
#     no quote/backslash escapes (parachain, palletInstance,
#     generalIndex, generalKey, onlyChild, string-network
#     globalConsensus — everything the gar parsers emit);
#   - mixed-case junction/variant names, first-parachain origin
#     extraction, n_junctions.
# OUT OF SCOPE → NULL key (row routes to the Arrow form or drops,
# caller's choice): object-valued junctions (accountId32/accountKey20/
# accountIndex64 carry nested dicts whose key ORDER json.dumps sorts —
# one-level-flat string math cannot honestly reproduce that), float
# literals, and strings needing escape sequences. The Arrow codec
# remains the total form and the cross-check.
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
    """df + the _LOC_INFO columns (xcm_interior_key, origin_para_id,
    n_junctions) computed natively — the zero-Python fast path for
    scalar-junction multilocations; NULL key outside the documented
    scope (see module comment). Identical output to ``_loc_info`` on
    supported shapes (cross-checked in tests/test_xcmgar.py).

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
    # r14 (VERDICT #4): the whole codec Column is corpus-independent for
    # a given (ml_col, relay_col) pair — build the ~20 KB let-chain and
    # parse it through F.expr once per process, not per invocation
    from polkadot_etl_spark.plans.garparsers import _expr_cache

    return df.select(
        "*",
        F.explode_outer(
            _expr_cache(
                ("native_loc_expr", ml_col, relay_col),
                lambda: F.expr(_native_loc_sql(ml_col, relay_col)),
            )
        ).alias("__nloc"),
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
    # made the sf0.1 exec 4.8 s; the Generate form measures below the
    # Arrow wave)
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


def _with_loc_info(chain_assets: DataFrame, codec: str) -> DataFrame:
    """chain_assets + the codec struct fields, null-keyed rows dropped.

    codec='arrow': the total Python form — one COMPACT wave of Arrow
    tasks (registrations are dim-scale but typically arrive as a union
    of many near-empty file splits, and every Arrow-UDF task pays a
    fixed Python-worker fork cost, ~1.5 s here — re-balance to one wave
    of core-count tasks so the codec stage costs one fork wall-clock,
    not ceil(splits/cores); capped because on a large cluster
    defaultParallelism is thousands and a ~1e3-row dim over thousands
    of codec tasks would be all fork cost).

    codec='native': zero Python, zero repartition — the pure-column
    form for scalar-junction registries (see native_loc_info's scope
    note; out-of-scope rows get a NULL key and DROP, so callers whose
    data may carry object-valued junctions must use 'arrow')."""
    if codec == "native":
        return native_loc_cols(chain_assets).where(
            F.col("xcm_interior_key").isNotNull()
        )
    if codec != "arrow":
        raise ValueError(f"unknown codec: {codec!r} (use 'arrow' or 'native')")
    par = min(chain_assets.sparkSession.sparkContext.defaultParallelism, 64)
    info = _loc_info(F.col("multilocation"), F.col("relay_chain")).alias("__info")
    return (
        chain_assets.repartition(par)
        .withColumn("__info", info)
        .select("*", "__info.*")
        .drop("__info")
        .where(F.col("xcm_interior_key").isNotNull())
    )


def build_xcm_asset_registry(chain_assets: DataFrame, codec: str = "arrow") -> DataFrame:
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

    codec: 'arrow' (default, total) or 'native' (zero-Python column
    form for scalar-junction registries — what every gar parser
    emits). MEASURED (r7, sf0.1 local[32], fresh sessions x3): native
    and arrow are wall-clock EQUAL within noise — the Arrow wave's
    ~1.5 s fork floor is offset by the native expression's richer
    per-row JSON work. Native still wins on plan SHAPE, which is what
    matters at cluster scale: zero Python stages and one fewer
    Exchange (the codec-compaction repartition disappears), both
    plan-pinned in tests/test_plan_quality.py.
    """
    r = _with_loc_info(chain_assets, codec)
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
    symbol/decimals/home chain. Registry sides broadcast (dim-scale)."""
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


def build_registration_index(chain_assets: DataFrame, codec: str = "arrow") -> DataFrame:
    """(para_id, currency_id) → xcm_interior_key for every registration
    (same codec selection as build_xcm_asset_registry)."""
    return (
        _with_loc_info(chain_assets, codec)
        .select("para_id", "currency_id", "xcm_interior_key")
        .dropDuplicates(["para_id", "currency_id"])
    )
