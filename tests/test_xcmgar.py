"""The multilocation interior-key codec: native form vs the Python
reference.

plans/xcmgar.py keys every registration through one codec, the
pure-column native_loc_cols. Its contract: IDENTICAL output to
functions/multilocation.interior_key on its documented scope
(scalar-junction multilocations — everything the gar parsers emit) and
NULL key outside it, where the registry builders drop the row. These
tests pin both halves against a reference Arrow UDF over interior_key
(_loc_info_fn below); if the native form ever silently diverges from the
Python semantics, the gar registry hashes would move — this catches it
at the operator level first.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from polkadot_etl_spark.functions.multilocation import interior_key, para_id_of

_LOC_INFO = T.StructType(
    [
        T.StructField("xcm_interior_key", T.StringType()),
        T.StructField("origin_para_id", T.IntegerType()),
        T.StructField("n_junctions", T.IntegerType()),
    ]
)


@pandas_udf(_LOC_INFO)
def _loc_info_fn(multilocation: pd.Series, relay: pd.Series) -> pd.DataFrame:
    """The reference codec: interior_key per row, NULL where it raises."""
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


ZOO = [
    # (multilocation, relay) — the scalar-junction zoo: every shape the
    # gar parsers emit plus the edge cases the Python codec defines
    ('{"parents":1,"interior":{"X2":[{"Parachain":2600},{"GeneralIndex":5}]}}', "polkadot"),
    ('{"parents":1,"interior":{"X1":{"Parachain":2600}}}', "kusama"),
    # V1 X1-as-array + whitespace (manual-registration literals)
    ('{"parents": 1, "interior": {"X1": [{"Parachain": 2007}]}}', "kusama"),
    ('{"parents":0,"interior":{"Here":null}}', "polkadot"),
    ('{"parents":0,"interior":{"here":null}}', None),  # null relay -> polkadot
    ('{"parents":1,"interior":{"X3":[{"Parachain":1000},{"PalletInstance":50},{"GeneralIndex":1984}]}}', "polkadot"),
    # mixed-case variant + junction names; string-valued generalKey
    ('{"parents":1,"interior":{"x2":[{"PARACHAIN":2000},{"GeneralKey":"0x0001"}]}}', "polkadot"),
    ('{"parents":1,"interior":{"X2":[{"Parachain":2000},{"OnlyChild":null}]}}', "polkadot"),
    ('{"parents":1}', "polkadot"),                 # no interior -> '~here'
    ('{"parents":1,"interior":{}}', "polkadot"),   # empty interior -> '~here'
    ('not json', "polkadot"),                      # invalid -> null
    ('{"parents":1,"interior":{"X1":{"Bogus":1}}}', "polkadot"),  # unknown -> null
    ('{"parents":1,"interior":{"X1":{"GeneralKey":"0x00abCDef"}}}', ""),  # '' relay
    ('[1,2]', "polkadot"),                         # non-object root -> null
    ('{"parents":1,"interior":{"X0":[]}}', "polkadot"),  # X0 -> '~[]'
    # variant/junction-count mismatch: neither codec validates arity
    ('{"parents":1,"interior":{"X2":[{"Parachain":2000}]}}', "polkadot"),
    (None, "polkadot"),
]

OUT_OF_SCOPE = [
    # object-valued junction: the reference canonicalizes the nested
    # dict with sorted keys; the native form must refuse (NULL key),
    # never emit an unsorted approximation
    ('{"parents":1,"interior":{"X1":{"AccountId32":{"network":"Any","key":"0xab"}}}}', "polkadot"),
]


def _both(spark, rows):
    from polkadot_etl_spark.plans.xcmgar import native_loc_cols

    df = spark.createDataFrame(rows, "multilocation string, relay_chain string")
    nat = {
        r.multilocation: (r.xcm_interior_key, r.origin_para_id, r.n_junctions)
        for r in native_loc_cols(df).collect()
    }
    arrow = {
        r.multilocation: (r.a.xcm_interior_key, r.a.origin_para_id, r.a.n_junctions)
        for r in df.select(
            "multilocation",
            _loc_info_fn(F.col("multilocation"), F.col("relay_chain")).alias("a"),
        ).collect()
    }
    return nat, arrow


def test_native_codec_matches_arrow_on_scalar_zoo(spark):
    nat, arrow = _both(spark, ZOO)
    for ml, _ in ZOO:
        assert nat[ml] == arrow[ml], f"native/arrow diverge on {ml!r}: {nat[ml]} vs {arrow[ml]}"


def test_native_codec_refuses_object_valued_junctions(spark):
    nat, arrow = _both(spark, OUT_OF_SCOPE)
    (ml, _), = OUT_OF_SCOPE
    assert arrow[ml][0] == 'polkadot~[{"accountId32":{"key":"0xab","network":"Any"}}]'
    assert nat[ml] == (None, None, None), (
        "out-of-scope junction must NULL, not approximate: " + str(nat[ml])
    )


_REGS_SCHEMA = (
    "relay_chain string, para_id int, currency_id string, symbol string,"
    " name string, decimals int, multilocation string,"
    " xc_contract_address string, source string"
)


def test_registry_rows_on_parser_shaped_registrations(spark):
    """build_xcm_asset_registry on a parser-shaped registration set: the
    canonical rows behind the gar queries' hashes — DOT keyed 'here'
    with canonical para 0, USDT home row with confidence 2, SDN."""
    from polkadot_etl_spark.plans.xcmgar import build_xcm_asset_registry

    usdt = (
        '{"parents":1,"interior":{"X3":[{"Parachain":1000},'
        '{"PalletInstance":50},{"GeneralIndex":1984}]}}'
    )
    sdn = '{"parents": 1, "interior": {"X1": [{"Parachain": 2007}]}}'
    regs = spark.createDataFrame(
        [
            ("polkadot", 2004, "42", "xcDOT", "dot", 10,
             '{"parents":0,"interior":{"Here":null}}', None, "onchain"),
            ("polkadot", 0, "0", "DOT", "dot", 10,
             '{"parents":0,"interior":{"here":null}}', None, "native"),
            ("polkadot", 1000, "1984", "USDT", "tether", 6, usdt, None, "onchain"),
            ("polkadot", 2034, "5", "xcUSDT", "tether", 6, usdt, None, "onchain"),
            ("kusama", 2007, "SDN", "SDN", "shiden", 18, sdn, None, "manual"),
        ],
        _REGS_SCHEMA,
    )
    got = sorted(map(tuple, build_xcm_asset_registry(regs).collect()))
    assert got == [
        ('kusama~[{"parachain":2007}]', None, sdn, "SDN", 18, 2007,
         "chain2007", "x1", "manual", None, "SDN", 1),
        ('polkadot~[{"parachain":1000},{"palletInstance":50},{"generalIndex":1984}]',
         None, usdt, "USDT", 6, 1000, "chain1000", "x3", "onchain", None, "1984", 2),
        ("polkadot~here", None, '{"parents":0,"interior":{"here":null}}', "DOT",
         10, 0, "chain0", "here", "native", None, "0", 2),
    ]


def test_registry_drops_out_of_scope_registrations(spark):
    """A registration whose multilocation carries an object-valued
    junction (AccountId32) is outside the codec's scope: it gets no key
    and is absent from the registry, while in-scope rows still land."""
    from polkadot_etl_spark.plans.xcmgar import build_xcm_asset_registry

    (account_ml, _), = OUT_OF_SCOPE
    regs = spark.createDataFrame(
        [
            ("polkadot", 2004, "7", "ACC", "acc", 12, account_ml, None, "onchain"),
            ("polkadot", 0, "0", "DOT", "dot", 10,
             '{"parents":0,"interior":{"Here":null}}', None, "native"),
        ],
        _REGS_SCHEMA,
    )
    got = build_xcm_asset_registry(regs).collect()
    assert [(r.xcm_interior_key, r.symbol) for r in got] == [("polkadot~here", "DOT")]


def test_native_codec_rejects_reserved_output_columns(spark):
    """A caller DataFrame already carrying a codec output column would
    silently produce duplicate/ambiguous columns after the explode —
    native_loc_cols must refuse (same contract as bloom_probe)."""
    import pytest

    from polkadot_etl_spark.plans.xcmgar import native_loc_cols

    for clash in ("__nloc", "xcm_interior_key", "origin_para_id", "n_junctions"):
        df = spark.createDataFrame(
            [("{}", "polkadot", 1)],
            f"multilocation string, relay_chain string, `{clash}` int",
        )
        with pytest.raises(ValueError, match=clash):
            native_loc_cols(df)


def test_expr_cache_isolated_per_knob_and_context(spark):
    """GarParser.parse_gar is the one site that memoizes its expression
    trees per (SparkContext, site): re-entry hits the cache (same Column
    object), and a plan built from the cached trees equals a freshly
    built one. The gated registration selects are SQL text rebuilt on
    every call, so two parsers whose knobs differ (xc-wrapper strip or
    not) still publish their own symbol rule."""
    from polkadot_etl_spark.plans import garparsers as gp
    from polkadot_etl_spark.plans.feeds import _cleaned_asset_id

    entries = spark.createDataFrame(
        [('["7"]', '{"symbol":"xcFOO","name":"Foo","decimals":7}')],
        "key_args string, value string",
    )
    gar = gp.GarParser().parse_gar(entries)
    loc = spark.createDataFrame(
        [(7, '{"parents":1,"interior":{"X1":{"Parachain":7}}}')],
        "asset_id long, multilocation string",
    )
    # strip vs no-strip parsers each keep their symbol rule
    stripped = gp.ShadowGarParser()._gated_registrations(loc, gar, "onchain")
    plain = gp.CalamariGarParser()._gated_registrations(loc, gar, "onchain")
    assert stripped.collect()[0]["symbol"] == "FOO"  # ^xc stripped
    assert plain.collect()[0]["symbol"] == "xcFOO"  # kept verbatim
    # cache hit: same site returns the SAME Column objects
    c1 = gp._expr_cache(("parse_gar", gp.GarParser), lambda: None)
    c2 = gp._expr_cache(("parse_gar", gp.GarParser), lambda: None)
    assert c1 is not None and c1 is c2
    # cached-vs-fresh plan equality: a fresh uncached build of the same
    # select yields the same analyzed plan
    aid = _cleaned_asset_id("get_json_object(key_args, '$[0]')")
    fresh = entries.selectExpr(f"{aid} AS asset_id")
    cached = gp.GarParser().parse_gar(entries).select("asset_id")
    assert [r["asset_id"] for r in cached.collect()] == [
        r["asset_id"] for r in fresh.collect()
    ]
