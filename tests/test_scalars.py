

def test_multilocation_derivative_reference_vector():
    """The XCM DescendOrigin derivative account must reproduce the
    reference's inline vector (xcmtransact.js:1222-1224)."""
    from polkadot_etl_spark.plans.xcmtransact import multilocation_derivative

    d20, d32 = multilocation_derivative(
        1000, "0x44236223ab4291b93eed10e4b511b37a398dee55"
    )
    assert d20 == "0x5c27c4bb7047083420eddff9cddac4a0a120b45c"
    assert d32 == (
        "0x5c27c4bb7047083420eddff9cddac4a0a120b45c"
        "dfa7831175e442b8f14391aa"
    )
    # 32-byte (AccountId32) payloads take the AccountId32 arm
    d20b, _ = multilocation_derivative(1000, "0x" + "11" * 32)
    assert d20b.startswith("0x") and len(d20b) == 42


def test_pubkey_ascii_name_vectors(spark):
    """paraTool.pubKeyHex2ASCII parity: prefix gate, zero-strip, the
    little-endian ':<id>' tail, and NULL for ordinary pubkeys."""
    from pyspark.sql import functions as F

    from polkadot_etl_spark.plans.snapshots import pubkey_ascii_name

    rows = [
        ("0x70617261d4070000000000000000000000000000000000000000000000000000", "para:2004"),
        ("0x6d6f646c70792f747273727900000000000000000000000000000000000000", "modlpy/trsry"),
        ("0x7369626ce803000000000000000000000000000000000000000000000000", "sibl:1000"),
        ("0xc30aa287059cd2bdd121662e18c200b4698ff6fa452b79f70ac63a40a3a690ee", None),
        ("0x706172", None),
    ]
    df = spark.createDataFrame([(a,) for a, _ in rows], "pk string")
    got = [r.n for r in df.select(pubkey_ascii_name(F.col("pk")).alias("n")).collect()]
    assert got == [e for _, e in rows]


def test_orml_gar_currency_key_parse(spark):
    """processGarTokensPallet parity: 'Id' suffix strip, NativeAssetId
    unwrap, numeric-unquoted vs hex-quoted values, the bifrost VSToken
    disambiguation, and acala's Erc20 generalKey encoding."""
    from pyspark.sql import functions as F

    from polkadot_etl_spark.plans.garparsers import AcalaGarParser, BifrostGarParser

    rows = [
        ('[{"ForeignAssetId":"1,234"}]', '{"name":"N","symbol":"S","decimals":8}'),
        ('[{"NativeAssetId":{"Token":"BNC"}}]', '{"name":"Bifrost","symbol":"BNC","decimals":12}'),
        ('[{"NativeAssetId":{"VSToken":"KSM"}}]', '{"name":"Slot KSM","symbol":"KSM","decimals":12}'),
        ('[{"Erc20":"0xAb5801a7D398351b8bE11C439e05C5B3259aec9B"}]',
         '{"name":"E","symbol":"WETH","decimals":18}'),
        ('[{"StableAssetId":"0"}]', '{"name":"tDOT","symbol":"tDOT"}'),  # no decimals -> drop
    ]
    df = spark.createDataFrame(rows, "key_args string, value string")
    got = {r.currency_id: (r.symbol, r.name, r.decimals)
           for r in BifrostGarParser().parse_gar(df).collect()}
    assert got['{"ForeignAsset":1234}'] == ("S", "N", 8)
    assert got['{"Token":"BNC"}'] == ("BNC", "Bifrost", 12)
    assert got['{"VSToken":"KSM"}'] == ("VSKSM", "Bifrost Voucher Slot Slot KSM", 12)
    assert got['{"Erc20":"0xAb5801a7D398351b8bE11C439e05C5B3259aec9B"}'][0] == "WETH"
    assert len(got) == 4  # the decimals-less row dropped

    gk = spark.range(1).select(
        AcalaGarParser.erc20_general_key(
            F.lit("0xAb5801a7D398351b8bE11C439e05C5B3259aec9B")
        ).alias("g")
    ).head().g
    assert gk == "0x02ab5801a7d398351b8be11c439e05c5b3259aec9b"


def test_gar_parser_shape_dispatch(spark):
    """The remaining chain shapes reduce to shared mechanisms — pin the
    per-chain configs: listen's nested-metadata gar (the extra
    'metadata' level, common_chainparser.js:135), calamari's
    IdToLocation xc (no xc-wrapper strip), parallel's IdType (strips),
    and interlay's ForeignAsset currency padding."""
    from pyspark.sql import functions as F  # noqa: F401

    from polkadot_etl_spark.plans.garparsers import (
        CalamariGarParser,
        InterlayGarParser,
        ListenGarParser,
        ParallelGarParser,
        get_gar_parser,
    )

    assert type(get_gar_parser("kintsugi")) is InterlayGarParser
    assert type(get_gar_parser("heiko")) is ParallelGarParser
    assert get_gar_parser("listen").gar_storage == "listenAssetsInfo"
    assert get_gar_parser("unknown-chain").parser_name == "Common"

    # listen: nested metadata level unwraps
    li = spark.createDataFrame(
        [('["7"]', '{"metadata":{"symbol":"LT","name":"Listen","decimals":12}}')],
        "key_args string, value string",
    )
    row = ListenGarParser().parse_gar(li).head()
    assert (row.symbol, row.name, row.decimals) == ("LT", "Listen", 12)

    # interlay: numeric ids pad to ForeignAsset currencies
    it = spark.createDataFrame(
        [('["3"]', '{"symbol":"IBTC","name":"interBTC","decimals":8}')],
        "key_args string, value string",
    )
    assert InterlayGarParser().parse_gar(it).head().currency_id == '{"ForeignAsset":"3"}'

    # calamari IdToLocation: symbol NOT stripped; parallel IdType: stripped
    gar = spark.createDataFrame(
        [('["9"]', '{"symbol":"xcKMA","name":"K","decimals":12}')],
        "key_args string, value string",
    )
    xc = spark.createDataFrame(
        [('["9"]', '{"v1":{"parents":1,"interior":{"X1":{"Parachain":2084}}}}')],
        "key_args string, value string",
    )
    cal = CalamariGarParser()
    assert cal.parse_xc_gar(xc, cal.parse_gar(gar)).head().symbol == "xcKMA"
    par = ParallelGarParser()
    assert par.parse_xc_gar(xc, par.parse_gar(gar)).head().symbol == "KMA"


def test_gar_longtail_dispatch_completeness(spark):
    """Every reference chain-parser file (gar/chainParsers/*.js minus the
    base class and the fork template) has a named dispatch entry, and
    the round-6 long-tail configs pin: robonomics is gar-only (no xc, no
    manual — local assets never register globally), shadow strips the
    xc wrapper, clover/origintrail are IdToLocation (no strip), and
    astar's symbol-keyed manual native row attaches to the
    system-properties seed while unseeded symbols NOT-FOUND-skip."""
    import pytest

    from polkadot_etl_spark.plans.garparsers import (
        _GAR_PARSERS,
        AstarGarParser,
        RobonomicsGarParser,
        ShadowGarParser,
        get_gar_parser,
    )

    # one dispatch name per reference parser file
    reference_files = {
        "acala", "astar", "bifrost", "calamari", "centrifuge", "clover",
        "hydra", "interlay", "listen", "mangatax", "moonbeam", "oak",
        "origintrail", "parallel", "phala", "robonomics", "shadow",
        "statemint",
    }
    assert reference_files <= set(_GAR_PARSERS), (
        reference_files - set(_GAR_PARSERS)
    )

    # robonomics: generic assets-pallet walk, nothing registers globally
    rb = get_gar_parser("robonomics")
    assert type(rb) is RobonomicsGarParser
    assert rb.xc_gar_pallet is None and rb.manual_registrations(spark) is None
    gar = spark.createDataFrame(
        [('["5"]', '{"symbol":"XRT","name":"Robonomics","decimals":9}')],
        "key_args string, value string",
    )
    row = rb.parse_gar(gar).head()
    assert (row.symbol, row.decimals) == ("XRT", 9)
    with pytest.raises(ValueError, match="no registration source"):
        rb.registrations(spark, gar)
    with pytest.raises(NotImplementedError):
        rb._xc_location(gar)

    # shadow strips the xc wrapper; astar/clover IdToLocation do not
    assert ShadowGarParser.xc_strip_wrapper is True
    assert AstarGarParser.xc_strip_wrapper is False
    assert get_gar_parser("clover").xc_strip_wrapper is False

    # astar manual native: ASTR attaches via the system-properties seed;
    # a manual symbol with no seed is dropped (NOT FOUND Skip)
    class TwoManual(AstarGarParser):
        def manual_registrations(self, sp):
            loc = '{"parents": 1, "interior": {"X1": [{"Parachain": 2006}]}}'
            return sp.createDataFrame(
                [("ASTR", loc), ("GHOST", loc)],
                "symbol string, multilocation string",
            )

    regs = TwoManual().registrations(spark, gar.limit(0)).collect()
    assert [(r.symbol, r.source, r.currency_id, r.decimals) for r in regs] == [
        ("ASTR", "manual", '{"Token":"ASTR"}', 18)
    ]


def test_shiden_manual_relay_byte_compat(spark):
    """DIVERGENCES['shiden-manual-relay']: by default the SDN manual row
    publishes under the chain's ACTUAL relay (kusama); with
    reference_byte_compat=True it reproduces the reference's published
    bytes (astar.js:32-38 carries network 'polkadot' — the documented
    copy-paste typo). On-chain rows are unaffected by the flag."""
    from polkadot_etl_spark.plans.garparsers import DIVERGENCES, get_gar_parser

    empty = spark.createDataFrame([], "key_args string, value string")

    corrected = get_gar_parser("shiden").registrations(spark, empty).collect()
    assert [(r.symbol, r.source, r.relay_chain) for r in corrected] == [
        ("SDN", "manual", "kusama")
    ]

    compat = (
        get_gar_parser("shiden", reference_byte_compat=True)
        .registrations(spark, empty)
        .collect()
    )
    assert [(r.symbol, r.source, r.relay_chain) for r in compat] == [
        ("SDN", "manual", "polkadot")
    ]

    # the divergence registry names the restore knob for this entry
    assert "reference_byte_compat=True" in DIVERGENCES["shiden-manual-relay"]["restore"]


def test_xtokens_augment_rules(spark):
    """processOutgoingXTokens parity (common_chainparser.js:1093-1207):
    exactly-one-TransferredMultiAssets gate, positional zip of the
    params currencies against the event MultiAssets, concrete-fungible
    only (here/null ids drop), unknown-currency gate, and the
    source='augment' publish."""
    from polkadot_etl_spark.plans.garparsers import DIVERGENCES, CloverGarParser

    gar = spark.createDataFrame(
        [
            ('["3"]', '{"symbol":"CL3","name":"Clover 3","decimals":10}'),
            ('["6"]', '{"symbol":"CL6","name":"Clover 6","decimals":10}'),
        ],
        "key_args string, value string",
    )
    x2 = (
        '{"parents":1,"interior":{"X2":[{"Parachain":%d},'
        '{"GeneralIndex":%d}]}}'
    )
    conc = '{"id":{"concrete":%s},"fun":{"fungible":10}}'
    ev = (
        '{"section":"xTokens","method":"TransferredMultiAssets",'
        '"data":["s",[%s],{},{}]}'
    )
    rows = [
        # transfer: links currency 3 to its concrete location
        ("xTokens", "transfer", '{"currency_id":3}',
         "[%s]" % (ev % (conc % (x2 % (2293, 53))))),
        # multicurrencies: [6, 999] zip [concrete, here-null]; 999 is
        # unknown AND the here-asset is not actionable -> only 6 links
        ("xTokens", "transferMulticurrencies",
         '{"currencies":[[6,100],[999,5]]}',
         "[%s]" % (ev % (
             conc % (x2 % (2296, 56))
             + ',{"id":{"null":null},"fun":{"fungible":1}}'
         ))),
        # two TransferredMultiAssets events -> whole extrinsic skips
        ("xTokens", "transfer", '{"currency_id":6}',
         "[%s,%s]" % (ev % "", ev % "")),
        # non-xTokens call -> ignored
        ("balances", "transfer", '{"currency_id":3}', "[]"),
    ]
    ext = spark.createDataFrame(
        rows, "section string, method string, params string, events string"
    )
    p = CloverGarParser()
    out = sorted(
        (r.currency_id, r.symbol, r.multilocation, r.source)
        for r in p.augment_from_xtokens(ext, p.parse_gar(gar)).collect()
    )
    assert out == [
        ('{"Token":"3"}', "CL3", x2 % (2293, 53), "augment"),
        ('{"Token":"6"}', "CL6", x2 % (2296, 56), "augment"),
    ]

    # the divergence registry records the multicurrencies row above as
    # inferred, where the reference's arm never executes
    assert DIVERGENCES["xtokens-multicurrencies"]["ours"].startswith("inferred")


def test_xtokens_augment_zip_alignment_matrix(spark):
    """Positional-zip alignment under every slot-validity combination in
    ONE multicurrencies extrinsic: a slot links iff BOTH its currency
    parses to a known id AND its event asset is concrete fungible —
    and invalid slots never shift later pairs (the reference keeps
    `false` placeholders for exactly this reason,
    common_chainparser.js:1148-1203)."""
    from polkadot_etl_spark.plans.garparsers import CloverGarParser

    gar = spark.createDataFrame(
        [(f'["{i}"]', '{"symbol":"CL%d","name":"C","decimals":10}' % i)
         for i in (1, 2, 3, 4, 5)],
        "key_args string, value string",
    )
    x2 = ('{"parents":1,"interior":{"X2":[{"Parachain":%d},'
          '{"GeneralIndex":%d}]}}')
    conc = '{"id":{"concrete":%s},"fun":{"fungible":9}}'
    # slots:           currency side          asset side           links?
    # 0: known 1       concrete (2401,1)                           yes
    # 1: UNKNOWN 99    concrete (2402,2)                           no (gate)
    # 2: known 2       here/null id                                no (native)
    # 3: known {"Token":"3"}  concrete (2404,4)                    yes (object form)
    # 4: null currency concrete (2405,5)                           no
    # 5: known 4       NON-fungible (no fun.fungible)              no
    # 6: known 5       MISSING asset slot (shorter array)          no
    currencies = '[[1,9],[99,9],[2,9],[{"Token":"3"},9],[null,9],[4,9],[5,9]]'
    assets = "[%s]" % ",".join([
        conc % (x2 % (2401, 1)),
        conc % (x2 % (2402, 2)),
        '{"id":{"null":null},"fun":{"fungible":1}}',
        conc % (x2 % (2404, 4)),
        conc % (x2 % (2405, 5)),
        '{"id":{"concrete":%s},"fun":{"nonFungible":1}}' % (x2 % (2406, 6)),
    ])
    ev = ('{"section":"xTokens","method":"TransferredMultiAssets",'
          '"data":["s",%s,{},{}]}' % assets)
    ext = spark.createDataFrame(
        [("xTokens", "transferMulticurrencies",
          '{"currencies":%s}' % currencies, "[%s]" % ev)],
        "section string, method string, params string, events string",
    )
    p = CloverGarParser()
    got = sorted(
        (r.currency_id, r.multilocation)
        for r in p.augment_from_xtokens(ext, p.parse_gar(gar)).collect()
    )
    assert got == [
        ('{"Token":"1"}', x2 % (2401, 1)),
        ('{"Token":"3"}', x2 % (2404, 4)),
    ]
