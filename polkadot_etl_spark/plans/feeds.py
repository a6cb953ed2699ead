"""Account feed surfaces: staking rewards, crowdloan contributions, and
the published identity table.

Reference behavior reproduced:
- feedreward (chainparser.js:4086-4117 prepareFeedReward; indexer.js:
  3940-3960 processRawFeedRewards; :3962-3999 decorateFeedReward):
  staking(Rewarded)/staking(Slashed) events become reward rows; Slashed is
  negated; the era attaches from the most recent staking(PayoutStarted)
  event seen earlier in the same extrinsic (a forward-fill, not a join);
  only value > 0 rows are published (indexer.js:3953 — negated slashes are
  therefore dropped from the feed).
- feedcrowdloan (chainparser.js:4033-4083): crowdloan(Contributed) →
  (account, paraID, decimalized amount); crowdloan(MemoUpdated) → memo.
- identity (identityManager.js:60-185): per-relay registration info JSON →
  name/fullname = info.display, judgement_verified = any judgement status
  in {Reasonable, KnownGood}; sub-identities inherit the parent's
  name/info/judgements with fullname = "{parent_name}/{subname}".

Scale shape: the reward era forward-fill is one window over
(extrinsic_id) ordered by event index — the shuffle key is the same
extrinsic_id every downstream join uses. Identity parent decoration is a
self-join on parent pubkey; identity cardinality is ~1e5 rows on any real
chain, so the parent side broadcasts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

_VERIFIED_STATUS = ("Reasonable", "KnownGood")  # identityManager.js:88


def _u128_hex_to_str(hex_body: str) -> str:
    """SQL text: the exact base-10 digit string of ``hex_body``, the SQL
    text of an unprefixed big-endian hex string of up to 32 digits (a
    FULL-RANGE u128); NULL when it is wider, because lpad TRUNCATES a
    longer string and would silently decode a prefix.  hi*2^64+lo does
    not fit decimal(38,0) (u128 max ≈ 3.4e38 > 10^38-1), so assemble in
    base-10^12 limbs — every intermediate stays < 10^31 and the result
    is exact up to 2^128-1.  Identity used: 2^64 = 18446744*10^12 +
    73709551616.

    This is the one u128 decode.  It is SQL text because a cold build
    of the snapshot plans makes several of these trees, and each
    Column-API node costs py4j round trips (README pitfall "Large
    expression trees cost py4j, not JVM"); the text parses to the same
    Catalyst expression in one call.

    Codegen note (r11 verdict: janino 64 KB): expressions under a
    When branch are excluded from subexpression elimination, so every
    internal reuse here multiplies the caller's generated code. The
    leading-zero strip is therefore ONE regexp over the concatenated
    digits instead of a high==0 branch pair — high's decimal string
    never carries a leading zero when positive, and when high is 0 the
    strip reduces '0' + the zero-padded low limb to the bare digits,
    exactly the branch's cast-through-decimal(12,0) result. This halves
    the expansion factor (~10 -> ~5 copies of the padded body per call;
    each copy reads the input twice, in the width guard and the lpad)."""
    b = f"CASE WHEN length({hex_body}) <= 32 THEN lpad({hex_body}, 32, '0') END"
    hi = f"CAST(conv(substring({b}, 1, 16), 16, 10) AS DECIMAL(20,0))"
    lo = f"CAST(conv(substring({b}, 17, 16), 16, 10) AS DECIMAL(20,0))"
    # t = hi*73709551616 + lo  ≤ 1.36e30, exact in decimal(31,0)
    t = f"CAST({hi} * 73709551616BD + {lo} AS DECIMAL(31,0))"
    # split t into base-10^12 digits by string slicing (no decimal division,
    # whose Spark result scale rules would round)
    t_str = f"lpad(CAST({t} AS STRING), 31, '0')"
    t_hi = f"CAST(substring({t_str}, 1, 19) AS DECIMAL(20,0))"
    # high = hi*18446744 + carry  ≤ 3.41e26, exact in decimal(27,0)
    high = f"CAST({hi} * 18446744BD + {t_hi} AS DECIMAL(27,0))"
    return (
        f"regexp_replace(concat(CAST({high} AS STRING), substring({t_str}, 20, 12)),"
        " '^0+(?=[0-9])', '')"
    )


def _u128_from_maybe_hex(c: str) -> str:
    """SQL text: exact decimal(38,0) from the SQL text ``c`` of a decimal
    string OR a 0x-hex string (EVM chains emit hex balances,
    moonbeam.js:888 dechexToInt) — via the full-range limb string so
    values past 2^63 stay exact.  The published column contract is
    decimal(38,0) (BigQuery NUMERIC twin), so the astronomically-unlikely
    balances ≥ 10^38 (> total issuance of any real chain by ~19 orders
    of magnitude) overflow to NULL here, as does hex wider than u128;
    callers needing the untruncated value use _u128_hex_to_str
    directly.

    try_cast, not cast: under ANSI mode (Spark 4 default) a plain cast
    of a legal u128 ≥ 10^38 THROWS and fails the task; the published
    column contract is NULL there (callers wanting the exact value use
    _u128_hex_to_str / the *_raw string duals)."""
    from_hex = _u128_hex_to_str(f"regexp_replace({c}, '^0x', '')")
    return (
        f"CASE WHEN startswith({c}, '0x') THEN try_cast({from_hex} AS DECIMAL(38,0))"
        f" ELSE try_cast({c} AS DECIMAL(38,0)) END"
    )


def _dechex_int(c: Column) -> Column:
    """INT from a decimal string (commas allowed: '1,234', the toHuman
    form) OR a 0x-hex string — the reference's dechexToInt
    (paraTool.js; xcmgarTool.dechexToInt).  NULL, never a task failure,
    for anything that is not an integer or is outside INT range, like
    the decode helpers above: under ANSI mode (Spark 4 default) conv
    THROWS on 64-bit overflow and a plain cast THROWS out of range, so
    the hex arm keeps at most 8 significant digits before conv (conv of
    '' is NULL) and both arms try_cast straight to INT."""
    hex_digits = F.regexp_extract(c, "^0x0*([0-9a-fA-F]{1,8})$", 1)
    return F.when(
        c.startswith("0x"), F.conv(hex_digits, 16, 10).try_cast("int")
    ).otherwise(F.regexp_replace(c, ",", "").try_cast("int"))


def reward_feed(
    events: DataFrame,
    native_decimals: int = 10,
    order_col: str = "event_id",
    include_slashes: bool = False,
    section: str = "staking",
    rewarded_methods: tuple[str, ...] = ("Rewarded", "Slashed"),
    payout_method: str | None = "PayoutStarted",
    account_index: int = 0,
    amount_index: int = 1,
    era_data_index: int | None = None,
    contract_index: int | None = None,
) -> DataFrame:
    """{section}(Rewarded|Slashed) → feedreward rows with PayoutStarted
    era forward-fill. ``order_col`` must order events within an extrinsic
    (the reference walks them in feed order). Per-chain parsers override
    the pallet config and data layout — moonbeam's
    parachainStaking(Rewarded) with hex balances and no era events
    (moonbeam.js:867-902); astar's dappsStaking(Reward) carrying the era
    INLINE at data[2] and the amount at data[3], with the staked smart
    contract at data[1] (astar.js:889-920).

    When the era is inline (``era_data_index``) or absent (no
    ``payout_method``) the forward-fill window — and its shuffle — is
    skipped entirely; the fill only exists for relay-style chains where
    era arrives as a separate PayoutStarted event."""
    arr = F.from_json(F.col("data"), T.ArrayType(T.StringType()))
    in_section = F.col("section") == section
    is_reward = in_section & F.col("method").isin(*rewarded_methods)
    need_fill = payout_method is not None and era_data_index is None
    is_payout = (
        in_section & (F.col("method") == payout_method)
        if need_fill
        else F.lit(False)
    )
    base = events.where(is_reward | is_payout).withColumn("__d", arr)

    if era_data_index is not None:
        era_raw = F.when(is_reward, _dechex_int(F.get(F.col("__d"), era_data_index)))
    else:
        era_raw = F.when(is_payout, F.get(F.col("__d"), 0).cast("int"))
    contract = (
        F.coalesce(
            F.get_json_object(F.get(F.col("__d"), contract_index), "$.evm"),
            F.get_json_object(F.get(F.col("__d"), contract_index), "$.wasm"),
            F.get(F.col("__d"), contract_index),
        )
        if contract_index is not None
        else F.lit(None).cast("string")
    )
    parsed = base.select(
        "event_id",
        "extrinsic_id",
        "section",
        "method",
        "block_number",
        "block_time",
        F.col(order_col).alias("__ord"),
        era_raw.alias("__era_raw"),
        F.when(is_reward, F.get(F.col("__d"), account_index)).alias("account"),
        F.when(is_reward, F.expr(_u128_from_maybe_hex(f"get(__d, {amount_index})"))).alias("__raw"),
        F.when(is_reward, contract).alias("smart_contract"),
        F.when(F.col("method") == "Slashed", F.lit(-1)).otherwise(F.lit(1)).alias("__sign"),
    )
    if need_fill:
        # era forward-fill: last PayoutStarted era seen at-or-before this
        # event within the same extrinsic (indexer.js:3945-3951)
        w = (
            Window.partitionBy("extrinsic_id")
            .orderBy("__ord")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = parsed.withColumn("era", F.last("__era_raw", ignorenulls=True).over(w))
    else:
        filled = parsed.withColumn("era", F.col("__era_raw"))
    raw_signed = (F.col("__raw") * F.col("__sign")).cast("decimal(38,0)")
    out = (
        filled.where(F.col("account").isNotNull())
        .select(
            "event_id",
            "extrinsic_id",
            "section",
            "method",
            "account",
            F.col("account").alias("account_pubkey"),
            "block_number",
            "block_time",
            "era",
            "smart_contract",
            (raw_signed.cast("double") / float(10**native_decimals)).alias("amount"),
            raw_signed.alias("raw_amount"),
        )
    )
    if not include_slashes:
        # the published feed keeps strictly-positive values (indexer.js:3953)
        out = out.where(F.col("amount") > 0)
    return out


def crowdloan_feed(events: DataFrame, native_decimals: int = 10) -> DataFrame:
    """crowdloan(Contributed) → contribution rows; crowdloan(MemoUpdated)
    → memo rows (both kinds in one frame, memo NULL for contributions,
    amount NULL for memos — chainparser.js:4033-4083)."""
    arr = F.from_json(F.col("data"), T.ArrayType(T.StringType()))
    is_cl = F.col("section") == "crowdloan"
    contributed = is_cl & (F.col("method") == "Contributed")
    memo_upd = is_cl & (F.col("method") == "MemoUpdated")
    e = events.where(contributed | memo_upd).withColumn("__d", arr)
    raw = F.when(F.col("method") == "Contributed", F.get(F.col("__d"), 2).try_cast("decimal(38,0)"))
    return e.select(
        "event_id",
        "extrinsic_id",
        "section",
        "method",
        F.get(F.col("__d"), 0).alias("account"),
        F.get(F.col("__d"), 1).cast("int").alias("para_id"),
        (raw.cast("double") / float(10**native_decimals)).alias("amount"),
        raw.alias("raw_amount"),
        F.when(F.col("method") == "MemoUpdated", F.get(F.col("__d"), 2)).alias("memo"),
        "block_number",
        "block_time",
    )


def _relay_identity(
    registrations: DataFrame, sub_accounts: DataFrame, relay: str
) -> DataFrame:
    """One relay's identity columns (pubkey, parent, is_subidentity,
    fullname, name, subname, info, judgements, judgement_verified)."""
    judgements_t = T.ArrayType(T.StructType([T.StructField("status", T.StringType())]))
    regs = registrations.where(F.col("relay") == relay).select(
        "pubkey",
        F.col("info"),
        F.col("judgements"),
        F.get_json_object("info", "$.display").alias("name"),
        F.exists(
            F.coalesce(F.from_json("judgements", judgements_t), F.array()),
            lambda j: j["status"].isin(*_VERIFIED_STATUS),
        ).alias("judgement_verified"),
    )
    base = regs.select(
        "pubkey",
        F.lit(None).cast("string").alias("parent"),
        F.lit(None).cast("boolean").alias("is_subidentity"),
        F.col("name").alias("fullname"),  # fullname = display (js:115)
        "name",
        F.lit(None).cast("string").alias("subname"),
        "info",
        "judgements",
        "judgement_verified",
    )
    subs = sub_accounts.where(F.col("relay") == relay)
    parent = F.broadcast(
        regs.select(
            F.col("pubkey").alias("__ppk"),
            F.col("name").alias("__pname"),
            F.col("info").alias("__pinfo"),
            F.col("judgements").alias("__pjudge"),
            F.col("judgement_verified").alias("__pverified"),
        )
    )
    sub_rows = (
        subs.join(parent, subs.parent == parent.__ppk, "left")
        .select(
            "pubkey",
            F.col("parent"),
            F.lit(True).alias("is_subidentity"),
            # fullname = "{parent_name}/{subname}", "/{subname}" when the
            # parent has no display name (identityManager.js:160,172)
            F.concat(F.coalesce(F.col("__pname"), F.lit("")), F.lit("/"), F.col("subname")).alias(
                "fullname"
            ),
            F.col("__pname").alias("name"),
            "subname",
            F.col("__pinfo").alias("info"),
            F.col("__pjudge").alias("judgements"),
            F.col("__pverified").alias("judgement_verified"),
        )
    )
    return base.unionByName(sub_rows)


def identity_table(registrations: DataFrame, sub_accounts: DataFrame) -> DataFrame:
    """The published identity table (schema/identity.json): polkadot_* and
    kusama_* column pairs full-outer-joined on pubkey, with both ss58
    encodings of every pubkey (identityManager.js:60-185).

    Inputs: registrations(pubkey, relay, info JSON, judgements JSON),
    sub_accounts(pubkey, relay, parent, subname) with relay ∈
    {'polkadot', 'kusama'}."""
    from polkadot_etl_spark.functions.udfs import u_get_address

    def wide(relay: str) -> DataFrame:
        r = _relay_identity(registrations, sub_accounts, relay)
        return r.select(
            F.col("pubkey").alias(f"__{relay}_pk"),
            *[
                F.col(c).alias(f"{relay}_{c}")
                for c in (
                    "parent",
                    "is_subidentity",
                    "fullname",
                    "name",
                    "subname",
                    "info",
                    "judgements",
                    "judgement_verified",
                )
            ],
        )

    p, k = wide("polkadot"), wide("kusama")
    j = p.join(k, p.__polkadot_pk == k.__kusama_pk, "full_outer")
    pubkey = F.coalesce("__polkadot_pk", "__kusama_pk")
    return j.select(
        pubkey.alias("pubkey"),
        u_get_address(0)(pubkey).alias("polkadot_ss58"),
        u_get_address(2)(pubkey).alias("kusama_ss58"),
        *[f"polkadot_{c}" for c in ("parent", "is_subidentity", "fullname", "name", "subname", "info", "judgements", "judgement_verified")],
        *[f"kusama_{c}" for c in ("parent", "is_subidentity", "fullname", "name", "subname", "info", "judgements", "judgement_verified")],
    )


def users_table(accounts: DataFrame, ss58_prefix: int = 0) -> DataFrame:
    """The published users table (schema/substrateetl/users.json):
    ss58 ↔ EVM address unification per pubkey. The H160 is the pubkey's
    first 20 bytes (polkadot-js addressToEvm, paraTool.js:517-519) — a
    native substring, no Python; the ss58 encoding is the Arrow-batched
    base58 codec. Input needs an ``account_pubkey`` column; every other
    column is derived."""
    from polkadot_etl_spark.functions.udfs import u_get_address

    pk = F.col("account_pubkey")
    return accounts.select(
        pk.alias("id"),
        u_get_address(ss58_prefix)(pk).alias("ss58_address"),
        F.concat(F.lit("0x"), F.substring(pk, 3, 40)).alias("evm_address"),
        pk.alias("account_pubkey"),
    )


def users_tags_table(transfers: DataFrame, labels: DataFrame) -> DataFrame:
    """The full_users attribution table (``dump_users_tags``,
    substrateetl.js:603-637): who funded every account, and from where.

    Stages (exactly the reference's CTE chain, Spark-first):

    1. pair rollup — transfers grouped by (from_pub_key, to_pub_key):
       exact-decimal amount sum, transfer count, min extrinsic_id, min ts.
       NOTE (reference parity, deliberate): the reference's pair CTE
       takes ``min(extrinsic_id)`` (a LEXICOGRAPHIC string min) and
       ``min(block_time)`` INDEPENDENTLY, so the reported
       first_transfer_extrinsic_id can belong to a different transfer
       than the first_transfer_ts and "100-1" sorts before "99-1" —
       mirrored as-is because the published full_users contract is
       defined by that SQL;
    2. label decoration — the known-accounts dim (exchanges/knownpubs)
       joins onto the SENDER. The dim is filtered to non-Scam accounts
       BEFORE the join (the reference expresses this as a WHERE after its
       LEFT JOIN, which silently collapses it to an inner join and
       defeats its own ifNull(label,'other'); filtering the dim pre-join
       preserves the published intent — unlabeled senders attribute as
       'other'). Dim-sized → broadcast, the fact never reshuffles;
    3. first attribution — the reference's min(concat(ts, '_',
       extrinsic_id, '_', sender, '_', label)) trick, with the timestamp
       zero-padded so string order == numeric order. The codec is
       hardened for real data: the free-text label goes LAST and the
       split is limited to 4 parts, so labels containing '_' round-trip
       intact, and a NULL ts/extrinsic_id nulls the whole attribution
       (null-propagating concat, matching SQL ``||``) instead of
       silently shifting the split indexes;
    4. user rollup — sorted distinct label array, decimal amount /
       count sums, and the attribution key split back into its four
       first_transfer_* fields.

    Transfers needs (from_pub_key, to_pub_key, amount, extrinsic_id, ts);
    labels needs (address_pubkey, address_label, account_type) — the
    schema/knownpubs.json contract."""
    pairs = transfers.groupBy("from_pub_key", "to_pub_key").agg(
        F.sum(F.col("amount").cast("decimal(38,10)")).alias("amount"),
        F.count(F.lit(1)).alias("transfer_cnt"),
        F.min("extrinsic_id").alias("extrinsic_id"),
        F.min("ts").alias("ts"),
    )
    dim = labels.where(F.col("account_type") != "Scams").select(
        F.col("address_pubkey").alias("from_pub_key"),
        F.col("address_label").alias("known_label"),
    )
    outgoing = pairs.join(F.broadcast(dim), "from_pub_key", "left").select(
        F.col("to_pub_key").alias("user_pubkey"),
        F.coalesce(F.col("known_label"), F.lit("other")).alias("known_label"),
        "from_pub_key",
        "extrinsic_id",
        "transfer_cnt",
        "amount",
        "ts",
    )
    # F.concat (NOT concat_ws): concat_ws skips NULL fields, which would
    # silently shift every split index; concat nulls the whole key like
    # the SQL || operator
    attribution = F.concat(
        F.lpad(F.unix_timestamp("ts").cast("string"), 20, "0"),
        F.lit("_"),
        F.col("extrinsic_id"),
        F.lit("_"),
        F.col("from_pub_key"),
        F.lit("_"),
        F.col("known_label"),
    )
    rolled = outgoing.groupBy("user_pubkey").agg(
        # serialized (not a raw array) so the driver's value-hash and the
        # DuckDB oracle canonicalize identically
        F.array_join(F.sort_array(F.collect_set("known_label")), ",").alias(
            "known_labels"
        ),
        F.sum("amount").alias("amount"),
        F.sum("transfer_cnt").alias("transfer_cnt"),
        F.min(attribution).alias("attribution"),
    )
    # limit=4: the free-text label is the LAST field, so labels that
    # contain '_' (knownpubs labels are arbitrary text) survive intact
    part = F.split(F.col("attribution"), "_", 4)
    return rolled.select(
        "user_pubkey",
        "known_labels",
        F.col("amount").cast("string").cast("double").alias("amount"),
        "transfer_cnt",
        part.getItem(0).cast("bigint").cast("string").alias("first_transfer_ts"),
        part.getItem(1).alias("first_transfer_extrinsic_id"),
        part.getItem(2).alias("first_transfer_sender_pub_key"),
        part.getItem(3).alias("first_transfer"),
    )
