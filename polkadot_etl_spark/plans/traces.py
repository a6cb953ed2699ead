"""Storage-trace analytics: the LAG change-detection views the reference
ships as product SQL (docs/AccountAnalytics.md:34-140 — reservereference0 /
accountreference0): flag rows where an address's reserved balance or
consumers/providers/sufficients counters changed, and link each change to
the previous change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def account_change_events(traces: DataFrame) -> DataFrame:
    """W1: per-address ordered diff detection over System.Account traces.

    Ordering is (block_number, intra-block trace index) where the index is
    split out of trace_id "{bn}-{idx}" — exactly the published views'
    ORDER BY. Two LAG levels: previous observation (change flag), then
    previous *change* (chain of custody), via a second window over changed
    rows only.
    """
    t = (
        traces.where((F.col("section") == "System") & (F.col("storage") == "Account"))
        .withColumn("t_index", F.split(F.col("trace_id"), "-").getItem(1).cast("int"))
        .withColumn("consumers", F.get_json_object("pv", "$.consumers").cast("int"))
        .withColumn("providers", F.get_json_object("pv", "$.providers").cast("int"))
        .withColumn("sufficients", F.get_json_object("pv", "$.sufficients").cast("int"))
    )
    w = Window.partitionBy("address_pubkey").orderBy(
        F.col("block_number").asc(), F.col("t_index").asc()
    )
    lagged = t.select(
        "address_pubkey",
        "address_ss58",
        "trace_id",
        "block_number",
        "t_index",
        "ts",
        "reserved",
        "frozen",
        "consumers",
        "providers",
        "sufficients",
        F.lag("reserved").over(w).alias("prev_reserved"),
        F.lag("frozen").over(w).alias("prev_frozen"),
        F.lag("consumers").over(w).alias("prev_consumers"),
        F.lag("providers").over(w).alias("prev_providers"),
        F.lag("sufficients").over(w).alias("prev_sufficients"),
    )
    changed = lagged.withColumn(
        "is_change",
        F.col("prev_reserved").isNull()
        | (F.col("reserved") != F.col("prev_reserved"))
        | (F.col("frozen") != F.col("prev_frozen"))
        | (F.col("consumers") != F.col("prev_consumers"))
        | (F.col("providers") != F.col("prev_providers"))
        | (F.col("sufficients") != F.col("prev_sufficients")),
    ).where(F.col("is_change"))
    w2 = Window.partitionBy("address_pubkey").orderBy(
        F.col("block_number").asc(), F.col("t_index").asc()
    )
    return changed.withColumn("prev_change_trace_id", F.lag("trace_id").over(w2)).drop(
        "is_change"
    )


# ---------------------------------------------------------------------------
# F4: raw storage-trace decode (reference substrateetl.js:6605-6775
# parse_trace): match the 32-byte twox_128 key prefix → (pallet, storage),
# then decode the value by type. Numeric fast paths are pure native
# column expressions (LE→BE hex reversal + conv); only arbitrary-type
# SCALE decode would need a UDF, and that's keyed off the same dim.
# ---------------------------------------------------------------------------


def _le2be(e: str) -> str:
    """SQL expr: little-endian hex string → big-endian (byte reversal)."""
    return (
        f"array_join(reverse(transform(sequence(1, length({e}) div 2),"
        f" i -> substr({e}, 2*i-1, 2))), '')"
    )


def _u32_at(v: str, byte_off: int):
    """LE u32 at byte offset inside hex string v (no 0x) → long.

    The reversal stays the interpreted _le2be on purpose: a higher-order
    function keeps parse_traces' decode Project out of whole-stage
    codegen. Reversed natively (a concat of four substrings), that
    Project fused into one 18 KB processNext, past HotSpot's 8,000-byte
    JIT limit, and cluster_trace_reference ran 15-20% slower at sf0.1
    (README pitfall "Higher-order functions are interpreted")."""
    return F.expr(f"cast(conv({_le2be(f'substr({v}, {2*byte_off+1}, 8)')}, 16, 10) as bigint)")


def _u128_be(v: str, byte_off: int) -> str:
    """SQL expr: the LE u128 at byte offset inside hex string v, as
    big-endian hex."""
    return _le2be(f"substr({v}, {2 * byte_off + 1}, 32)")


def _u128_num(be: str):
    """Big-endian u128 hex column → decimal(38,0), NULL if > 38 digits
    (the exact-string dual column is u128_raw, full-range).

    Routed through the exact limb string + try_cast: the direct
    hi*2^64+lo decimal arithmetic THROWS under ANSI mode (Spark 4
    default) when a legal u128 exceeds 10^38 — one hot account would
    fail the whole task instead of NULLing one column."""
    return u128_raw(be).try_cast("decimal(38,0)")


def u128_raw(be: str):
    """Big-endian u128 hex column → EXACT base-10 string over the FULL
    u128 range (the *_raw STRING dual columns of schema/balances.json:54
    — kept as strings precisely because u128 max ≈ 3.4e38 overflows the
    38-digit NUMERIC/decimal column)."""
    from polkadot_etl_spark.plans.feeds import _u128_hex_to_str

    return F.expr(_u128_hex_to_str(be))


def storage_keys_dim(spark, entries: list[tuple[str, str, str]]) -> DataFrame:
    """Broadcastable (prefix → pallet, storage, value_type) dim computed
    from pallet/storage names with the real twox_128 hasher — the
    reference's in-memory storageKeys map (substrateetl.js:6605)."""
    from polkadot_etl_spark.functions.scalars import twox_128

    rows = [
        (
            (twox_128(p.encode()) + twox_128(s.encode())).lower(),
            p,
            s,
            vt,
        )
        for p, s, vt in entries
    ]
    return spark.createDataFrame(
        rows, "prefix: string, section: string, storage: string, value_type: string"
    )


def parse_traces(traces: DataFrame, keys_dim: DataFrame) -> DataFrame:
    """Decode raw (k, v) trace rows: prefix-join the broadcast dim, then
    AccountInfo's fixed SCALE layout (nonce/consumers/providers/
    sufficients u32 ×4, then free/reserved/frozen u128) decodes with
    native expressions. Unknown prefixes keep raw k/v (section null) —
    the same unmatched-row behavior as the reference's parse_trace.
    """
    t = traces.withColumn("__k", F.lower(F.regexp_replace("k", "^0x", ""))).withColumn(
        "__v", F.lower(F.regexp_replace("v", "^0x", ""))
    )
    j = t.join(
        F.broadcast(keys_dim), F.substring("__k", 1, 64) == F.col("prefix"), "left"
    )
    is_account = (F.col("section") == "System") & (F.col("storage") == "Account")
    # The u128 fields land as big-endian hex attributes first: each
    # exact decode reads its input ten times, and the byte reversal is
    # a higher-order function, evaluated (interpreted) per reference.
    # The seam holds because the multi-referenced attributes are not
    # cheap to recompute, so CollapseProject keeps both projections.
    u128s = ("free", "reserved", "frozen")
    j = j.select(
        "*",
        *[F.expr(_u128_be("__v", 16 * (i + 1))).alias(f"__{f}_be") for i, f in enumerate(u128s)],
    )
    return j.select(
        *traces.columns,
        "section",
        "storage",
        "value_type",
        # trailing key bytes past the 2×twox128 prefix (+ map-key hasher):
        # for System.Account (blake2_128concat) the last 64 hex = pubkey
        F.when(
            is_account & (F.length("__k") >= 64 + 32 + 64),
            F.concat(F.lit("0x"), F.expr("substr(__k, length(__k) - 63, 64)")),
        ).alias("address_pubkey"),
        F.when(is_account, _u32_at("__v", 0)).alias("nonce"),
        F.when(is_account, _u32_at("__v", 4)).alias("consumers"),
        F.when(is_account, _u32_at("__v", 8)).alias("providers"),
        F.when(is_account, _u32_at("__v", 12)).alias("sufficients"),
        *[F.when(is_account, _u128_num(f"__{f}_be")).alias(f) for f in u128s],
        # exact-string duals (schema/balances.json free_raw/... rationale:
        # full u128 doesn't fit the 38-digit numeric column)
        *[F.when(is_account, u128_raw(f"__{f}_be")).alias(f"{f}_raw") for f in u128s],
    )
