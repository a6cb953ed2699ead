"""WASM/ink! contract-call decode (SURVEY §2.10 F6 — reference
substrate/substrateetl.js:2097-2140 decodeWASMContractsCall).

The reference resolves the contract's code hash to uploaded ink!
metadata, matches the 4-byte message selector, and SCALE-decodes the
arguments (polkadot.js ContractPromise.abi.decodeMessage). Here the
registry carries the declared argument types and the arguments are
SCALE-decoded by functions/scale.py — a from-spec pure-Python codec
covering every primitive ink type (uN/iN, bool, AccountId, Vec<u8>,
String, Compact<T>, Option<T>, fixed arrays). Only compound custom
types (user structs/enums), which genuinely require the uploaded ink
metadata, decode when their definitions are registered in a
functions.scale TypeRegistry; UNREGISTERED ones remain behind
NotImplementedError.
"""

from __future__ import annotations

from dataclasses import dataclass

from polkadot_etl_spark.functions.scale import decode_args


@dataclass(frozen=True)
class InkMessage:
    label: str
    selector: str  # 0x + 4-byte hex
    arg_types: tuple[str, ...] = ()


class ContractRegistry:
    """code_hash → declared messages (the uploaded-metadata store).

    ``types`` carries compound custom type definitions (functions.scale
    TypeRegistry — the uploaded ink-metadata equivalent): messages whose
    args use registered structs/enums/tuples decode through the Arrow
    tier instead of NULLing out; unregistered compound types remain the
    declared boundary."""

    def __init__(self, types=None) -> None:
        self._by_hash: dict[str, dict[str, InkMessage]] = {}
        self._types = types

    def register(self, code_hash: str, messages: list[InkMessage]) -> None:
        self._by_hash[code_hash.lower()] = {m.selector.lower(): m for m in messages}

    def known_hashes(self) -> list[str]:
        return sorted(self._by_hash)

    def messages(self, code_hash: str) -> dict[str, InkMessage]:
        """selector → message for one registered code hash."""
        return self._by_hash.get(code_hash.lower(), {})

    def decode_call(self, code_hash: str, data_hex: str) -> dict:
        """Match the selector of a contracts.call data payload and
        SCALE-decode the declared arguments (substrateetl.js:2104-2119).
        Compound arg types decode when registered in the type registry;
        unregistered ones raise NotImplementedError (the uploaded-ink-
        metadata boundary)."""
        data = data_hex[2:] if data_hex.startswith("0x") else data_hex
        selector = "0x" + data[:8].lower()
        msgs = self._by_hash.get(code_hash.lower(), {})
        m = msgs.get(selector)
        if m is None:
            return {"selector": selector, "label": None, "decoded": False}
        values = decode_args(m.arg_types, bytes.fromhex(data[8:]), types=self._types)
        return {
            "selector": selector,
            "label": m.label,
            "decoded": True,
            "args": dict(zip([f"arg{i}" for i in range(len(values))], values)),
        }


# ---------------------------------------------------------------------------
# The published contracts silver family (schema/substrateetl/contracts/
# {contracts,contractscode,contractscall}.json; build logic
# substrateetl.js:2520-2740 dump_contracts).
# ---------------------------------------------------------------------------


def _dechex_str(c: str) -> str:
    """SQL text: exact integer string from the SQL text ``c`` of a
    decimal or 0x-hex string (the reference's dechexToIntStr on
    gas/storage limits).  Hex inputs route through the base-10^12 limb
    assembly so the FULL u128 range is exact (hi*2^64+lo cast to
    decimal(38,0) would NULL out values ≥ 10^38); hex wider than u128
    is NULL.  try_cast: ANSI mode (Spark 4 default) would otherwise
    THROW on a decimal string past 38 digits instead of yielding NULL."""
    from polkadot_etl_spark.plans.feeds import _u128_hex_to_str

    from_hex = _u128_hex_to_str(f"regexp_replace({c}, '^0x', '')")
    return (
        f"CASE WHEN startswith({c}, '0x') THEN {from_hex}"
        f" ELSE CAST(try_cast({c} AS DECIMAL(38,0)) AS STRING) END"
    )


def contractscode_table(events, extrinsics):
    """contracts(CodeStored) → one row per stored code hash with the
    storer = the extrinsic's signer (substrateetl.js:2524-2542: events ×
    extrinsics on extrinsic_id).

    Scale shape: the event filter prunes to a tiny slice before the
    join; both sides key on extrinsic_id (the dump's co-partitioned
    key)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    arr = F.from_json(F.col("data"), T.ArrayType(T.StringType()))
    ev = events.where(
        (F.col("section") == "contracts") & (F.col("method") == "CodeStored")
    ).select(
        "extrinsic_id",
        "extrinsic_hash",
        F.col("block_time").alias("code_stored_ts"),
        "block_number",
        F.get(arr, 0).alias("code_hash"),
    )
    signer = extrinsics.select(
        F.col("extrinsic_id").alias("__xid"), F.col("signer_pub_key")
    )
    return ev.join(signer, ev.extrinsic_id == signer.__xid, "left").select(
        "code_hash",
        "extrinsic_id",
        "extrinsic_hash",
        F.col("signer_pub_key").alias("storer_pub_key"),
        "block_number",
        "code_stored_ts",
    )


def contracts_table(events, extrinsics):
    """contracts(Instantiated) → the contracts dim: data = [address,
    deployer] per the reference's read (substrateetl.js:2544-2566),
    signer joined as the storer-side attribution."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    arr = F.from_json(F.col("data"), T.ArrayType(T.StringType()))
    ev = events.where(
        (F.col("section") == "contracts") & (F.col("method") == "Instantiated")
    ).select(
        "extrinsic_id",
        "extrinsic_hash",
        F.col("block_time").alias("deployed_ts"),
        F.col("block_number").alias("block_number_instantiated"),
        F.get(arr, 0).alias("address_pub_key"),
        F.get(arr, 1).alias("deployer_pub_key"),
    )
    signer = extrinsics.select(
        F.col("extrinsic_id").alias("__xid"), F.col("signer_pub_key")
    )
    return (
        ev.where(F.col("address_pub_key").isNotNull())
        .join(signer, ev.extrinsic_id == signer.__xid, "left")
        .select(
            "address_pub_key",
            "deployer_pub_key",
            F.col("signer_pub_key").alias("storer_pub_key"),
            "extrinsic_id",
            "extrinsic_hash",
            "block_number_instantiated",
            "deployed_ts",
        )
    )


def contractscall_table(calls, contracts_dim, registry=None):
    """contracts.call extrinsic calls → the published contractscall rows
    (substrateetl.js:2569-2640): dest/gas_limit/storage_deposit_limit/
    value parsed from params JSON (dechex limits, :2585-2587), caller =
    signer, code_hash decorated by a BROADCAST join against the
    contracts dim (the reference's per-row MySQL lookup, :2593 — here
    one broadcast, zero shuffle), decoded_call = the ink! selector
    match + SCALE arg decode when a ContractRegistry is supplied
    (Arrow-batched; NULL decoded args otherwise)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # Three-stage projection, deliberately: stage 0 parses the params
    # JSON ONCE into a struct (one Jackson parse per row — the previous
    # six get_json_object calls each re-parsed the document, measured
    # +0.33s at sf0.1); stage 1 pulls the five attributes out of the
    # struct; stage 2 derives the dechex columns from the SMALL
    # extracted strings.  Folding the stages together duplicates the
    # parse into every _dechex_str subtree (~6 refs each) once the
    # projection fuses with the downstream join stage — codegen CSE
    # stops deduplicating across that boundary (measured ~2.4s extra at
    # sf0.1).  CollapseProject keeps the split because the extracted
    # attrs are non-cheap and multiply referenced.  String-typed struct
    # fields return the raw token text for non-string JSON values
    # (numbers, booleans), matching get_json_object's surface.
    params_schema = T.StructType(
        [
            T.StructField(
                "dest", T.StructType([T.StructField("id", T.StringType())])
            ),
            T.StructField("gas_limit", T.StringType()),
            T.StructField("storage_deposit_limit", T.StringType()),
            T.StructField("value", T.StringType()),
            T.StructField("data", T.StringType()),
        ]
    )
    gas = F.col("__gas")
    sdl = F.col("__sdl")
    parsed = calls.where(
        (F.col("section") == "contracts") & (F.col("method") == "call")
    ).select(
        "extrinsic_id",
        F.col("hash").alias("extrinsic_hash"),
        F.col("block_time").alias("block_timestamp"),
        "block_number",
        "block_hash",
        F.from_json(F.col("params"), params_schema).alias("__params"),
        F.col("signer_pub_key").alias("caller_pub_key"),
    )
    raw = parsed.select(
        "extrinsic_id",
        "extrinsic_hash",
        "block_timestamp",
        "block_number",
        "block_hash",
        F.col("__params.dest.id").alias("address_pub_key"),
        F.col("__params.gas_limit").alias("__gas"),
        F.col("__params.storage_deposit_limit").alias("__sdl"),
        F.col("__params.value").alias("__value"),
        "caller_pub_key",
        F.col("__params.data").alias("__calldata"),
    )
    base = raw.select(
        "extrinsic_id",
        "extrinsic_hash",
        "block_timestamp",
        "block_number",
        "block_hash",
        "address_pub_key",
        F.when(gas.isNotNull(), F.expr(_dechex_str("__gas"))).otherwise(F.lit("0")).alias(
            "gas_limit"
        ),
        F.when(F.length(sdl) > 4, F.expr(_dechex_str("__sdl"))).otherwise(F.lit("0")).alias(
            "storage_deposit_limit"
        ),
        F.coalesce(F.expr(_dechex_str("__value")), F.lit("0")).alias("value"),
        "caller_pub_key",
        "__calldata",
    )
    dim = F.broadcast(
        contracts_dim.select(
            F.col("address_pub_key").alias("__addr"),
            F.col("code_hash").alias("code_hash"),
        )
    )
    out = base.join(dim, base.address_pub_key == F.col("__addr"), "left").drop("__addr")
    if registry is not None:
        out = _with_decoded_call(out, registry)
    else:
        out = out.withColumn("decoded_call", F.lit(None).cast("string"))
    return out.drop("__calldata")


def _native_arg_exprs(cd, specs):
    """Per-arg (value_expr, valid_expr) decoding fixed-width SCALE args
    straight from the calldata hex column named ``cd`` (layout: '0x' +
    8 selector chars + args).  LE ints byte-reverse via substring concat then conv; u128
    goes through the base-10^12 limb assembly (_u128_hex_to_str), exact
    over the FULL u128 range — the earlier decimal(38,0) route NULLed
    legal values ≥ 10^38 while the Python codec tier returned them."""
    from pyspark.sql import functions as F

    from polkadot_etl_spark.plans.feeds import _u128_hex_to_str

    exprs = []
    off = 0  # byte offset inside the args blob
    for n, kind in specs:
        sl = F.substring(cd, 11 + 2 * off, 2 * n)
        if kind == "uint" and n > 8:
            sl_sql = f"substring({cd}, {11 + 2 * off}, {2 * n})"
            rev = ", ".join(f"substring({sl_sql}, {2 * i + 1}, 2)" for i in reversed(range(n)))
            exprs.append((F.expr(_u128_hex_to_str(f"concat({rev})")), F.lit(True)))
        elif kind == "uint":
            rev = (
                F.concat(*[F.substring(sl, 2 * i + 1, 2) for i in reversed(range(n))])
                if n > 1
                else sl
            )
            # Spark conv is unsigned-64 exact
            exprs.append((F.conv(rev, 16, 10), F.lit(True)))
        elif kind == "bool":
            val = F.when(sl == "01", F.lit("true")).otherwise(F.lit("false"))
            exprs.append((val, sl.isin("00", "01")))
        else:  # fixed byte array → 0x-hex (json string)
            exprs.append((F.concat(F.lit('"0x'), F.lower(sl), F.lit('"')), F.lit(True)))
        off += n
    return exprs, off


def _with_decoded_call(out, registry):
    """decoded_call column in three tiers, cheapest first:

    1. code hashes whose messages are ALL fixed-width SCALE types →
       generated column expressions (substring/conv/concat), zero Python;
       the emitted JSON byte-matches json.dumps(..., sort_keys=True).
    2. code hashes with any dynamic-typed message (Vec/String/Compact/…)
       → the Arrow-batched UDF over functions/scale.py.
    3. unregistered / no code hash → native decoded:false JSON.

    Only tier 2 is a SPLIT + UNION (a Python UDF inside a when() branch
    is extracted into an unconditional ArrowEvalPython node, so every
    row would ship to Python anyway); tiers 1+3 evaluate as one
    when-chain over a SINGLE scan — with a fully fixed-width registry
    the whole decode is one codegen stage, no union, no Python.  On a
    real chain most calls hit unverified contracts (tier 3) and most
    verified contracts expose fixed-width messages (tier 1), so Python
    is the rare path."""
    import json

    from pyspark.sql import functions as F

    from polkadot_etl_spark.functions.scale import fixed_width

    cd = F.col("__calldata")
    ch = F.lower(F.col("code_hash"))
    native_unknown = F.when(
        cd.isNotNull(),
        F.concat(
            F.lit('{"decoded": false, "label": null, "selector": "'),
            F.lower(F.substring(cd, 1, 10)),
            F.lit('"}'),
        ),
    )

    native_hashes, python_hashes = [], []
    for h in registry.known_hashes():
        msgs = registry.messages(h)
        if all(
            len(m.arg_types) <= 10  # past arg9, json.dumps key order ≠ index order
            and all(fixed_width(t) is not None for t in m.arg_types)
            for m in msgs.values()
        ):
            native_hashes.append(h)
        else:
            python_hashes.append(h)

    native_expr = None
    if native_hashes:
        sel_col = F.lower(F.substring(cd, 1, 10))
        for h in native_hashes:
            for sel, m in sorted(registry.messages(h).items()):
                specs = [fixed_width(t) for t in m.arg_types]
                parts = [F.lit('{"args": {')]
                arg_exprs, total = _native_arg_exprs("__calldata", specs)
                for i, (val, _) in enumerate(arg_exprs):
                    if i:
                        parts.append(F.lit(", "))
                    parts.append(F.lit(f'"arg{i}": '))
                    parts.append(val)
                parts.append(
                    F.lit(
                        '}, "decoded": true, "label": %s, "selector": "%s"}'
                        % (json.dumps(m.label), sel)
                    )
                )
                ok = F.length(cd) == 10 + 2 * total
                for _, valid in arg_exprs:
                    ok = ok & valid
                # matched hash+selector but malformed args → NULL, the
                # same surface the UDF tier gives a ScaleError row
                inner = F.when(ok, F.concat(*parts))
                cond = cd.isNotNull() & (ch == h) & (sel_col == sel)
                native_expr = (
                    F.when(cond, inner) if native_expr is None else native_expr.when(cond, inner)
                )
    tier13 = native_expr.otherwise(native_unknown) if native_expr is not None else native_unknown

    if not python_hashes:
        return out.withColumn("decoded_call", tier13)

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _decode_series(code_hash, data_hex):
        def one(c, d):
            if c is None or d is None:
                return None
            try:
                return json.dumps(registry.decode_call(c, d), sort_keys=True)
            except (NotImplementedError, ValueError):
                # ValueError also covers bytes.fromhex on odd-length /
                # non-hex calldata (ScaleError subclasses it) — malformed
                # input maps to NULL, matching the native tier's surface,
                # instead of failing the whole task
                return None

        return pd.Series([one(c, d) for c, d in zip(code_hash, data_hex)])

    u_decode = pandas_udf(_decode_series, "string")
    py_rows = out.where(ch.isin(python_hashes)).withColumn(
        "decoded_call", u_decode(F.col("code_hash"), cd)
    )
    rest = out.where(~ch.isin(python_hashes) | F.col("code_hash").isNull()).withColumn(
        "decoded_call", tier13
    )
    return rest.unionByName(py_rows)
