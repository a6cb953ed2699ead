"""Pure-Python scalar cores for the reference's expression zoo
(SURVEY §2.8; reference substrate/paraTool.js, 2270 LoC).

Everything here is dependency-free (hashlib + int arithmetic) so the same
code runs inside Arrow-batched pandas UDFs on executors. The algorithms
are the public Substrate/SS58 specifications — not ports of the
reference's JS (which delegates to @polkadot/keyring).

Implemented groups and their reference counterparts:
- ss58 codec            ↔ paraTool.js:489-539 (get_pubkey / get_address)
- blake2/xxhash         ↔ paraTool.js:541; xxhash-addon dep (package.json:86)
- multisig / sovereign  ↔ paraTool.js:311, :889
- numerics (hex/dec)    ↔ paraTool.js:159-214 (dechexToInt, toBaseUnit)
- mortality lifetime    ↔ paraTool.js:546-580 (getBirth/getDeath)
- inverted-TS row keys  ↔ paraTool.js:581-594
"""

from __future__ import annotations

import hashlib

# ---------------------------------------------------------------------------
# base58 (bitcoin alphabet) — needed by the ss58 codec
# ---------------------------------------------------------------------------

_B58_ALPHABET = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
_B58_INDEX = {c: i for i, c in enumerate(_B58_ALPHABET)}


def b58encode(data: bytes) -> str:
    n = int.from_bytes(data, "big")
    out = []
    while n > 0:
        n, r = divmod(n, 58)
        out.append(_B58_ALPHABET[r])
    # leading zero bytes → leading '1's
    pad = 0
    for b in data:
        if b == 0:
            pad += 1
        else:
            break
    return "1" * pad + "".join(reversed(out))


def b58decode(s: str) -> bytes:
    n = 0
    for c in s:
        n = n * 58 + _B58_INDEX[c]
    raw = n.to_bytes((n.bit_length() + 7) // 8, "big")
    pad = len(s) - len(s.lstrip("1"))
    return b"\x00" * pad + raw


# ---------------------------------------------------------------------------
# ss58 codec (public SS58 spec: prefix ++ pubkey ++ blake2b-512("SS58PRE"…)[:2])
# ---------------------------------------------------------------------------

_SS58_PREFIX = b"SS58PRE"


def _ss58_checksum(payload: bytes) -> bytes:
    return hashlib.blake2b(_SS58_PREFIX + payload, digest_size=64).digest()[:2]


def get_address(pubkey_hex: str, network: int = 0) -> str:
    """pubkey (0x-hex, 32 bytes) → ss58 address for the network prefix
    (0=polkadot, 2=kusama, 42=generic). Mirrors paraTool.getAddress."""
    pk = bytes.fromhex(pubkey_hex[2:] if pubkey_hex.startswith("0x") else pubkey_hex)
    if len(pk) != 32:
        raise ValueError(f"pubkey must be 32 bytes, got {len(pk)}")
    if network < 0 or network > 16383:
        raise ValueError(f"invalid ss58 prefix {network}")
    if network < 64:
        prefix = bytes([network])
    else:
        # 2-byte prefix encoding per the SS58 registry spec
        prefix = bytes(
            [
                ((network & 0b0000_0000_1111_1100) >> 2) | 0b0100_0000,
                (network >> 8) | ((network & 0b0000_0000_0000_0011) << 6),
            ]
        )
    payload = prefix + pk
    return b58encode(payload + _ss58_checksum(payload))


def get_pubkey(address: str) -> str:
    """ss58 address → 0x-hex pubkey; validates the checksum.
    Mirrors paraTool.getPubKey."""
    raw = b58decode(address)
    if len(raw) < 35:
        raise ValueError("ss58 address too short")
    if raw[0] & 0b0100_0000:
        prefix_len = 2
    else:
        prefix_len = 1
    payload, checksum = raw[:-2], raw[-2:]
    if _ss58_checksum(payload) != checksum:
        raise ValueError("bad ss58 checksum")
    pk = payload[prefix_len:]
    if len(pk) != 32:
        raise ValueError(f"decoded pubkey length {len(pk)} != 32")
    return "0x" + pk.hex()


def ss58_prefix_of(address: str) -> int:
    raw = b58decode(address)
    if raw[0] & 0b0100_0000:
        lower = (raw[0] & 0b0011_1111) << 2 | (raw[1] >> 6)
        upper = (raw[1] & 0b0011_1111) << 8
        return lower | upper
    return raw[0]


def valid_address(address: str) -> bool:
    try:
        get_pubkey(address)
        return True
    except Exception:
        return False


# ---------------------------------------------------------------------------
# EVM h160 ↔ substrate pubkey (paraTool.js:517-539)
# ---------------------------------------------------------------------------


def pubkey_to_h160(pubkey_hex: str) -> str:
    pk = pubkey_hex[2:] if pubkey_hex.startswith("0x") else pubkey_hex
    return "0x" + pk[:40]


def h160_to_pubkey(h160: str) -> str:
    """Moonbeam-style: h160 zero-padded to 32 bytes."""
    h = h160[2:] if h160.startswith("0x") else h160
    return "0x" + h.ljust(64, "0")


def h160_to_mapped_pubkey(h160: str) -> str:
    """Frontier HashedAddressMapping: the substrate account that owns an
    EVM address on chains like astar = blake2_256('evm:' ++ h160) — the
    polkadot-js evmToAddress rule behind paraTool.js:522-525
    h160_to_pubkey."""
    h = h160[2:] if h160.startswith("0x") else h160
    return "0x" + blake2_256(b"evm:" + bytes.fromhex(h)).hex()


# ---------------------------------------------------------------------------
# hashing
# ---------------------------------------------------------------------------


def blake2_256(data: bytes) -> bytes:
    return hashlib.blake2b(data, digest_size=32).digest()


def blake2_256_from_hex(hex_str: str) -> str:
    h = hex_str[2:] if hex_str.startswith("0x") else hex_str
    return "0x" + blake2_256(bytes.fromhex(h)).hex()


_XX_PRIME_1 = 0x9E3779B185EBCA87
_XX_PRIME_2 = 0xC2B2AE3D27D4EB4F
_XX_PRIME_3 = 0x165667B19E3779F9
_XX_PRIME_4 = 0x85EBCA77C2B2AE63
_XX_PRIME_5 = 0x27D4EB2F165667C5
_MASK64 = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK64


def xxhash64(data: bytes, seed: int = 0) -> int:
    """Pure-python xxHash64 (public algorithm) — Substrate Twox hashers."""
    n = len(data)
    if n >= 32:
        v1 = (seed + _XX_PRIME_1 + _XX_PRIME_2) & _MASK64
        v2 = (seed + _XX_PRIME_2) & _MASK64
        v3 = seed & _MASK64
        v4 = (seed - _XX_PRIME_1) & _MASK64
        i = 0
        while i <= n - 32:
            for vi, off in ((1, 0), (2, 8), (3, 16), (4, 24)):
                lane = int.from_bytes(data[i + off : i + off + 8], "little")
                v = (v1, v2, v3, v4)[vi - 1]
                v = (v + lane * _XX_PRIME_2) & _MASK64
                v = (_rotl(v, 31) * _XX_PRIME_1) & _MASK64
                if vi == 1:
                    v1 = v
                elif vi == 2:
                    v2 = v
                elif vi == 3:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK64
        for v in (v1, v2, v3, v4):
            v = (_rotl((v * _XX_PRIME_2) & _MASK64, 31) * _XX_PRIME_1) & _MASK64
            h = (((h ^ v) * _XX_PRIME_1) + _XX_PRIME_4) & _MASK64
        rest = data[i:]
    else:
        h = (seed + _XX_PRIME_5) & _MASK64
        rest = data
    h = (h + n) & _MASK64
    i = 0
    while i + 8 <= len(rest):
        lane = int.from_bytes(rest[i : i + 8], "little")
        k = (_rotl((lane * _XX_PRIME_2) & _MASK64, 31) * _XX_PRIME_1) & _MASK64
        h = ((_rotl(h ^ k, 27) * _XX_PRIME_1) + _XX_PRIME_4) & _MASK64
        i += 8
    if i + 4 <= len(rest):
        lane = int.from_bytes(rest[i : i + 4], "little")
        h = ((_rotl(h ^ ((lane * _XX_PRIME_1) & _MASK64), 23) * _XX_PRIME_2) + _XX_PRIME_3) & _MASK64
        i += 4
    while i < len(rest):
        h = ((_rotl(h ^ (rest[i] * _XX_PRIME_5) & _MASK64, 11)) * _XX_PRIME_1) & _MASK64
        i += 1
    h ^= h >> 33
    h = (h * _XX_PRIME_2) & _MASK64
    h ^= h >> 29
    h = (h * _XX_PRIME_3) & _MASK64
    h ^= h >> 32
    return h


def twox_128(data: bytes) -> str:
    """Substrate storage-key prefix hasher: concat of two xxhash64 runs
    (seeds 0, 1), little-endian — e.g. twox_128(b'System') is the hex
    prefix of all System pallet storage keys (used by trace decode, F4)."""
    return (
        xxhash64(data, 0).to_bytes(8, "little") + xxhash64(data, 1).to_bytes(8, "little")
    ).hex()


# ---------------------------------------------------------------------------
# module accounts: multisig + para sovereign (paraTool.js:311, :889)
# ---------------------------------------------------------------------------


def _scale_compact(n: int) -> bytes:
    """SCALE compact encoding (public spec) of an integer below 2**30:
    vec lengths, para ids."""
    if n < 64:
        return bytes([n << 2])
    if n < 2**14:
        return ((n << 2) | 0b01).to_bytes(2, "little")
    if n < 2**30:
        return ((n << 2) | 0b10).to_bytes(4, "little")
    raise ValueError(f"compact too large: {n}")


def compute_multisig(pubkeys_hex: list[str], threshold: int) -> str:
    """Deterministic multisig account: blake2_256('modlpy/utilisuba' ++
    compact(len) ++ sorted pubkeys ++ u16 threshold) → 0x-pubkey."""
    keys = sorted(bytes.fromhex(p[2:] if p.startswith("0x") else p) for p in pubkeys_hex)
    payload = (
        b"modlpy/utilisuba"
        + _scale_compact(len(keys))
        + b"".join(keys)
        + threshold.to_bytes(2, "little")
    )
    return "0x" + blake2_256(payload).hex()


def sovereign_account(para_id: int, sibling: bool = False) -> str:
    """Parachain sovereign account: b'para'/b'sibl' ++ u32 LE paraID,
    zero-padded to 32 bytes."""
    tag = b"sibl" if sibling else b"para"
    return "0x" + (tag + para_id.to_bytes(4, "little")).ljust(32, b"\x00").hex()


# ---------------------------------------------------------------------------
# numerics (paraTool.js:159-214)
# ---------------------------------------------------------------------------


def dechex_to_int(v: str | int) -> int:
    """'0x..' hex or decimal string → python int (arbitrary precision —
    u128-safe, unlike the JS reference which needs BigInt)."""
    if isinstance(v, int):
        return v
    s = v.strip()
    return int(s, 16) if s.startswith(("0x", "0X")) else int(s)


def dechex_to_int_str(v: str | int) -> str:
    return str(dechex_to_int(v))


def reverse_endian(hex_str: str) -> str:
    h = hex_str[2:] if hex_str.startswith("0x") else hex_str
    if len(h) % 2:
        h = "0" + h
    return "0x" + bytes.fromhex(h)[::-1].hex()


def to_base_unit(raw: int | str, decimals: int) -> float:
    """Decimalize a raw chain amount: raw / 10^decimals (paraTool.toBaseUnit)."""
    return int(str(raw)) / (10**decimals)


def float_to_raw(amount: float, decimals: int) -> int:
    return round(amount * (10**decimals))


# ---------------------------------------------------------------------------
# mortality lifetime (paraTool.js:546-580)
# ---------------------------------------------------------------------------


def lifetime_birth_death(era_period: int, era_phase: int, current_block: int) -> tuple[int, int]:
    """Birth/death blocks of a mortal extrinsic from its era (period,
    phase) observed at current_block — the public mortal-era math."""
    birth = (max(current_block - era_phase, 0) // era_period) * era_period + era_phase
    return birth, birth + era_period


# ---------------------------------------------------------------------------
# time bucketing + inverted keys (paraTool.js:581-594, 1463-1483)
# ---------------------------------------------------------------------------

_TS_MAX = 99999999999


def inverted_ts_key(ts: int) -> str:
    """Descending-sort row key: zero-padded (MAX - ts) — BigTable scans
    newest-first (paraTool.js:581-594). In the Spark engine this is only
    needed for export compatibility; sorting uses ORDER BY DESC.

    Valid domain is [0, _TS_MAX] (unix seconds through year ~5138);
    outside it the fixed-width key can't order correctly, so reject
    rather than silently produce a mis-sorting key."""
    ts = int(ts)
    if not 0 <= ts <= _TS_MAX:
        raise ValueError(f"ts out of row-key domain [0, {_TS_MAX}]: {ts}")
    return str(_TS_MAX - ts).zfill(11)


def ts_to_log_dt_hr(ts: int) -> tuple[str, int]:
    """epoch seconds → (YYYY-MM-DD, hour) UTC (paraTool.ts_to_logDT_hr)."""
    import datetime

    dt = datetime.datetime.fromtimestamp(int(ts), datetime.timezone.utc)
    return dt.strftime("%Y-%m-%d"), dt.hour


# ---------------------------------------------------------------------------
# UniV3 price math (paraTool.js:104 sqrtPriceX96ToPriceWithDecimals,
# :130 tickToPriceWithDecimals) — public Uniswap v3 formulas
# ---------------------------------------------------------------------------


def sqrt_price_x96_to_price(sqrt_price_x96: int, decimals0: int, decimals1: int) -> float:
    """token1-per-token0 price from a Q64.96 sqrt price:
    (sqrtPriceX96 / 2^96)^2 · 10^(decimals0 - decimals1)."""
    ratio = (int(sqrt_price_x96) / (1 << 96)) ** 2
    return ratio * 10 ** (decimals0 - decimals1)


def tick_to_price(tick: int, decimals0: int, decimals1: int) -> float:
    """token1-per-token0 price of a v3 tick: 1.0001^tick scaled by the
    decimal gap."""
    return (1.0001 ** int(tick)) * 10 ** (decimals0 - decimals1)
