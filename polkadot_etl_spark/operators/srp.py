"""Signed-random-projection (SRP) binary sketches — the compressed
vector representation behind the tuned ANN operating point
(queries/corpus_ext.ann_sketch_prefilter): H Rademacher hyperplanes turn
an embedding into H sign bits packed into 32-bit words, and Hamming
distance over the words approximates angle (Charikar 2002, SimHash for
vectors). Beyond-reference, first-class per the build brief; sibling of
operators/bloom.py (bit-level membership) and the dHash image family
(bit-level perceptual fingerprints).

Determinism contract (the repo's cross-engine discipline):
- the +-1 hyperplane matrix derives from md5 (sign(h, i) = bit (127 - i)
  of md5(salt || ':' || h)) and is interpolated as a LITERAL into both
  engines — no RNG, no dim table to drift;
- embeddings quantize to floor(x * quant) BIGINTs before the dot, so
  every sign decision is exact integer arithmetic — no IEEE sum-order
  hazard can flip a bit between engines;
- packing folds 32 bits per word (max 2^32 - 1, no signed-long overflow
  anywhere), Hamming is xor + bit_count over the words.

Scale notes (100 TB):
- the encode is ONE map-side expression (let-chained so the bits array
  evaluates once per row, not once per word x bit — the r7 native-codec
  lesson); the sketch stores as H/8 bytes (32 bytes at H=256, 16x
  smaller than raw float64x64);
- a Hamming scan shuffles only (ids, words, distance) — never the
  vectors — and a per-query top-m rank window pushes down as
  WindowGroupLimit, making the candidate budget an absolute per-query
  constant at any corpus size;
- recall must be MEASURED, not assumed: ann_recall_audit reports
  recall@k next to candidates-scanned for this sketch against
  brute-force truth (0.958 @ 50 candidates on the fixture).
"""

from __future__ import annotations

import hashlib

DEFAULT_H = 256
DEFAULT_QUANT = 1000
DEFAULT_SALT = "srp"
WORD_BITS = 32
_MD5_BITS = 128


def srp_signs(
    n_planes: int = DEFAULT_H, dims: int = 64, salt: str = DEFAULT_SALT
) -> "list[list[int]]":
    """The deterministic Rademacher (+-1) hyperplane matrix. ``dims``
    caps at 128 (one md5 digest of sign bits per plane)."""
    if not (1 <= dims <= _MD5_BITS):
        raise ValueError(f"dims={dims}: one md5 digest carries {_MD5_BITS} sign bits")
    if n_planes < 1 or n_planes % WORD_BITS != 0:
        raise ValueError(
            f"n_planes={n_planes}: must be a positive multiple of {WORD_BITS}"
            " so the packed words carry no ragged tail"
        )
    out = []
    for h in range(n_planes):
        bits = int.from_bytes(hashlib.md5(f"{salt}:{h}".encode()).digest(), "big")
        out.append([1 if (bits >> (_MD5_BITS - 1 - i)) & 1 else -1 for i in range(dims)])
    return out


def srp_signs_sql_literal(signs: "list[list[int]]") -> str:
    """The matrix as a Spark SQL array-of-arrays literal (ConstantFolding
    collapses it to ONE literal in the plan)."""
    return (
        "array("
        + ", ".join("array(" + ",".join(f"{v}L" for v in row) + ")" for row in signs)
        + ")"
    )


def _let(val_sql: str, var: str, body_sql: str) -> str:
    """SQL let-binding: evaluate ``val_sql`` ONCE, bind it to lambda
    variable ``var``, evaluate ``body_sql`` with ``var`` as a LEAF.

    ``element_at(transform(array(v), x -> body), 1)`` is the only
    pure-SQL way to stop Catalyst from re-inlining a subexpression at
    every reference: lambda variables are attributes, so referencing
    one ten times costs ten leaf nodes, not ten copies of the subtree.
    Without it, plans/xcmgar.py's staged-withColumn codec collapsed
    back into one tree — 3,226 get_json_object copies / 1.1 MB of
    optimized plan for gar_longtail_registry, OOMing executor codegen
    (nondeterministic `when(rand() >= -1, …)` pins don't survive
    either: Spark 4's rand range analysis folds the guard away). The
    array is always 1-element, so the ANSI element_at never faults."""
    return f"element_at(transform(array({val_sql}), {var} -> {body_sql}), 1)"


def srp_words_expr(
    emb_col: str,
    signs: "list[list[int]]",
    quant: int = DEFAULT_QUANT,
) -> str:
    """Spark SQL expression: the packed sketch (array of n_planes/32
    longs, 32 bits each) for the numeric-array column ``emb_col`` —
    quantize once, n_planes integer dots once, fold to words once.

    The per-plane dot uses the Rademacher identity (r13, guide §1.2):
    with s ∈ {+1, −1}, Σ qe_i·s_i = 2·Σ_{s=+1} qe_i − Σ qe_i, so each
    plane folds only its POSITIVE-sign indices (a literal int array,
    ~dims/2 elements) against one shared total — higher-order-function
    lambdas are interpreted (never codegen'd), and this form runs ~4x
    fewer lambda invocations per row than the zip_with/multiply form
    (measured 1.61 → 0.66 s over the sf0.1 corpus, bit-identical on
    every row; a FULLY flattened ±qe[i] expansion was also tried and
    OOMs janino at 256×64 terms). Exact integer math is unchanged —
    the identity is exact over BIGINTs, no rounding anywhere."""
    n_planes = len(signs)
    dims = len(signs[0])
    qe = (
        f"transform(slice({emb_col}, 1, {dims}),"
        f" x -> cast(floor(cast(x as double) * {quant}) as bigint))"
    )
    pos_lists = (
        "array("
        + ", ".join(
            "array(" + ",".join(str(i + 1) for i, s in enumerate(row) if s > 0) + ")"
            if any(s > 0 for s in row)
            # all-negative plane (possible at small dims): typed empty
            # list, so the aggregate returns its 0L seed and the dot is
            # exactly -tq
            else "cast(array() as array<int>)"
            for row in signs
        )
        + ")"
    )
    bits = (
        f"transform({pos_lists}, p ->"
        " if(2L * aggregate(p, 0L, (a, i) -> a + element_at(qe, i))"
        " - tq >= 0, 1L, 0L))"
    )
    words = (
        f"transform(sequence(0, {n_planes // WORD_BITS - 1}), w ->"
        f" aggregate(sequence(1, {WORD_BITS}), 0L,"
        f" (acc, j) -> acc + shiftleft(element_at(bits, w * {WORD_BITS} + j),"
        f" {WORD_BITS} - j)))"
    )
    return _let(
        qe,
        "qe",
        _let("aggregate(qe, 0L, (a, v) -> a + v)", "tq", _let(bits, "bits", words)),
    )


def srp_hamming_expr(a_col: str, b_col: str) -> str:
    """Spark SQL expression: Hamming distance between two packed
    sketches (xor + bit_count per word, summed as BIGINT)."""
    return (
        f"cast(aggregate(zip_with({a_col}, {b_col},"
        " (a, b) -> cast(bit_count(a ^ b) as bigint)),"
        " 0L, (acc, v) -> acc + v) as bigint)"
    )


# ---- pure-Python reference model (what the property tests pin against) ----


def model_words(
    emb: "list[float]", signs: "list[list[int]]", quant: int = DEFAULT_QUANT
) -> "list[int]":
    import math

    dims = len(signs[0])
    qe = [int(math.floor(float(x) * quant)) for x in emb[:dims]]
    bits = [
        1 if sum(q * s for q, s in zip(qe, row)) >= 0 else 0 for row in signs
    ]
    return [
        sum(bits[w * WORD_BITS + j] << (WORD_BITS - 1 - j) for j in range(WORD_BITS))
        for w in range(len(signs) // WORD_BITS)
    ]


def model_hamming(a: "list[int]", b: "list[int]") -> int:
    return sum(bin(x ^ y).count("1") for x, y in zip(a, b))
