"""Bit-exact FNV-1a64 trace-id hashing for the probabilistic policies.

Semantics match the reference's probabilistic evaluator
(internal/evaluators/probabilistic.go:34-71): the hash is FNV-1a64 over
``salt_bytes ‖ 16 raw trace-id bytes``; a trace is Sampled when
``hash <= uint64(ratio * MaxUint64)`` (inclusive). The threshold is
computed with exact integer math (Go uses big.Float; Python ints are
exact too, with the same saturation at [0, 2^64−1] for out-of-range
rates, matching probabilistic_test.go's −50%→0 / 150%→100 cases).

The per-trace hash ``fnv_hash_column`` is one Catalyst expression (no
Python worker starts); the numpy kernel ``_hash_batch`` is its test
oracle. Unsigned ``hash <= threshold`` is compared JVM-side by XOR-ing
both sides with 2^63 (order-preserving signed mapping).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

FNV_OFFSET = 14695981039346656037  # FNV-1a 64 offset basis
FNV_PRIME = 1099511628211
MASK64 = (1 << 64) - 1
M32 = (1 << 32) - 1
_PRIME_LO = FNV_PRIME - (1 << 40)  # 0x1b3
DEFAULT_HASH_SALT = "default-hash-seed"  # probabilistic.go:20-22


def fnv1a64(data: bytes, h: int = FNV_OFFSET) -> int:
    """Scalar FNV-1a64 (reference for tests and salt prefixing)."""
    for b in data:
        h = ((h ^ b) * FNV_PRIME) & MASK64
    return h


def calculate_threshold(ratio: float) -> int:
    """ratio ∈ ℝ → uint64 threshold, exact big-int math with saturation
    (probabilistic.go:55-62)."""
    from fractions import Fraction

    if ratio != ratio:  # NaN
        return 0
    val = int(Fraction(ratio) * MASK64) if np.isfinite(ratio) else (MASK64 if ratio > 0 else 0)
    return min(max(val, 0), MASK64)


def _hash_batch(hi: np.ndarray, lo: np.ndarray, h0: int) -> np.ndarray:
    """Vectorized FNV-1a64 over the 16 big-endian id bytes, seeded with
    the salt-prefix hash h0. uint64 modular arithmetic throughout."""
    h = np.full(len(hi), np.uint64(h0), dtype=np.uint64)
    prime = np.uint64(FNV_PRIME)
    ff = np.uint64(0xFF)
    for word in (hi.astype(np.int64).view(np.uint64), lo.astype(np.int64).view(np.uint64)):
        for byte_i in range(8):
            shift = np.uint64(8 * (7 - byte_i))
            b = (word >> shift) & ff
            h = (h ^ b) * prime
    return h


def fnv_hash_column(salt: str) -> Column:
    """Column factory: (trace_hi, trace_lo) → signed-int64 FNV-1a64 hash
    of ``salt ‖ 16 id bytes``, as one Catalyst expression.

    The state h = hi·2^32 + lo is kept in 32-bit limbs. The prime is
    2^40 + 0x1b3, so with l = lo ^ byte and p = l·0x1b3, h·prime mod 2^64
    has low limb p mod 2^32 and high limb hi·0x1b3 + (p >> 32) + (l << 8)
    mod 2^32 (the hi·2^72 term vanishes). Every intermediate is below
    2^42, so ANSI long arithmetic never overflows.
    """
    h0 = fnv1a64(salt.encode("utf-8"))
    id_bytes = F.array(*[
        F.shiftrightunsigned(F.col(c), 8 * (7 - i)).bitwiseAND(F.lit(0xFF))
        for c in ("trace_hi", "trace_lo")
        for i in range(8)
    ])

    def step(acc: Column, byte: Column) -> Column:
        lo = acc["lo"].bitwiseXOR(byte)
        p = lo * F.lit(_PRIME_LO)
        return F.struct(
            (acc["hi"] * F.lit(_PRIME_LO) + F.shiftright(p, 32) + F.shiftleft(lo, 8))
            .bitwiseAND(F.lit(M32)).alias("hi"),
            p.bitwiseAND(F.lit(M32)).alias("lo"),
        )

    init = F.struct(
        F.lit(h0 >> 32).cast("long").alias("hi"), F.lit(h0 & M32).cast("long").alias("lo")
    )
    return F.aggregate(
        id_bytes, init, step, lambda acc: F.shiftleft(acc["hi"], 32).bitwiseOR(acc["lo"])
    )


def _encode_batch(s: pd.Series):
    """Series of strings → (flat uint8 buffer, per-row offsets, lengths,
    null mask). One C-level ``str.encode`` call per row plus one join —
    the variable-length analogue of the Rabin-Karp UDF's offset-indexed
    buffer; no per-BYTE Python anywhere downstream."""
    null = s.isna().to_numpy()
    enc = [b"" if n else v.encode("utf-8") for v, n in zip(s.tolist(), null)]
    lengths = np.fromiter((len(e) for e in enc), dtype=np.int64, count=len(enc))
    offsets = np.zeros(len(enc), dtype=np.int64)
    if len(enc) > 1:
        np.cumsum(lengths[:-1], out=offsets[1:])
    buf = np.frombuffer(b"".join(enc), dtype=np.uint8)
    return buf, offsets, lengths, null


def fnv1a64_bytes_batch(buf: np.ndarray, offsets: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Vectorized variable-length FNV-1a64: rows are length-sorted so
    byte position j updates the contiguous prefix of rows still active —
    each step is a numpy gather + xor + modular multiply over every live
    row at once (r5 verdict #4: no per-row Python in FNV(...) columns).
    Returns uint64 hashes in the original row order."""
    n = len(lengths)
    order = np.argsort(-lengths, kind="stable")
    off_s = offsets[order]
    len_asc = lengths[order][::-1]  # ascending view for searchsorted
    h = np.full(n, np.uint64(FNV_OFFSET), dtype=np.uint64)
    prime = np.uint64(FNV_PRIME)
    maxlen = int(lengths.max()) if n else 0
    for j in range(maxlen):
        k = n - int(np.searchsorted(len_asc, j, side="right"))  # rows len > j
        b = buf[off_s[:k] + j].astype(np.uint64)
        h[:k] = (h[:k] ^ b) * prime
    out = np.empty(n, dtype=np.uint64)
    out[order] = h
    return out


def fnv1a64_string_column(c: Column) -> Column:
    """String column → signed-int64 FNV-1a64 over its UTF-8 bytes (the
    OTTL ``FNV`` converter, ottlfuncs func_fnv: ``int64(h.Sum64())``).

    Arrow-batched AND numpy-vectorized across rows (byte-position sweep
    over length-sorted rows); NULL in → NULL out (the converter's
    error_column flags it separately)."""

    @pandas_udf("long")
    def _fnv_str(s: pd.Series) -> pd.Series:
        buf, offsets, lengths, null = _encode_batch(s)
        out = pd.Series(fnv1a64_bytes_batch(buf, offsets, lengths).view(np.int64))
        return out.mask(null).astype("Int64")

    return _fnv_str(c)


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """Scalar murmur3 x86 32-bit (Austin Appleby's reference; what Go's
    github.com/spaolacci/murmur3 Sum32 computes) — the OTTL
    ``Murmur3Hash`` converter and its test oracle."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & M32
    nblocks = len(data) // 4
    for i in range(nblocks):
        k = int.from_bytes(data[4 * i : 4 * i + 4], "little")
        k = (k * c1) & M32
        k = ((k << 15) | (k >> 17)) & M32
        k = (k * c2) & M32
        h ^= k
        h = ((h << 13) | (h >> 19)) & M32
        h = (h * 5 + 0xE6546B64) & M32
    k = 0
    tail = data[4 * nblocks :]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & M32
        k = ((k << 15) | (k >> 17)) & M32
        k = (k * c2) & M32
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & M32
    h ^= h >> 16
    return h


def _rotl32(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint32(r)) | (x >> np.uint32(32 - r))


def murmur3_32_bytes_batch(buf: np.ndarray, offsets: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Vectorized variable-length murmur3 x86-32 (seed 0): 4-byte blocks
    sweep the length-sorted active prefix like the FNV kernel; the 0–3
    byte tail and the fmix finalizer are masked whole-batch numpy ops.
    Returns uint32 sums in the original row order."""
    n = len(lengths)
    c1, c2 = np.uint32(0xCC9E2D51), np.uint32(0x1B873593)
    order = np.argsort(-lengths, kind="stable")
    off_s = offsets[order]
    len_s = lengths[order]
    nblocks = len_s >> 2
    nblocks_asc = nblocks[::-1]
    h = np.zeros(n, dtype=np.uint32)  # seed 0
    for j in range(int(nblocks[0]) if n else 0):
        k = n - int(np.searchsorted(nblocks_asc, j, side="right"))
        idx = off_s[:k] + 4 * j
        blk = (
            buf[idx].astype(np.uint32)
            | (buf[idx + 1].astype(np.uint32) << np.uint32(8))
            | (buf[idx + 2].astype(np.uint32) << np.uint32(16))
            | (buf[idx + 3].astype(np.uint32) << np.uint32(24))
        )
        blk = _rotl32(blk * c1, 15) * c2
        h[:k] ^= blk
        h[:k] = _rotl32(h[:k], 13) * np.uint32(5) + np.uint32(0xE6546B64)
    # tail (0–3 trailing bytes), high byte first like the scalar oracle
    tail_len = (len_s & 3).astype(np.int64)
    tail_off = off_s + 4 * nblocks
    kk = np.zeros(n, dtype=np.uint32)
    for t in (3, 2, 1):
        sel = tail_len >= t
        kk[sel] ^= buf[tail_off[sel] + (t - 1)].astype(np.uint32) << np.uint32(8 * (t - 1))
    has_tail = tail_len >= 1
    kt = _rotl32(kk[has_tail] * c1, 15) * c2
    h[has_tail] ^= kt
    # fmix32
    h ^= len_s.astype(np.uint32)
    h ^= h >> np.uint32(16)
    h *= np.uint32(0x85EBCA6B)
    h ^= h >> np.uint32(13)
    h *= np.uint32(0xC2B2AE35)
    h ^= h >> np.uint32(16)
    out = np.empty(n, dtype=np.uint32)
    out[order] = h
    return out


def murmur3_32_string_column(c: Column) -> Column:
    """String column → int64 of the uint32 murmur3 sum (seed 0), the
    contrib ``Murmur3Hash`` converter. Arrow-batched AND numpy-vectorized
    like the FNV string kernel; NULL in → NULL out (error_column flags
    nil separately)."""

    @pandas_udf("long")
    def _mmh(s: pd.Series) -> pd.Series:
        buf, offsets, lengths, null = _encode_batch(s)
        sums = murmur3_32_bytes_batch(buf, offsets, lengths).astype(np.int64)
        return pd.Series(sums).mask(null).astype("Int64")

    return _mmh(c)


def unsigned_lte(signed_col: Column, unsigned_threshold: int) -> Column:
    """uint64(signed_col) <= unsigned_threshold, evaluated JVM-side.

    XOR with 2^63 maps uint64 order onto int64 order.
    """
    flip = 1 << 63
    return signed_col.bitwiseXOR(F.lit(-flip)) <= F.lit(unsigned_threshold - flip)


def hash_trace_id(salt: str, hi: int, lo: int) -> int:
    """Scalar helper mirroring probabilistic.go:65-71 (tests/oracles)."""
    id_bytes = (hi & MASK64).to_bytes(8, "big") + (lo & MASK64).to_bytes(8, "big")
    return fnv1a64(id_bytes, fnv1a64(salt.encode("utf-8")))
