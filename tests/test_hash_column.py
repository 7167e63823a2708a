"""The Catalyst FNV-1a64 trace-id column against its numpy and scalar
oracles, with ANSI arithmetic on: the 32-bit limb arithmetic must be
bit-exact on extreme ids, every byte position holding 0x80 or 0xFF, and
random ids, for the default salt and others."""

from __future__ import annotations

import random

import numpy as np

from atlassian_sampling_processor_spark.hashing import (
    DEFAULT_HASH_SALT,
    MASK64,
    _hash_batch,
    fnv1a64,
    fnv_hash_column,
    hash_trace_id,
)

INT64_MIN, INT64_MAX = -(1 << 63), (1 << 63) - 1


def _s64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def _ids() -> list[tuple[int, int]]:
    ids = [(0, 0), (-1, -1), (INT64_MIN, INT64_MAX), (INT64_MAX, INT64_MIN), (0, -1), (-1, 0)]
    for byte in (0x80, 0xFF):
        for pos in range(16):
            v = byte << (8 * (15 - pos))
            ids.append((_s64(v >> 64), _s64(v & MASK64)))
        every = int.from_bytes(bytes([byte] * 16), "big")
        ids.append((_s64(every >> 64), _s64(every & MASK64)))
    rng = random.Random(20)
    ids += [(rng.randint(INT64_MIN, INT64_MAX), rng.randint(INT64_MIN, INT64_MAX)) for _ in range(2000)]
    return ids


def test_catalyst_fnv_matches_oracles_under_ansi(spark):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        ids = _ids()
        df = spark.createDataFrame(ids, "trace_hi long, trace_lo long")
        hi = np.array([h for h, _ in ids], dtype=np.int64)
        lo = np.array([lo for _, lo in ids], dtype=np.int64)
        for salt in (DEFAULT_HASH_SALT, "", "tenant-7/ü"):
            rows = df.select("trace_hi", "trace_lo", fnv_hash_column(salt).alias("h")).collect()
            got = {(r.trace_hi, r.trace_lo): r.h for r in rows}
            assert len(rows) == len(ids)
            want = _hash_batch(hi, lo, fnv1a64(salt.encode("utf-8"))).view(np.int64)
            for (h, lo_), w in zip(ids, want):
                assert got[(h, lo_)] == int(w), (salt, h, lo_)
                assert got[(h, lo_)] & MASK64 == hash_trace_id(salt, h, lo_), (salt, h, lo_)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
