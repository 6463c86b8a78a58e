"""Pure-Python XXH64 matching Spark's ``F.xxhash64`` on string columns.

Spark's ``xxhash64(col)`` hashes the UTF-8 bytes of a string with the
standard XXH64 algorithm, seed 42 (org.apache.spark.sql.catalyst
.expressions.XxHash64 — public Apache Spark source). The single-process
oracle crawler must compute the *same* url_hash values as the Spark job,
so we carry a reference implementation here; a parity test pins it
against the JVM built-in.

The Spark hot path always uses the JVM built-in (``F.xxhash64``); this
module is only for the oracle, fixtures, and the synthetic-world
generator (where determinism across Python and Spark matters).
"""

from __future__ import annotations

MASK64 = 0xFFFFFFFFFFFFFFFF
PRIME64_1 = 0x9E3779B185EBCA87
PRIME64_2 = 0xC2B2AE3D27D4EB4F
PRIME64_3 = 0x165667B19E3779F9
PRIME64_4 = 0x85EBCA77C2B2AE63
PRIME64_5 = 0x27D4EB2F165667C5

SPARK_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & MASK64


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * PRIME64_2) & MASK64
    acc = _rotl(acc, 31)
    return (acc * PRIME64_1) & MASK64


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * PRIME64_1 + PRIME64_4) & MASK64


def xxh64(data: bytes) -> int:
    """Standard XXH64 over ``data`` with Spark's seed → unsigned 64-bit
    int."""
    seed = SPARK_SEED
    n = len(data)
    idx = 0
    if n >= 32:
        v1 = (seed + PRIME64_1 + PRIME64_2) & MASK64
        v2 = (seed + PRIME64_2) & MASK64
        v3 = seed & MASK64
        v4 = (seed - PRIME64_1) & MASK64
        limit = n - 32
        while idx <= limit:
            v1 = _round(v1, int.from_bytes(data[idx : idx + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[idx + 8 : idx + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[idx + 16 : idx + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[idx + 24 : idx + 32], "little"))
            idx += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & MASK64
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + PRIME64_5) & MASK64
    h = (h + n) & MASK64
    while idx + 8 <= n:
        k1 = _round(0, int.from_bytes(data[idx : idx + 8], "little"))
        h ^= k1
        h = (_rotl(h, 27) * PRIME64_1 + PRIME64_4) & MASK64
        idx += 8
    if idx + 4 <= n:
        h ^= (int.from_bytes(data[idx : idx + 4], "little") * PRIME64_1) & MASK64
        h = (_rotl(h, 23) * PRIME64_2 + PRIME64_3) & MASK64
        idx += 4
    while idx < n:
        h ^= (data[idx] * PRIME64_5) & MASK64
        h = (_rotl(h, 11) * PRIME64_1) & MASK64
        idx += 1
    h ^= h >> 33
    h = (h * PRIME64_2) & MASK64
    h ^= h >> 29
    h = (h * PRIME64_3) & MASK64
    h ^= h >> 32
    return h


def to_i64(u: int) -> int:
    """Unsigned 64-bit → Java signed long (what Spark returns)."""
    return u - (1 << 64) if u >= (1 << 63) else u


def xxhash64_str(s: str) -> int:
    """Signed-64 XXH64 of a string's UTF-8 bytes — matches
    ``F.xxhash64(lit(s))`` in Spark (parity-pinned in tests)."""
    return to_i64(xxh64(s.encode("utf-8")))


def xxhash64_bytes(b: bytes) -> int:
    return to_i64(xxh64(b))


def xxh64_vec(data, seed: int = SPARK_SEED):
    """Vectorized XXH64 over the rows of a same-length uint8 matrix.

    ``data`` is (n, L) np.uint8; returns (n,) np.uint64 — bit-identical
    to :func:`xxh64` per row (pinned by tests/test_hashing.py). Because
    every row has the same byte length L, the scalar algorithm's control
    flow is row-invariant and each step becomes one numpy op over the
    whole batch — this is what lets fingerprint/simhash UDFs hash
    millions of windows/tokens per Arrow batch without per-row Python.
    Little-endian hosts only (x86/ARM)."""
    import numpy as np

    n_rows, L = data.shape
    u = np.uint64
    P1, P2, P3, P4, P5 = (
        u(PRIME64_1), u(PRIME64_2), u(PRIME64_3), u(PRIME64_4), u(PRIME64_5)
    )

    def rotl(x, r):
        return (x << u(r)) | (x >> u(64 - r))

    def rnd(acc, inp):
        acc = acc + inp * P2
        acc = rotl(acc, u(31))
        return acc * P1

    def chunk64(idx):
        return np.ascontiguousarray(data[:, idx : idx + 8]).view(np.uint64).ravel()

    with np.errstate(over="ignore"):
        idx = 0
        if L >= 32:
            v1 = np.full(n_rows, (seed + PRIME64_1 + PRIME64_2) & MASK64, dtype=u)
            v2 = np.full(n_rows, (seed + PRIME64_2) & MASK64, dtype=u)
            v3 = np.full(n_rows, seed & MASK64, dtype=u)
            v4 = np.full(n_rows, (seed - PRIME64_1) & MASK64, dtype=u)
            while idx <= L - 32:
                v1 = rnd(v1, chunk64(idx))
                v2 = rnd(v2, chunk64(idx + 8))
                v3 = rnd(v3, chunk64(idx + 16))
                v4 = rnd(v4, chunk64(idx + 24))
                idx += 32
            h = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
            for v in (v1, v2, v3, v4):
                h = (h ^ rnd(np.zeros(n_rows, dtype=u), v)) * P1 + P4
        else:
            h = np.full(n_rows, (seed + PRIME64_5) & MASK64, dtype=u)
        h = h + u(L)
        while idx + 8 <= L:
            k1 = rnd(np.zeros(n_rows, dtype=u), chunk64(idx))
            h ^= k1
            h = rotl(h, 27) * P1 + P4
            idx += 8
        if idx + 4 <= L:
            c4 = (
                np.ascontiguousarray(data[:, idx : idx + 4])
                .view(np.uint32)
                .ravel()
                .astype(u)
            )
            h ^= c4 * P1
            h = rotl(h, 23) * P2 + P3
            idx += 4
        while idx < L:
            h ^= data[:, idx].astype(u) * P5
            h = rotl(h, 11) * P1
            idx += 1
        h ^= h >> u(33)
        h *= P2
        h ^= h >> u(29)
        h *= P3
        h ^= h >> u(32)
    return h
