"""URL-seen set: exact anti-join by default, sharded Bloom/cuckoo filters
behind one shard plan.

North-star operator (BASELINE.json): "deduplicated via a partitioned
Bloom/cuckoo URL-seen filter (one shard per hash-bucketed partition,
merged as binary state tables)".

Default path, and the crawl's: ``filter_unseen(candidates, None,
seen_exact)`` is a ``dropDuplicates`` + ``left_anti`` against
``seen_exact(url_hash)`` — two JVM operators, no Python worker. A
filter cannot avoid that join: its positives are *maybes*, and dropping
them would lose URLs the oracle visits, so every maybe is confirmed
against the exact set, whose whole union still shuffles. The filter
only shrinks the probe side; with the default shard geometry it lost to
the plain anti-join at every size measured (2M-100M seen rows), where
it also saturates. A crawl-side filter needs its geometry fixed once
per crawl from the expected size (``bits_for``) and a measured
crossover first.

Shard plan (shared by both kernels): the filter is a table
``(bucket int, <kernel column> binary)`` with bucket =
pmod(url_hash, P), one shard per bucket sized for its share, built by a
grouped ``applyInPandas`` (numpy batch ops, no per-row Python). Spark's
``DataFrame.stat.bloomFilter`` builds ONE driver-side filter — at 10^10
URLs a driver OOM and a broadcast bottleneck; shards-as-data are never
driver state. ``mark_maybe_seen`` cogroups candidates with the shard
rows of their bucket, merging every row of a bucket (per-epoch deltas)
inside the group, and ``filter_unseen`` confirms the maybes by the exact
anti-join. False-negative-freedom is property-tested with hypothesis.

Two kernels:

- ``Bloom`` (the default kernel): k double-hashed bit probes;
  merge = OR. Smaller than cuckoo at equal fpr.
- ``Cuckoo`` (recrawl's): partial-key cuckoo hashing (Fan, Andersen,
  Kaminsky, Mitzenmacher, "Cuckoo Filter: Practically Better Than
  Bloom", CoNEXT 2014): nb buckets × 4 slots of 16-bit fingerprints;
  an item with hash h lives in i1 = h mod nb or i2 = i1 XOR H(fp). It
  adds the one thing Bloom cannot do, DELETION (``delete_from_shards``):
  re-opening a URL for refetch without rebuilding the filter. Because
  the alternate index depends only on (index, fingerprint), any
  occupied slot can be re-inserted during merges and evictions.
  Deleting a never-inserted key can evict a same-fingerprint stranger,
  so callers delete only confirmed-seen keys.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

DEFAULT_BUCKETS = 32

# ---- Bloom kernel ------------------------------------------------------------

DEFAULT_BITS_PER_SHARD = 1 << 17  # 16 KiB / shard at sandbox scale
DEFAULT_NUM_HASHES = 5


def bits_for(expected_per_shard: int, target_fpr: float = 0.01) -> int:
    """Shard geometry sizing: bits for an expected element count at a
    target false-positive rate (m = -n·ln p / ln²2, rounded up to a
    power of two). At 10^10 URLs over 4096 buckets and 1% fpr this
    gives ~2^25 bits (4 MiB) per shard — data-sized state, never driver
    state. NOTE: geometry must be chosen ONCE per crawl (merge assumes
    identical m/k across epochs); pick from the expected final size."""
    if expected_per_shard <= 0:
        return DEFAULT_BITS_PER_SHARD
    m = -expected_per_shard * math.log(target_fpr) / (math.log(2) ** 2)
    return 1 << max(10, math.ceil(math.log2(m)))


def _positions(hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """Double-hashing index set per element: (h1 + i·h2) mod m. Shape (n, k)."""
    h = hashes.astype(np.uint64)
    h1 = h % np.uint64(m_bits)
    h2 = (h >> np.uint64(17) | np.uint64(1)) % np.uint64(m_bits)
    i = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m_bits)


def _set_bits(bloom: np.ndarray, pos: np.ndarray) -> None:
    np.bitwise_or.at(bloom, (pos >> np.uint64(3)).ravel().astype(np.int64),
                     np.left_shift(np.uint8(1), (pos & np.uint64(7)).ravel().astype(np.uint8)))


def _test_bits(bloom: np.ndarray, pos: np.ndarray) -> np.ndarray:
    byte_idx = (pos >> np.uint64(3)).astype(np.int64)
    bit = np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8))
    return ((bloom[byte_idx] & bit) != 0).all(axis=1)


# ---- Cuckoo kernel -----------------------------------------------------------

SLOTS = 4
_MAX_KICKS = 500


def nb_for(expected_per_shard: int) -> int:
    """Bucket count for an expected element count: 4-slot buckets at
    ≤ ~0.84 load (the paper's high-load operating point), rounded up
    to a power of two (index arithmetic uses masks)."""
    need = max(1, int(expected_per_shard / (SLOTS * 0.84)))
    return 1 << max(4, math.ceil(math.log2(need)))


def _fp_of(h: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprints from 64-bit hashes."""
    fp = ((h.astype(np.uint64) >> np.uint64(40)) & np.uint64(0xFFFF)).astype(
        np.uint16
    )
    fp[fp == 0] = 1  # 0 marks an empty slot
    return fp


def _i1_of(h: np.ndarray, nb: int) -> np.ndarray:
    return (h.astype(np.uint64) & np.uint64(nb - 1)).astype(np.int64)


def _alt(idx: np.ndarray | int, fp: np.ndarray | int, nb: int):
    """Partial-key alternate index: i XOR H(fp). Self-inverse, so it
    maps i1→i2 and i2→i1 — re-insertion never needs to know which."""
    hfp = (np.uint64(0x5BD1E995) * np.asarray(fp, dtype=np.uint64)) & np.uint64(
        nb - 1
    )
    return (np.asarray(idx, dtype=np.uint64) ^ hfp).astype(np.int64)


def _empty_table(nb: int) -> np.ndarray:
    return np.zeros((nb, SLOTS), dtype=np.uint16)


def _homes(table: np.ndarray, hashes: np.ndarray):
    h = np.asarray(hashes, dtype=np.uint64)
    fps = _fp_of(h)
    i1s = _i1_of(h, table.shape[0])
    return fps, i1s, _alt(i1s, fps, table.shape[0])


def _place(table: np.ndarray, fp: int, idx: int) -> None:
    """Put fingerprint ``fp`` into bucket ``idx`` or its alternate,
    evicting residents cuckoo-style when both are full. Raises on
    overflow — size shards with nb_for."""
    nb = table.shape[0]
    for t in (idx, int(_alt(idx, fp, nb))):
        free = np.flatnonzero(table[t] == 0)
        if len(free):
            table[t, free[0]] = fp
            return
    cur_fp, cur_idx = fp, idx
    for kick in range(_MAX_KICKS):
        slot = (cur_fp + kick) % SLOTS  # deterministic victim
        cur_fp, table[cur_idx, slot] = int(table[cur_idx, slot]), cur_fp
        cur_idx = int(_alt(cur_idx, cur_fp, nb))
        free = np.flatnonzero(table[cur_idx] == 0)
        if len(free):
            table[cur_idx, free[0]] = cur_fp
            return
    raise ValueError(
        f"cuckoo shard overflow (nb={nb}, {SLOTS} slots): size "
        "with nb_for(expected_per_shard)"
    )


def _insert_many(table: np.ndarray, hashes: np.ndarray) -> None:
    """Insert a batch (idempotent for already-present fingerprints)."""
    if len(hashes) == 0:
        return
    fps, i1s, i2s = _homes(table, hashes)
    # vectorized present-check first: present keys are no-ops
    present = (table[i1s] == fps[:, None]).any(axis=1) | (
        table[i2s] == fps[:, None]
    ).any(axis=1)
    for fp, i1, i2 in zip(fps[~present], i1s[~present], i2s[~present]):
        fp = int(fp)
        # re-check (an earlier insert in this batch may have added it)
        if fp in table[i1] or fp in table[i2]:
            continue
        _place(table, fp, int(i1))


def _contains_many(table: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    """Fully vectorized membership: maybe-seen per hash."""
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    fps, i1s, i2s = _homes(table, hashes)
    return (table[i1s] == fps[:, None]).any(axis=1) | (
        table[i2s] == fps[:, None]
    ).any(axis=1)


def _delete_many(table: np.ndarray, hashes: np.ndarray) -> int:
    """Remove ONE matching fingerprint per key (contract: key was
    inserted). Returns the number of removals."""
    removed = 0
    fps, i1s, i2s = _homes(table, hashes)
    for fp, i1, i2 in zip(fps, i1s, i2s):
        fp = int(fp)
        for idx in (int(i1), int(i2)):
            hit = np.flatnonzero(table[idx] == fp)
            if len(hit):
                table[idx, hit[0]] = 0
                removed += 1
                break
    return removed


# ---- kernels: one shard state per bucket --------------------------------------


@dataclass(frozen=True)
class Bloom:
    """The default kernel: ``m_bits`` bits per shard probed by ``k``
    double hashes; merge = OR, so it needs the same geometry on every
    shard of a filter."""

    m_bits: int = DEFAULT_BITS_PER_SHARD
    k: int = DEFAULT_NUM_HASHES
    column = "bloom"

    def empty(self) -> np.ndarray:
        return np.zeros(self.m_bits // 8, dtype=np.uint8)

    def load(self, blob: bytes) -> np.ndarray:
        return np.frombuffer(blob, dtype=np.uint8).copy()

    def insert(self, state: np.ndarray, hashes: np.ndarray) -> None:
        _set_bits(state, _positions(hashes, self.m_bits, self.k))

    def contains(self, state: np.ndarray, hashes: np.ndarray) -> np.ndarray:
        return _test_bits(state, _positions(hashes, self.m_bits, self.k))

    def merge(self, acc: np.ndarray, other: np.ndarray) -> None:
        np.bitwise_or(acc, other, out=acc)


@dataclass(frozen=True)
class Cuckoo:
    """Recrawl's kernel: ``nb`` × 4-slot buckets of 16-bit fingerprints
    (``nb`` sizes new shards; a loaded shard carries its own). Supports
    deletion (delete_from_shards); merge re-inserts fingerprints."""

    nb: int = 1 << 12
    column = "cuckoo"

    def empty(self) -> np.ndarray:
        return _empty_table(self.nb)

    def load(self, blob: bytes) -> np.ndarray:
        return np.frombuffer(blob, dtype=np.uint16).reshape(-1, SLOTS).copy()

    def insert(self, state: np.ndarray, hashes: np.ndarray) -> None:
        _insert_many(state, hashes)

    def contains(self, state: np.ndarray, hashes: np.ndarray) -> np.ndarray:
        return _contains_many(state, hashes)

    def merge(self, acc: np.ndarray, other: np.ndarray) -> None:
        """Re-insert every occupied fingerprint of ``other`` (the
        partial-key property makes (index, fp) alone sufficient)."""
        nb = acc.shape[0]
        if other.shape[0] != nb:
            raise ValueError("cuckoo shard geometry mismatch in merge")
        for idx, slot in zip(*np.nonzero(other)):
            fp = int(other[idx, slot])
            if fp not in acc[idx] and fp not in acc[int(_alt(idx, fp, nb))]:
                _place(acc, fp, int(idx))


BLOOM = Bloom()
CUCKOO = Cuckoo()


# ---- the shard plan ------------------------------------------------------------


def _hashes(pdf: pd.DataFrame) -> np.ndarray:
    # the signed url_hash bits, as the kernels' unsigned 64-bit hashes
    return pdf["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)


def _with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int")
    )


def _fold(kernel, blobs) -> np.ndarray:
    """Merge every shard row of one bucket into one state."""
    acc = None
    for blob in blobs:
        state = kernel.load(blob)
        if acc is None:
            acc = state
        else:
            kernel.merge(acc, state)
    return acc


def _shard_frame(kernel, bucket, state: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({"bucket": [int(bucket)], kernel.column: [state.tobytes()]})


def _shard_schema(kernel) -> str:
    return f"bucket int, {kernel.column} binary"


def build_shards(
    hashes_df: DataFrame, n_buckets: int = DEFAULT_BUCKETS, kernel=BLOOM
) -> DataFrame:
    """DataFrame with ``url_hash`` → shard table (one row/bucket)."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        state = kernel.empty()
        kernel.insert(state, _hashes(pdf))
        return _shard_frame(kernel, pdf["bucket"].iloc[0], state)

    return (
        _with_bucket(hashes_df.select("url_hash"), n_buckets)
        .groupBy("bucket")
        .applyInPandas(build, schema=_shard_schema(kernel))
    )


def compact_shards(shards: DataFrame, kernel=BLOOM) -> DataFrame:
    """Collapse a multi-row-per-bucket shard table (e.g. a union of
    per-epoch deltas) to one merged row per bucket — the compaction
    primitive."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        return _shard_frame(
            kernel, pdf["bucket"].iloc[0], _fold(kernel, pdf[kernel.column])
        )

    return shards.groupBy("bucket").applyInPandas(
        merge, schema=_shard_schema(kernel)
    )


def merge_shards(a: DataFrame, b: DataFrame, kernel=BLOOM) -> DataFrame:
    """Merge two shard tables (same geometry) bucket-wise."""
    return compact_shards(a.unionByName(b), kernel)


def mark_maybe_seen(
    candidates: DataFrame,
    shards: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    dedup_key: str | None = None,
    kernel=BLOOM,
) -> DataFrame:
    """+ boolean ``maybe_seen`` column (false ⇒ definitely new).

    Shape: candidates COGROUP shards on bucket. A broadcast join would
    copy the shard blob into every candidate row's Tungsten buffer —
    megabytes per row at the documented 10^10 geometry (4 MiB/shard).
    Cogrouping ships each blob to its bucket's group exactly once; only
    url_hash-sized rows ride the shuffle. ``shards`` may hold MULTIPLE
    rows per bucket (per-epoch deltas) — they are merged inside the
    group, so a caller holding a delta chain needs no separate merge
    pass.

    ``dedup_key``: drop duplicate candidate rows by this column inside
    the group — the bucket shuffle already co-locates equal keys, so
    the caller's separate dropDuplicates shuffle is free here. Only
    safe when rows with equal keys are FULLY identical (true for crawl
    candidates: every column derives from the url).
    """
    out_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in candidates.schema.fields
    )
    out_schema = f"{out_fields}, maybe_seen boolean"
    cand_cols = [f.name for f in candidates.schema.fields]

    def test_group(cand_pdf: pd.DataFrame, shard_pdf: pd.DataFrame) -> pd.DataFrame:
        cand_pdf = cand_pdf.drop(columns=["bucket"])
        if dedup_key is not None and not cand_pdf.empty:
            cand_pdf = cand_pdf.drop_duplicates(subset=[dedup_key])
        if cand_pdf.empty:
            return cand_pdf.assign(maybe_seen=pd.Series([], dtype=bool))
        if shard_pdf.empty:
            return cand_pdf.assign(maybe_seen=False)
        state = _fold(kernel, shard_pdf[kernel.column])
        return cand_pdf.assign(maybe_seen=kernel.contains(state, _hashes(cand_pdf)))

    shard_b = shards.select(
        F.col("bucket").cast("int").alias("bucket"), kernel.column
    )
    return (
        _with_bucket(candidates, n_buckets)
        .groupBy("bucket")
        .cogroup(shard_b.groupBy("bucket"))
        .applyInPandas(test_group, schema=out_schema)
        .select(*cand_cols, "maybe_seen")
    )


def delete_from_shards(
    shards: DataFrame, deletions: DataFrame, n_buckets: int = DEFAULT_BUCKETS
) -> DataFrame:
    """Remove keys from a cuckoo shard table (the operation Bloom cannot
    do). Contract: every deleted key was previously inserted — enforced
    by callers deleting only confirmed-seen keys (a never-inserted key
    could evict a same-fingerprint stranger)."""
    kernel = CUCKOO

    def drop_group(shard_pdf: pd.DataFrame, dels: pd.DataFrame) -> pd.DataFrame:
        if shard_pdf.empty:
            return pd.DataFrame(columns=["bucket", kernel.column])
        state = _fold(kernel, shard_pdf[kernel.column])
        if len(dels):
            _delete_many(state, _hashes(dels))
        return _shard_frame(kernel, shard_pdf["bucket"].iloc[0], state)

    keyed = _with_bucket(deletions.select("url_hash"), n_buckets)
    return shards.groupBy("bucket").cogroup(
        keyed.groupBy("bucket")
    ).applyInPandas(drop_group, schema=_shard_schema(kernel))


def filter_unseen(
    candidates: DataFrame,
    shards: DataFrame | None,
    seen_exact: DataFrame | None,
    n_buckets: int = DEFAULT_BUCKETS,
    dedup_key: str | None = None,
    kernel=BLOOM,
) -> DataFrame:
    """Candidates whose url_hash is not in ``seen_exact`` — exact on
    every path; ``shards`` only chooses how the answer is computed.

    - ``seen_exact`` None: nothing is seen yet (candidates, deduped).
    - ``shards`` None: ``dropDuplicates`` + ``left_anti``, the default.
    - otherwise: the ``kernel`` filter over ``shards`` splits definite
      news from maybes, and only the maybes meet the anti-join.
    """
    if shards is None or seen_exact is None:
        if dedup_key is not None:
            candidates = candidates.dropDuplicates([dedup_key])
        if seen_exact is None:
            return candidates
        return candidates.join(
            seen_exact.select("url_hash"), on="url_hash", how="left_anti"
        ).select(*candidates.columns)
    marked = mark_maybe_seen(
        candidates, shards, n_buckets=n_buckets, dedup_key=dedup_key, kernel=kernel
    )
    definite_new = marked.where(~F.col("maybe_seen")).drop("maybe_seen")
    maybes = marked.where(F.col("maybe_seen")).drop("maybe_seen")
    confirmed_new = maybes.join(
        seen_exact.select("url_hash"), on="url_hash", how="left_anti"
    )
    return definite_new.unionByName(confirmed_new)
