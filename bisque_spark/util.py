"""Small engine utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame

# ---- caller-owns-cache contract (documented ONCE, here) ----------------------
# Operators persist intermediates that are consumed more than once in the
# same plan (LSH signatures, bucket keys, IVF sources). They register the
# cache via pin(); the CONSUMER — whoever runs the terminal action on the
# returned DataFrame (tests, bench.py, scripts/check_entry.py) — calls
# release_caches() afterwards. Entry queries stay lazy DataFrames, so the
# operator itself can never know when the last action has run.
# Deliberately long-lived artifacts (e.g. the memoized IVF index in
# __spark_entry__) persist OUTSIDE this registry (ivf_build with
# pin_index=False) and manage their own lifetime — release_caches()
# must not be able to evict them.
_PINNED: list[DataFrame] = []


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for :func:`release_caches`."""
    df = df.persist()
    _PINNED.append(df)
    return df


def release_caches() -> None:
    """Unpersist every pin()'d DataFrame (caller-owns-cache contract)."""
    while _PINNED:
        df = _PINNED.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # owning session already stopped; nothing to release


def spread(df: DataFrame) -> DataFrame:
    """Ensure a CPU-bound (UDF) stage has at least one partition per
    core. Local small-file reads arrive as 1 partition, serializing
    Arrow UDF work; at cluster scale inputs already have thousands of
    partitions and this is a no-op (guarded, not an unconditional
    repartition — no shuffle unless needed)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
