"""Cuckoo kernel of the URL-seen shards (operators/seen.py) — the
deletable twin of the Bloom kernel; north_star names 'Bloom/cuckoo'."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bisque_spark.operators.seen import (
    CUCKOO,
    Cuckoo,
    _alt,
    _contains_many,
    _delete_many,
    _empty_table,
    _insert_many,
    build_shards,
    delete_from_shards,
    filter_unseen,
    mark_maybe_seen,
    merge_shards,
    nb_for,
)


# ---- pure-numpy core ---------------------------------------------------------


@settings(max_examples=150, deadline=None)
@given(st.lists(st.integers(0, 2**63 - 1), max_size=200))
def test_no_false_negatives(keys):
    """THE invariant: every inserted key is maybe-seen (false positives
    allowed, false negatives never)."""
    table = _empty_table(nb_for(max(len(keys), 1)))
    arr = np.array(keys, dtype=np.uint64)
    _insert_many(table, arr)
    assert _contains_many(table, arr).all()


def test_alt_index_is_self_inverse():
    nb = 1 << 10
    idx = np.arange(nb, dtype=np.int64)
    fp = np.full(nb, 1234, dtype=np.uint16)
    back = _alt(_alt(idx, fp, nb), fp, nb)
    assert (back == idx).all()


def test_delete_removes_membership_and_spares_others():
    rng = np.random.RandomState(5)
    keys = rng.randint(0, 2**63, size=500, dtype=np.int64).astype(np.uint64)
    table = _empty_table(nb_for(600))
    _insert_many(table, keys)
    victims, kept = keys[:100], keys[100:]
    removed = _delete_many(table, victims)
    assert removed == 100
    # all kept keys still present (deletion can't create false negatives
    # for OTHER keys as long as deleted keys were inserted)
    assert _contains_many(table, kept).all()


def test_overflow_raises_cleanly():
    table = _empty_table(16)  # 64 slots
    keys = np.arange(10_000, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    with pytest.raises(ValueError, match="overflow"):
        _insert_many(table, keys)


def test_insert_idempotent():
    keys = np.arange(100, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    t1 = _empty_table(nb_for(200))
    _insert_many(t1, keys)
    snapshot = t1.copy()
    _insert_many(t1, keys)  # again
    assert (t1 == snapshot).all()


def test_false_positive_rate_small():
    rng = np.random.RandomState(9)
    inserted = rng.randint(0, 2**63, size=2000, dtype=np.int64).astype(np.uint64)
    probes = rng.randint(0, 2**63, size=20000, dtype=np.int64).astype(np.uint64)
    table = _empty_table(nb_for(2500))
    _insert_many(table, inserted)
    fpr = _contains_many(table, probes).mean()
    assert fpr < 0.01  # 16-bit fingerprints: expected ~8/2^16


# ---- Spark shard operators ---------------------------------------------------


def test_shard_build_lookup_merge_delete(spark):
    import pyspark.sql.functions as F

    df = spark.range(400).select(F.xxhash64("id").alias("url_hash"))
    shards = build_shards(df, n_buckets=8, kernel=Cuckoo(nb=1 << 9))
    assert shards.count() == 8

    marked = mark_maybe_seen(df, shards, n_buckets=8, kernel=CUCKOO)
    assert marked.where("NOT maybe_seen").count() == 0  # no false negatives

    # merge: second wave of keys lands in the merged filter
    df2 = spark.range(400, 700).select(F.xxhash64("id").alias("url_hash"))
    merged = merge_shards(
        shards, build_shards(df2, n_buckets=8, kernel=Cuckoo(nb=1 << 9)), kernel=CUCKOO
    )
    both = df.unionByName(df2)
    m2 = mark_maybe_seen(both, merged, n_buckets=8, kernel=CUCKOO)
    assert m2.where("NOT maybe_seen").count() == 0

    # delete the first wave: those keys drop out, second wave stays
    after = delete_from_shards(merged, df, n_buckets=8)
    m3 = mark_maybe_seen(df2, after, n_buckets=8, kernel=CUCKOO)
    assert m3.where("NOT maybe_seen").count() == 0
    dropped = mark_maybe_seen(df, after, n_buckets=8, kernel=CUCKOO)
    # deleted keys are gone up to the residual fp rate
    assert dropped.where("maybe_seen").count() <= 4


def test_filter_unseen_cuckoo_crawl_shaped_chain(spark):
    """The cuckoo kernel drives the same epoch chain as the Bloom
    kernel — pre-filter + exact-confirm anti-join — and agrees with
    the ground truth: candidates minus the seen set, plus re-opened
    (deleted) URLs become schedulable again."""
    import pyspark.sql.functions as F

    seen = spark.range(300).select(F.xxhash64("id").alias("url_hash"))
    shards = build_shards(seen, n_buckets=8, kernel=Cuckoo(nb=1 << 9))
    cands = spark.range(200, 500).select(F.xxhash64("id").alias("url_hash"))

    out = filter_unseen(cands, shards, seen, n_buckets=8, kernel=CUCKOO)
    got = {r["url_hash"] for r in out.collect()}
    truth = {
        r["url_hash"]
        for r in spark.range(300, 500)
        .select(F.xxhash64("id").alias("url_hash"))
        .collect()
    }
    assert got == truth  # exact-confirm makes the filter invisible

    # re-open 250..299 (delete from filter AND from the exact set):
    # they become schedulable again
    reopen = spark.range(250, 300).select(F.xxhash64("id").alias("url_hash"))
    shards2 = delete_from_shards(shards, reopen, n_buckets=8)
    seen2 = seen.join(reopen, "url_hash", "left_anti")
    out2 = filter_unseen(cands, shards2, seen2, n_buckets=8, kernel=CUCKOO)
    got2 = {r["url_hash"] for r in out2.collect()}
    truth2 = truth | {r["url_hash"] for r in reopen.collect()}
    assert got2 == truth2


def test_cuckoo_stateful_insert_delete_interleaving():
    """Model check: random insert/delete interleavings vs a set model —
    live keys are NEVER false-negative (the filter invariant), deleted
    keys eventually drop (up to residual fp), and delete only ever
    removes keys the model says were inserted (the documented cuckoo
    contract)."""
    import random

    rng = random.Random(77)
    nb = nb_for(800)
    table = _empty_table(nb)
    live: set[int] = set()
    pool = [rng.getrandbits(63) for _ in range(600)]

    for _step in range(40):
        if live and rng.random() < 0.4:
            victims = rng.sample(sorted(live), min(len(live), rng.randrange(1, 20)))
            _delete_many(table, np.array(victims, dtype=np.uint64))
            live -= set(victims)
        else:
            batch = rng.sample(pool, rng.randrange(1, 30))
            _insert_many(table, np.array(batch, dtype=np.uint64))
            live |= set(batch)
        if live:
            arr = np.array(sorted(live), dtype=np.uint64)
            assert _contains_many(table, arr).all(), "false negative!"
    # after deleting everything, residual membership is only fp noise
    if live:
        _delete_many(table, np.array(sorted(live), dtype=np.uint64))
    probe = np.array(pool, dtype=np.uint64)
    assert _contains_many(table, probe).mean() < 0.02
