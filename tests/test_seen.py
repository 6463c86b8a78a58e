"""URL-seen set: Bloom kernel has no false negatives; the exact
anti-join and the Bloom pre-filter + confirm give the same answer."""

import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from bisque_spark.operators.seen import (
    _positions,
    _set_bits,
    _test_bits,
    build_shards,
    filter_unseen,
    mark_maybe_seen,
    merge_shards,
)

import numpy as np


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=200),
    st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=50),
)
def test_bloom_no_false_negatives(inserted, probes):
    m_bits, k = 1 << 12, 5
    bloom = np.zeros(m_bits // 8, dtype=np.uint8)
    if inserted:
        h = np.array(inserted, dtype=np.int64).view(np.uint64)
        _set_bits(bloom, _positions(h, m_bits, k))
        assert _test_bits(bloom, _positions(h, m_bits, k)).all()
    if probes:
        ph = np.array(probes, dtype=np.int64).view(np.uint64)
        res = _test_bits(bloom, _positions(ph, m_bits, k))
        for val, hit in zip(probes, res):
            if val in set(inserted):
                assert hit


def test_bits_for_sizing():
    from bisque_spark.operators.seen import bits_for

    # ~2.4M elements/shard at 1% fpr needs ~23M bits → 2^25
    assert bits_for(2_400_000, 0.01) == 1 << 25
    assert bits_for(0) == 1 << 17
    # monotone in n and in 1/fpr
    assert bits_for(10_000_000) >= bits_for(1_000_000)
    assert bits_for(1_000_000, 0.001) >= bits_for(1_000_000, 0.01)


def test_shard_build_merge_and_filter(spark):
    a = spark.range(0, 500).select(F.xxhash64("id").alias("url_hash"))
    b = spark.range(500, 600).select(F.xxhash64("id").alias("url_hash"))
    shards_a = build_shards(a, n_buckets=8)
    shards = merge_shards(shards_a, build_shards(b, n_buckets=8))
    assert shards.count() <= 8

    seen = a.unionByName(b)
    marked = mark_maybe_seen(seen, shards, n_buckets=8)
    # every seen hash must be flagged maybe_seen (no false negatives)
    assert marked.where(~F.col("maybe_seen")).count() == 0

    candidates = spark.range(550, 700).select(F.xxhash64("id").alias("url_hash"))
    new = filter_unseen(candidates, shards, seen, n_buckets=8)
    got = {r["url_hash"] for r in new.collect()}
    want = {
        r["url_hash"]
        for r in spark.range(600, 700)
        .select(F.xxhash64("id").alias("url_hash"))
        .collect()
    }
    assert got == want


def _ids_df(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id long").select(
        "id", F.xxhash64("id").alias("url_hash")
    )


def _exact_and_bloom(spark, seen_ids, cand_ids):
    seen = _ids_df(spark, seen_ids).select("url_hash")
    cands = _ids_df(spark, cand_ids)
    exact = filter_unseen(cands, None, seen, n_buckets=8, dedup_key="url_hash")
    bloom = filter_unseen(
        cands, build_shards(seen, n_buckets=8), seen, n_buckets=8, dedup_key="url_hash"
    )
    return cands, exact, bloom


def test_exact_path_equals_bloom_path(spark):
    """shards=None takes the dropDuplicates + left_anti path; with
    shards the Bloom cogroup + confirm. Both return the same rows, and
    the exact path returns every unseen key once, in the candidates'
    column order."""
    seen_ids = range(0, 600)
    cand_ids = [i % 700 + 300 for i in range(900)]  # overlap + duplicates
    cands, exact, bloom = _exact_and_bloom(spark, seen_ids, cand_ids)
    assert exact.columns == cands.columns
    got = sorted(tuple(r) for r in exact.collect())
    assert got == sorted(tuple(r) for r in bloom.collect())
    assert [r[0] for r in got] == list(range(600, 1000))


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(0, 200), max_size=60),
    st.lists(st.integers(0, 200), max_size=80),
)
def test_exact_and_bloom_paths_agree(spark, seen_ids, cand_ids):
    _, exact, bloom = _exact_and_bloom(spark, seen_ids, cand_ids)
    want = sorted(set(cand_ids) - set(seen_ids))
    assert sorted(r["id"] for r in exact.collect()) == want
    assert sorted(r["id"] for r in bloom.collect()) == want
