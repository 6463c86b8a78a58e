"""End-to-end crawl equivalence: Spark frontier vs single-process oracle.

The north_rule gate: same seed list + politeness budget ⇒ identical
crawl ordering, identical final URL-seen set, byte-equal captions,
identical image bytes/phash; plus kill-and-resume bit-identity.
"""

import os

import pytest

from bisque_spark.plans.crawl import (
    read_images,
    read_links,
    read_order,
    read_seen,
    run_crawl,
)
from bisque_spark.synth import World, seed_urls
from oracle_crawler import crawl_oracle

WORLD = World(n_hosts=12, n_seeds=18)
MAX_EPOCHS = 4


@pytest.fixture(scope="module")
def oracle_result():
    return crawl_oracle(WORLD, seed_urls(WORLD), max_epochs=MAX_EPOCHS)


@pytest.fixture(scope="module")
def spark_result(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("crawl"))
    res = run_crawl(
        spark, WORLD, seed_urls(WORLD), workdir=wd, max_epochs=MAX_EPOCHS
    )
    return res


def _order_tuples(spark, res):
    rows = read_order(spark, res).collect()
    return sorted(
        (r["epoch"], r["host"], r["host_rank"], float(r["priority"]), r["url_hash"], r["url"])
        for r in rows
    )


def _image_tuples(spark, res):
    return sorted(
        (r["image_id"], bytes(r["bytes"]), r["w"], r["h"], r["fmt"], r["caption"], r["phash"])
        for r in read_images(spark, res).collect()
    )


def test_crawl_order_matches_oracle(spark, spark_result, oracle_result):
    got = _order_tuples(spark, spark_result)
    want = sorted(
        (e, h, rk, float(p), uh, u) for (e, h, rk, p, uh, u) in oracle_result["order"]
    )
    assert got == want


def test_seen_set_matches_oracle(spark, spark_result, oracle_result):
    got = {r["url_hash"] for r in read_seen(spark, spark_result).collect()}
    assert got == oracle_result["seen"]


def test_images_match_oracle(spark, spark_result, oracle_result):
    got = {
        r["image_id"]: (bytes(r["bytes"]), r["w"], r["h"], r["fmt"], r["caption"], r["phash"])
        for r in read_images(spark, spark_result).collect()
    }
    want = {
        i["image_id"]: (i["bytes"], i["w"], i["h"], i["fmt"], i["caption"], i["phash"])
        for i in oracle_result["images"]
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], k


@pytest.mark.slow
def test_resume_bit_identity(spark, tmp_path_factory, spark_result):
    """Stop after 2 epochs ("kill"), resume, compare every output table."""
    wd = str(tmp_path_factory.mktemp("crawl_resume"))
    run_crawl(spark, WORLD, seed_urls(WORLD), workdir=wd, max_epochs=2)
    res2 = run_crawl(
        spark, WORLD, seed_urls(WORLD), workdir=wd, max_epochs=MAX_EPOCHS, resume=True
    )
    full = spark_result
    assert _order_tuples(spark, res2) == _order_tuples(spark, full)
    a = {r["url_hash"] for r in read_seen(spark, res2).collect()}
    b = {r["url_hash"] for r in read_seen(spark, full).collect()}
    assert a == b
    ga = sorted(
        (r["image_id"], r["caption"], r["phash"])
        for r in read_images(spark, res2).collect()
    )
    gb = sorted(
        (r["image_id"], r["caption"], r["phash"])
        for r in read_images(spark, full).collect()
    )
    assert ga == gb


def test_lineage_written(spark_result):
    d = os.path.join(spark_result["workdir"], "epoch=00000")
    assert os.path.exists(os.path.join(d, "lineage.json"))
    assert os.path.exists(os.path.join(d, "_COMMIT"))


def test_resume_after_partial_epoch_crash(spark, tmp_path_factory, spark_result):
    """Crash mid-commit: an epoch directory with data files but no
    _COMMIT marker must be redone on resume, bit-identically."""
    import shutil

    wd = str(tmp_path_factory.mktemp("crawl_partial"))
    run_crawl(spark, WORLD, seed_urls(WORLD), workdir=wd, max_epochs=2)
    # simulate dying mid-write of epoch 1: remove the marker and
    # corrupt one state table
    d1 = os.path.join(wd, "epoch=00001")
    os.remove(os.path.join(d1, "_COMMIT"))
    shutil.rmtree(os.path.join(d1, "junction", "table=order"))
    os.remove(os.path.join(d1, "lineage.json"))

    res = run_crawl(
        spark, WORLD, seed_urls(WORLD), workdir=wd, max_epochs=MAX_EPOCHS,
        resume=True,
    )
    got = _order_tuples(spark, res)
    want = _order_tuples(spark, spark_result)
    assert got == want
    a = {r["url_hash"] for r in read_seen(spark, res).collect()}
    b = {r["url_hash"] for r in read_seen(spark, spark_result).collect()}
    assert a == b
    assert _image_tuples(spark, res) == _image_tuples(spark, spark_result)


def test_readers_on_crawl_without_epochs(spark, tmp_path):
    """A crawl that commits no epoch still has readable outputs: empty
    order/images/links and the seed frontier as its seen set."""
    seeds = seed_urls(WORLD)
    res = run_crawl(spark, WORLD, seeds, workdir=str(tmp_path / "c"), max_epochs=0)
    assert res["epochs"] == 0
    assert read_order(spark, res).count() == 0
    assert _image_tuples(spark, res) == []
    assert read_links(spark, res).count() == 0
    seen = {r["url_hash"] for r in read_seen(spark, res).collect()}
    assert seen == crawl_oracle(WORLD, seeds, max_epochs=0)["seen"]


def test_lineage_counters_consistent(spark, spark_result):
    """Lineage bookkeeping must agree with the committed tables:
    rows_scheduled == order-log rows per epoch; fetched+failed ==
    scheduled."""
    import json

    order = read_order(spark, spark_result)
    per_epoch = {
        r["epoch"]: r["count"]
        for r in order.groupBy("epoch").count().collect()
    }
    for e in range(spark_result["epochs"]):
        with open(
            os.path.join(
                spark_result["workdir"], f"epoch={e:05d}", "lineage.json"
            )
        ) as f:
            lin = json.load(f)
        assert lin["rows_scheduled"] == per_epoch.get(e, 0), e
        assert lin["rows_fetched"] + lin["rows_failed"] == lin["rows_scheduled"]


@pytest.mark.slow
def test_compaction_equivalence(spark, tmp_path_factory, spark_result):
    """compact_every=2 (bases written mid-crawl) produces the same
    order log and seen set as the uncompacted run, and resume across a
    compaction boundary stays bit-identical."""
    wd = str(tmp_path_factory.mktemp("crawl_compact"))
    res = run_crawl(
        spark, WORLD, seed_urls(WORLD), workdir=wd,
        max_epochs=MAX_EPOCHS, compact_every=2,
    )
    assert _order_tuples(spark, res) == _order_tuples(spark, spark_result)
    a = {r["url_hash"] for r in read_seen(spark, res).collect()}
    b = {r["url_hash"] for r in read_seen(spark, spark_result).collect()}
    assert a == b
    # base exists at the compaction epoch; the crawl's URL-seen is the
    # exact anti-join, so it keeps no Bloom state to compact
    assert os.path.exists(os.path.join(wd, "epoch=00001", "seen_base"))
    assert not os.path.exists(os.path.join(wd, "epoch=00001", "shards_base"))

    # resume across the boundary: run 2 epochs, continue to MAX_EPOCHS
    wd2 = str(tmp_path_factory.mktemp("crawl_compact_resume"))
    run_crawl(spark, WORLD, seed_urls(WORLD), workdir=wd2,
              max_epochs=2, compact_every=2)
    res2 = run_crawl(spark, WORLD, seed_urls(WORLD), workdir=wd2,
                     max_epochs=MAX_EPOCHS, resume=True, compact_every=2)
    assert _order_tuples(spark, res2) == _order_tuples(spark, spark_result)


def test_resume_across_compaction_matches_oracle(
    spark, tmp_path, spark_result, oracle_result
):
    """Stop after epoch 0, resume for one epoch (which compacts the seen
    set), then resume to the end: order, seen set and images equal the
    oracle's and the uninterrupted run's, and the crawl commits no
    filter state — URL-seen is the exact anti-join on every epoch."""
    wd = str(tmp_path / "stepped")
    for stop in (1, 2, MAX_EPOCHS):
        res = run_crawl(
            spark, WORLD, seed_urls(WORLD), workdir=wd, max_epochs=stop,
            resume=stop > 1, compact_every=2,
        )

    def has(epoch, name):
        return os.path.exists(os.path.join(wd, f"epoch={epoch:05d}", name))

    assert has(1, "seen_base") and has(3, "seen_base")
    assert not any(
        has(e, "junction/table=shards") or has(e, "shards_base")
        for e in range(MAX_EPOCHS)
    )

    order = _order_tuples(spark, res)
    assert order == _order_tuples(spark, spark_result)
    assert order == sorted(
        (e, h, rk, float(p), uh, u) for (e, h, rk, p, uh, u) in oracle_result["order"]
    )
    seen = {r["url_hash"] for r in read_seen(spark, res).collect()}
    assert seen == oracle_result["seen"]
    assert seen == {r["url_hash"] for r in read_seen(spark, spark_result).collect()}

    def images(result):
        return sorted(
            (r["image_id"], bytes(r["bytes"]), r["caption"], r["phash"])
            for r in read_images(spark, result).collect()
        )

    got = images(res)
    assert got == images(spark_result)
    assert got == sorted(
        (i["image_id"], i["bytes"], i["caption"], i["phash"])
        for i in oracle_result["images"]
    )
