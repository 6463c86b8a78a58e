"""Bucketed co-located joins (sources/bucketed.py): one write-time
shuffle buys every downstream join/agg on the key a shuffle-free plan
— the plan property is asserted, not assumed."""

import pyspark.sql.functions as F
import pytest

from bisque_spark.sources.bucketed import bucketed_table, write_bucketed
from plan_checks import exchange_count


def _ddl(df):
    return ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema
    )


def _bucketed(spark, tmp_path, name, df, key, n):
    """Write ``df`` bucketed under tmp_path and register it as ``name``."""
    path = str(tmp_path / name)
    write_bucketed(df, path, key, n)
    return bucketed_table(spark, name, path, _ddl(df), key, n)


def _drop_session_tables(spark):
    for t in spark.catalog.listTables():
        if not t.isTemporary:
            spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")


@pytest.fixture()
def no_broadcast(spark):
    # keep joins SortMergeJoins so the exchange elision is visible
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    _drop_session_tables(spark)


def test_bucketed_join_is_shuffle_free_and_correct(spark, tmp_path, no_broadcast):
    sf = "/root/testdata/sf0.001"
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf}/lineitem.parquet").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    a = _bucketed(spark, tmp_path, "orders_b", orders, "o_orderkey", 8)
    b = _bucketed(spark, tmp_path, "lineitem_b", lineitem, "o_orderkey", 8)
    joined = a.join(b, on="o_orderkey")
    assert exchange_count(joined) == 0  # co-located: no shuffle
    plain = orders.join(lineitem, "o_orderkey")
    assert exchange_count(plain) >= 2  # the baseline pays twice
    got = joined.groupBy("o_orderkey").count()
    want = plain.groupBy("o_orderkey").count()
    assert exchange_count(got) == 0  # agg on the bucket key: free
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_bucketed_requires_matching_bucket_counts(spark, tmp_path, no_broadcast):
    """Mismatched bucket counts fall back to a correct (but shuffled)
    plan — correctness never depends on the layout."""
    a = spark.range(100).select(F.col("id").alias("k"), F.lit(1).alias("x"))
    b = spark.range(100).select(F.col("id").alias("k"), F.lit(2).alias("y"))
    a8 = _bucketed(spark, tmp_path, "a8", a, "k", 8)
    b4 = _bucketed(spark, tmp_path, "b4", b, "k", 4)
    j = a8.join(b4, on="k")
    assert j.count() == 100
    assert exchange_count(j) >= 1  # at least one side re-shuffles


def test_path_table_reregisters_bucketed(spark, tmp_path, no_broadcast):
    """A bucketed base written to a path survives the loss of every
    session table: re-registered from its directory alone, the
    candidates' anti-join against it shuffles the candidates only, and
    returns what the plain anti-join returns."""
    path = str(tmp_path / "seen_base")
    base = spark.range(2000).select(
        (F.col("id") * 7).alias("url_hash"),
        F.concat(F.lit("http://h.test/"), F.col("id").cast("string")).alias("url"),
    )
    write_bucketed(base, path, "url_hash", 8)
    _drop_session_tables(spark)
    assert not [t for t in spark.catalog.listTables() if not t.isTemporary]

    seen = bucketed_table(
        spark, "seen_base", path, "url_hash bigint, url string", "url_hash", 8
    )
    cand = spark.range(3000).select((F.col("id") * 5).alias("url_hash"))
    new = cand.join(seen.select("url_hash"), "url_hash", "left_anti")
    plain = cand.join(
        spark.read.parquet(path).select("url_hash"), "url_hash", "left_anti"
    )
    assert exchange_count(plain) == 2  # both sides shuffle
    # the one Exchange left is the candidates'; the base scan has none
    assert exchange_count(new) == 1
    got = sorted(r[0] for r in new.collect())
    assert got == sorted(r[0] for r in plain.collect())
    assert got == [h for h in range(0, 15000, 5) if h % 35 or h >= 14000]
