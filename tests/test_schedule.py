"""Politeness window-rank: the two-phase (salted) rank must equal the
naive exact per-host rank, and budgets must bind."""

import pyspark.sql.functions as F
from pyspark.sql import Window

from bisque_spark.operators.schedule import politeness_select


def _frontier(spark, n=400, hosts=5):
    return (
        spark.range(n)
        .withColumn(
            "url",
            F.concat(
                F.lit("http://h"),
                (F.col("id") % hosts).cast("string"),
                F.lit(".test/p"),
                F.col("id").cast("string"),
            ),
        )
        .withColumn("host", (F.col("id") % hosts).cast("string"))
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("priority", -(F.col("id") % 3).cast("double"))
        .withColumn("depth", (F.col("id") % 3).cast("int"))
        .withColumn("crawl_delay", F.lit(2.0))
        .drop("id")
    )


def test_two_phase_equals_exact_rank(spark):
    frontier = _frontier(spark)
    budget_base = 8  # → budget 4 at delay 2.0
    scheduled, deferred = politeness_select(frontier, budget_base)
    got = sorted(
        (r["host"], r["host_rank"], r["url_hash"])
        for r in scheduled.collect()
    )
    w = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("url_hash"))
    naive = (
        frontier.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 4)
    )
    want = sorted((r["host"], r["rk"], r["url_hash"]) for r in naive.collect())
    assert got == want
    # conservation: scheduled + deferred = frontier
    assert scheduled.count() + deferred.count() == frontier.count()


def test_budget_binds_per_host(spark):
    frontier = _frontier(spark, n=100, hosts=2)
    scheduled, _ = politeness_select(frontier, budget_base=3)  # budget 1
    per_host = scheduled.groupBy("host").count().collect()
    assert all(r["count"] == 1 for r in per_host)


def test_single_phase_equals_two_phase(spark):
    """two_phase=False is result-identical to the salted two-phase
    path (the adaptive small-frontier fast path in the crawl loop)."""
    import pyspark.sql.functions as F

    from bisque_spark.operators.schedule import politeness_select

    rows = [
        (f"http://h{i % 7}.test/p{i}", i % 7, float(-(i % 3)), 1.0 + (i % 2))
        for i in range(500)
    ]
    df = spark.createDataFrame(
        rows, "url string, hostnum int, priority double, crawl_delay double"
    ).select(
        "url",
        F.xxhash64("url").alias("url_hash"),
        F.concat(F.lit("h"), F.col("hostnum")).alias("host"),
        "priority",
        "crawl_delay",
    )
    s2, d2 = politeness_select(df, 4, two_phase=True)
    s1, d1 = politeness_select(df, 4, two_phase=False)
    key = lambda r: (r["host"], r["host_rank"], r["url_hash"])
    assert sorted(map(key, s1.collect())) == sorted(map(key, s2.collect()))
    assert sorted(r["url_hash"] for r in d1.collect()) == sorted(
        r["url_hash"] for r in d2.collect()
    )


def test_apply_robots_shuffle_join_equals_broadcast(spark):
    """broadcast=False (the 10^8-host path) is result-identical to the
    broadcast dim join."""
    import pyspark.sql.functions as F

    from bisque_spark.operators.schedule import apply_robots

    fr = spark.range(200).select(
        F.concat(
            F.lit("http://h"), (F.col("id") % 10).cast("string"),
            F.lit(".test/p"), F.col("id").cast("string"),
        ).alias("url"),
        F.concat(F.lit("h"), (F.col("id") % 10).cast("string"),
                 F.lit(".test")).alias("host"),
    )
    robots = spark.range(10).select(
        F.concat(F.lit("h"), F.col("id").cast("string"),
                 F.lit(".test")).alias("host"),
        (1.0 + (F.col("id") % 3)).alias("crawl_delay"),
        F.when(F.col("id") % 2 == 0, F.array(F.struct(
            F.lit("^/p1").alias("re"), F.lit(3).alias("len"),
            F.lit(0).alias("allow"))))
        .otherwise(F.array().cast("array<struct<re:string,len:int,allow:int>>"))
        .alias("rules"),
    )
    a = sorted(r["url"] for r in apply_robots(fr, robots).collect())
    b = sorted(
        r["url"] for r in apply_robots(fr, robots, broadcast=False).collect()
    )
    assert a == b and len(a) > 0
