"""Multi-granularity time rollup: one grouping-sets pass must equal
per-granularity aggregates."""

import pyspark.sql.functions as F
import pytest

from bisque_spark.operators.rollup import time_rollup


@pytest.fixture(scope="module")
def events(spark):
    return (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .cache()
    )


def test_rollup_matches_per_gran_aggregates(spark, events):
    out = time_rollup(events, grans=("hour", "day")).collect()
    got = {(r["gran"], r["bucket"]): (r["n"], r["sum_v"]) for r in out}
    for gran, fmt in (("hour", "yyyy-MM-dd HH"), ("day", "yyyy-MM-dd")):
        naive = (
            events.groupBy(
                F.date_format(F.date_trunc(gran, "ts"), fmt).alias("bucket")
            )
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("s"))
            .collect()
        )
        for r in naive:
            assert got[(gran, r["bucket"])] == (r["n"], r["s"]), (gran, r)
    # exactly the union of the two granularities, nothing else
    assert len(out) == sum(
        events.select(F.date_trunc(g, "ts")).distinct().count()
        for g in ("hour", "day")
    )


def test_rollup_single_scan_plan(spark, events):
    """The whole point: one Exchange, not one per granularity."""
    from plan_checks import exchange_count, plan_text

    df = time_rollup(events, grans=("minute", "hour", "day"))
    # grouping sets → ONE Expand node in the plan tree and ONE shuffle
    # Exchange anywhere in the plan
    assert plan_text(df).count("+- Expand") == 1
    assert exchange_count(df) == 1


def test_rollup_rejects_unknown_gran(events):
    with pytest.raises(ValueError):
        time_rollup(events, grans=("fortnight",))


def test_incremental_merge_equals_recompute(spark):
    """time_rollup_increment: base (raw partials) + delta rollup merged
    == full recompute, for ANY split of the facts — count/sum/min/max
    are decomposable and rounding happens once, at merge."""
    import pyspark.sql.functions as F

    from bisque_spark.operators.rollup import time_rollup, time_rollup_increment

    rows = [
        (i, f"2024-01-{(i % 9) + 1:02d} {(i * 7) % 24:02d}:{i % 60:02d}:00", i * 0.37)
        for i in range(400)
    ]
    ev = spark.createDataFrame(rows, "id long, ts string, value double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    full = {
        tuple(r) for r in time_rollup(ev, grans=("hour", "day")).collect()
    }
    for split in (F.col("id") % 3 == 0, F.col("ts") < "2024-01-05"):
        base = time_rollup(ev.where(~split), grans=("hour", "day"), rounded=False)
        merged = {
            tuple(r)
            for r in time_rollup_increment(
                base, ev.where(split), grans=("hour", "day")
            ).collect()
        }
        assert merged == full
