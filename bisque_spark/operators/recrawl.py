"""Recrawl / refresh scheduling: which seen URLs are due for a
re-fetch, and with what priority.

The north_star's frontier dedups against the URL-seen set; a real
crawl also RE-visits: pages change, and the refresh queue competes
with discovery for the politeness budget. This operator turns the
seen table (url_hash, host, fetched_epoch, change_hint) into refresh
candidates with a deterministic priority — composing with the rest of
the chain:

- candidates flow into the SAME politeness window rank
  (operators/schedule.py) as discovered URLs;
- re-opening a URL for refetch = delete it from the cuckoo seen
  filter + exact set (operators/seen.delete_from_shards) so the
  frontier accepts it again — the deletion capability is exactly why
  the cuckoo kernel exists.

Policy (pure Column expressions — JVM-side, no UDF, hash-partition
friendly at 10^10 rows):

    age        = now_epoch - fetched_epoch
    due        = age >= interval(change_hint)
    priority   = age * weight(change_hint)     (older + faster-changing
                                                pages first)
    tie-break  = url_hash                      (total determinism,
                                                crawl.py contract)

``change_hint`` buckets (0 = static … 3 = volatile) map to refresh
intervals/weights via a small broadcast dim table (DEFAULT_POLICY) so
the policy is data, not code. Everything is expressible in ANSI SQL —
the pytest suite hash-verifies the operator against an in-process
DuckDB oracle, the same hard signal the driver applies to the graded
queries.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

# change_hint bucket → (refresh interval in epochs, priority weight).
# Volatile pages refresh every epoch at high weight; static pages
# wait 8 epochs and yield to discovery.
DEFAULT_POLICY = [
    (0, 8, 1.0),  # static
    (1, 4, 2.0),
    (2, 2, 4.0),
    (3, 1, 8.0),  # volatile
]


def policy_table(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        DEFAULT_POLICY, "change_hint int, refresh_interval int, weight double"
    )


def due_for_refresh(
    seen: DataFrame,
    now_epoch: int,
    policy: DataFrame,
    limit_per_host: int | None = None,
) -> DataFrame:
    """seen(url_hash long, url string, host string, fetched_epoch int,
    change_hint int) → refresh candidates (url_hash, url, host,
    age, priority), deterministically ordered per the crawl contract.

    ``limit_per_host`` caps refreshes per host per epoch (a refresh
    storm on one host would starve its discovery budget) — top-k by
    (priority desc, url_hash) inside each host via window rank, the
    same shape as the politeness rank so AQE/salting applies
    unchanged.

    Rows whose change_hint is absent from the policy table are
    DROPPED by the inner join (an unknown bucket has no interval to
    evaluate) — policies must cover the hint domain.
    """
    from pyspark.sql import Window

    aged = (
        seen.join(F.broadcast(policy), "change_hint")
        .withColumn("age", F.lit(now_epoch) - F.col("fetched_epoch"))
        .where(F.col("age") >= F.col("refresh_interval"))
        .withColumn("priority", F.col("age") * F.col("weight"))
        .select("url_hash", "url", "host", "age", "priority")
    )
    if limit_per_host is None:
        return aged
    w = Window.partitionBy("host").orderBy(
        F.desc("priority"), F.asc("url_hash")
    )
    return (
        aged.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= limit_per_host)
        .drop("rk")
    )


def reopen_for_refetch(
    due: DataFrame,
    cuckoo_shards: DataFrame,
    seen_exact: DataFrame,
    buckets: int = 32,
) -> tuple[DataFrame, DataFrame]:
    """Remove the due URLs from the seen state so the frontier accepts
    them again: cuckoo shards support deletion (Bloom does not — this
    is the operation the cuckoo kernel exists for), and the exact
    table drops the rows by anti-join. Returns (shards', seen_exact').
    """
    from bisque_spark.operators.seen import delete_from_shards

    keys = due.select("url_hash")
    return (
        delete_from_shards(cuckoo_shards, keys, n_buckets=buckets),
        seen_exact.join(keys, "url_hash", "left_anti"),
    )
