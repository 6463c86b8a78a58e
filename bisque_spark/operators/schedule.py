"""Frontier scheduling: robots rules, politeness budget, priority ranking.

North-star operators (BASELINE.json): per-host politeness queue
(crawl-delay token bucket) as Window-ranked DataFrame batches, robots
disallow as a broadcast join, hot-host skew broken by salting. The
reference has no scheduler (SURVEY.md §0); semantics are defined jointly
with the oracle crawler (tests/oracle parity pins them).

Deterministic contract shared with the oracle:
- priority = -depth (BFS-flavored; seeds outrank discovered links)
- within an epoch, a host may fetch ``max(1, floor(budget_base /
  crawl_delay))`` URLs ("rank ≤ budget" — the token bucket expressed as
  a window rank, SURVEY.md §7.3 hard-part 2)
- selection order inside a host: priority desc, url_hash asc
- URLs beyond the budget stay in the frontier for the next epoch
- paths robots.txt disallows (RFC 9309 longest match over robots.rules)
  are dropped

Skew design: ranking partitions by ``host``; a Zipf head host would
funnel its whole frontier slice through one task. The two-phase rank
below first ranks within (host, salt) — k-way parallel even for the
hottest host — keeps only each salt's top ``budget`` candidates, then
runs the exact per-host rank over that ≤ k·budget-row remainder.
Correct because any URL in the true per-host top-budget is also in its
salt's top-budget (rank within a subset can only be ≤ rank in the full
set). At 10^10 scale phase 2 sees ≤ hosts·k·budget rows, not the
frontier.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from bisque_spark.functions.urlnorm import host_col, url_hash_col

N_HOST_SALTS = 8


def with_frontier_columns(
    df: DataFrame,
    epoch: int,
    authority: DataFrame | None = None,
    authority_weight: float = 1.0,
) -> DataFrame:
    """url (canonical), depth → + url_hash, host, priority, epoch
    columns.

    ``authority`` (url_hash, rank — e.g. linkrank.authority_from_crawl)
    turns the BFS priority into the authority-weighted crawl ordering
    of Cho/Garcia-Molina/Page: priority = -depth + weight·rank, rank
    defaulting to 0 for URLs outside the rank table. Determinism
    contract: the float arithmetic is (-depth) + (weight·rank) in that
    exact association on both the Spark and oracle sides, so orders
    compare bit-equal. The join keys on url_hash — the partitioning key
    every engine table shares — and is left to AQE to broadcast when
    the rank table is small; at 10^10 URLs it is a co-partitioned
    shuffle join, not a broadcast.
    """
    out = (
        df.withColumn("url_hash", url_hash_col())
        .withColumn("host", host_col("url"))
        .withColumn("priority", -F.col("depth").cast("double"))
        .withColumn("epoch", F.lit(epoch))
    )
    if authority is not None:
        out = (
            out.join(
                authority.select("url_hash", F.col("rank").alias("__auth")),
                "url_hash",
                "left",
            )
            .withColumn(
                "priority",
                F.col("priority")
                + F.lit(float(authority_weight))
                * F.coalesce(F.col("__auth"), F.lit(0.0)),
            )
            .drop("__auth")
        )
    return out


def apply_robots(
    frontier: DataFrame, robots: DataFrame, broadcast: bool = True
) -> DataFrame:
    """Drop URLs whose path robots.txt disallows for the host.

    robots(host, crawl_delay, rules array<struct<re:string, len:int,
    allow:int>>) — functions/robots.parse_robots_txt's rules — is
    usually a small dim table → broadcast hash join. RFC 9309 §2.2.2
    entirely JVM-side: the per-host rule array is tiny, so the
    longest-match argmax is one ``array_max`` over structs (len,
    allow) — lexicographic struct ordering makes allow win length ties
    for free; no matching rule (or no robots row, or a NULL path) →
    allowed. At web scale (10^8 hosts the robots table no longer fits
    an executor) pass ``broadcast=False``: the join becomes a
    host-keyed shuffle co-partitioned with the politeness rank's own
    host shuffle, so the extra exchange is shared, not added.
    """
    path = F.parse_url(F.col("url"), F.lit("PATH"))
    rb = robots.select("host", "crawl_delay", "rules")
    joined = frontier.join(F.broadcast(rb) if broadcast else rb, "host", "left")
    matches = F.filter(
        F.transform(
            F.col("rules"),
            lambda r: F.when(
                F.regexp_like(path, r["re"]),  # rlike() only takes a
                # literal pattern; regexp_like accepts a Column
                F.struct(r["len"].alias("len"), r["allow"].alias("allow")),
            ),
        ),
        lambda s: s.isNotNull(),
    )
    best = F.array_max(matches)
    allowed = joined.where(best.isNull() | (best.getField("allow") == 1))
    return allowed.withColumn(
        "crawl_delay", F.coalesce(F.col("crawl_delay"), F.lit(1.0))
    ).drop("rules")


def politeness_select(
    frontier: DataFrame,
    budget_base: int,
    two_phase: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Split an epoch's frontier into (scheduled, deferred).

    Requires columns: url, url_hash, host, priority, crawl_delay.
    Returns scheduled rows with a deterministic ``host_rank`` (the
    within-host fetch order) and the deferred remainder (budget
    overflow) with scheduling columns dropped.

    ``two_phase=False`` skips the salted pre-rank (one window/shuffle
    instead of two). The two paths are result-identical — phase 1 is a
    safe over-approximation (pinned by tests) — so callers that KNOW
    the frontier is small (e.g. from parquet footer counts) can drop
    the skew armor; at 10^10 frontiers the salted phase is mandatory.
    """
    budget = F.greatest(
        F.lit(1), F.floor(F.lit(budget_base) / F.col("crawl_delay"))
    ).cast("int")
    order = [F.desc("priority"), F.asc("url_hash")]
    w2 = Window.partitionBy("host").orderBy(*order)
    if not two_phase:
        df = frontier.withColumn("budget", budget)
        ranked = df.withColumn("host_rank", F.row_number().over(w2))
        scheduled = ranked.where(F.col("host_rank") <= F.col("budget"))
        deferred = ranked.where(F.col("host_rank") > F.col("budget")).drop(
            "host_rank"
        )
        return scheduled.drop("budget"), deferred.drop("budget")
    df = frontier.withColumn("budget", budget).withColumn(
        "salt", F.pmod(F.col("url_hash"), F.lit(N_HOST_SALTS))
    )
    # phase 1: parallel pre-rank within (host, salt); safe over-approx
    w1 = Window.partitionBy("host", "salt").orderBy(*order)
    pre = df.withColumn("salt_rank", F.row_number().over(w1))
    survivors = pre.where(F.col("salt_rank") <= F.col("budget")).drop("salt_rank")
    spilled = pre.where(F.col("salt_rank") > F.col("budget")).drop("salt_rank")
    # phase 2: exact per-host rank over the ≤ N_HOST_SALTS·budget survivors
    ranked = survivors.withColumn("host_rank", F.row_number().over(w2))
    scheduled = ranked.where(F.col("host_rank") <= F.col("budget"))
    deferred_extra = ranked.where(F.col("host_rank") > F.col("budget")).drop(
        "host_rank"
    )
    deferred = spilled.unionByName(deferred_extra).drop("budget", "salt")
    return scheduled.drop("budget", "salt"), deferred
