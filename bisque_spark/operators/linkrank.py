"""Link-authority ranking for frontier prioritization (PageRank power
iteration as DataFrame joins).

A crawl frontier that knows which hosts/pages the web points AT can
spend its politeness budget on authoritative targets first — the
classic crawl-ordering signal (Page, Brin, Motwani, Winograd 1999,
public paper; Cho, Garcia-Molina, Page 1998 on crawl ordering).
plans/crawl.py's order table IS the link graph (src url_hash → dst
url_hash), so the input needs no new state.

Scale shape per iteration: one join of ranks against the edge table
on the src key + one groupBy on the dst key — both shuffles on the
same url_hash keys every table in the engine is partitioned by, so a
co-partitioned layout makes the join shuffle-free. Dangling mass
(nodes without out-links) is redistributed uniformly, keeping the
rank a proper probability distribution at every step.

Deterministic (crawl contract): fixed iteration count, no sampling;
results are stable across partitionings up to float summation order
(ranks rounded by the caller for exact comparisons).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# PageRank teleport: a step follows a link with this probability
_DAMPING = 0.85


def link_rank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
) -> DataFrame:
    """(src, dst) edge table → (id, rank): PageRank with uniform
    teleport and uniform dangling-mass redistribution.

    Vertices = every id appearing as src or dst. ``iters`` fixed
    power-iteration steps (no convergence sampling — determinism).
    Ranks sum to 1 up to float error.
    """
    from bisque_spark.util import pin, release_caches  # noqa: F401

    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    verts = pin(
        e.select(F.col("s").alias("id"))
        .unionByName(e.select(F.col("d").alias("id")))
        .distinct()
    )
    n = verts.count()
    if n == 0:
        return verts.withColumn("rank", F.lit(0.0))
    out_deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    # edges with per-src degree, reused every iteration
    ed = pin(e.join(out_deg, "s"))
    ed.count()

    ranks = verts.withColumn("rank", F.lit(1.0 / n))
    for _i in range(iters):
        # truncate lineage EVERY iteration: the rank state feeds both the
        # contrib join and the dangling aggregate, so un-checkpointed
        # lineage would double per step (2^iters plan leaves). One eager
        # checkpoint == the iteration's single action.
        ranks = rank_step(verts, ed, out_deg, ranks, _DAMPING, n).localCheckpoint(
            eager=True
        )
    return ranks


def rank_step(
    verts: DataFrame,
    ed: DataFrame,
    out_deg: DataFrame,
    ranks: DataFrame,
    damping: float,
    n: int,
) -> DataFrame:
    """One power-iteration step as a SINGLE lazy plan (plan-checked by
    tests/plan_checks.py). Dangling mass (rank held by vertices
    with no out-links) stays IN-PLAN as a broadcast one-row aggregate —
    joined to every row — instead of a per-iteration
    driver collect(): no driver synchronization mid-iteration.
    dangling = 1 - linked because ranks is a probability distribution
    at every step."""
    contrib = (
        ed.join(ranks, ed["s"] == ranks["id"])
        .select(F.col("d").alias("id"), (F.col("rank") / F.col("deg")).alias("c"))
        .groupBy("id")
        .agg(F.sum("c").alias("inflow"))
    )
    linked = (
        ranks.join(out_deg.select("s"), ranks["id"] == F.col("s"), "left_semi")
        .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__linked"))
    )
    return (
        verts.join(contrib, "id", "left")
        .crossJoin(F.broadcast(linked))
        .select(
            "id",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * (F.lit(1.0) - F.col("__linked")) / F.lit(float(n))
                + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
            ).alias("rank"),
        )
    )


def authority_from_crawl(
    spark,
    result: dict,
    iters: int = 10,
) -> DataFrame:
    """A finished crawl's committed link graph → (url_hash, rank):
    the authority table run_crawl/with_frontier_columns consume to
    reorder the NEXT crawl's frontier (the Cho/Garcia-Molina/Page
    recrawl-ordering loop). Deterministic — a pure function of the
    crawl's own committed state."""
    from bisque_spark.plans.crawl import read_links

    edges = read_links(spark, result)
    return link_rank(
        edges, src="url_hash", dst="dst_hash", iters=iters
    ).select(F.col("id").alias("url_hash"), "rank")
