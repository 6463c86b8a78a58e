"""The crawl plan: iterative frontier epochs with checkpointed lineage.

The distributed re-expression of the scrape loop around the reference
(SURVEY.md §3.4): each epoch is one Catalyst-planned batch
    frontier → robots ⋈ → politeness window-rank → fetch (Arrow UDF)
    → decode+parse+extract (Arrow UDF) → images sink append
    → link explode → canonicalize → URL-seen dedup → next frontier
and every epoch commits its tables (frontier, seen delta, lineage
counters, order log, images, link graph) to the checkpoint directory in
one partitioned write, then its ``_COMMIT`` marker, before advancing,
so a killed driver resumes bit-identically from the last complete epoch
(north_rule). URL-seen dedup is the exact ``dropDuplicates`` +
``left_anti`` against the committed seen union (operators/seen.py
``filter_unseen`` with no shards): a Bloom pre-filter would still have
to confirm its maybes against that same union, and lost to the plain
anti-join at every measured size. Batch-iterative rather than Structured
Streaming because the frontier is feedback — epoch N's input is epoch
N-1's output — which streaming cannot express without an external
round-trip anyway (SURVEY.md §1.5).

Determinism: every value is a pure function of (url, epoch); ordering
keys are (epoch, host, priority desc, url_hash); no wall-clock, no
rand(), fixed shuffle-partition counts. These are the conditions for
the resume-bit-identity and oracle-equality tests.
"""

from __future__ import annotations

import json
import os
import shutil
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from bisque_spark.functions.urlnorm import url_hash_col
from bisque_spark.operators.extract import (
    EXTRACT_SCHEMA,
    IMAGES_SCHEMA,
    make_fetch_extract_batches,
    materialize_images_batches,
)
from bisque_spark.operators.schedule import (
    apply_robots,
    politeness_select,
    with_frontier_columns,
)
from bisque_spark.operators.seen import filter_unseen
from bisque_spark.synth import World

FRONTIER_COLS = ["url", "url_hash", "host", "depth", "priority", "crawl_delay"]

# Explicit read schemas: spark.read.parquet without a schema submits a
# footer-inference JOB per path — measured ~0.15 s of driver latency
# each, and the state unions read base + one delta per epoch, so the
# inference cost grows with crawl depth. With .schema(...) the read is
# pure plan-building (columns are pruned by name from the superset
# junction schema), and a read of zero paths (the output readers on a
# crawl that committed no epoch) is an empty frame, not an error.
_FRONTIER_SCHEMA = (
    "url string, url_hash bigint, host string, depth int, "
    "priority double, crawl_delay double"
)
_SEEN_SCHEMA = "url_hash bigint"
_ORDER_SCHEMA = (
    "epoch int, host string, host_rank int, priority double, "
    "url_hash bigint, url string"
)
_LINKS_SCHEMA = "url_hash bigint, dst_hash bigint"

# The per-epoch junction: frontier / order log / seen delta / images /
# link graph / lineage counters share one superset schema and are written
# as ONE partitioned parquet table (junction/table=<slice>). Round 1
# wrote five separate tables plus a counters job — six job submissions
# of fixed cost per epoch that dominated small epochs (BENCH/BASELINE.md
# full-pipeline efficiency 0.31-0.51). One sink = one Spark job = every
# shared subplan (the politeness window shuffle, the fetch+extract
# Arrow stage) is computed once via exchange reuse instead of racing
# to populate a cache from concurrent write jobs.
_JUNCTION_COLS = [
    ("url", "string"),
    ("url_hash", "bigint"),
    ("host", "string"),
    ("host_rank", "int"),
    ("depth", "int"),
    ("priority", "double"),
    ("crawl_delay", "double"),
    ("epoch", "int"),
    ("n_scheduled", "bigint"),
    ("n_fetched", "bigint"),
    # images slice
    ("image_id", "string"),
    ("bytes", "binary"),
    ("w", "int"),
    ("h", "int"),
    ("fmt", "string"),
    ("caption", "string"),
    ("phash", "bigint"),
    # link-graph slice: url_hash (src page) → dst_hash, raw extraction
    # output BEFORE robots/dedup — the input to link-authority ranking
    ("dst_hash", "bigint"),
]


def _junction_slice(df: DataFrame, table: str) -> DataFrame:
    # one selectExpr (a single py4j round trip parsing 20 strings)
    # instead of ~20 Column-object builds: the junction assembles 6
    # slices per epoch and driver-side plan construction is SERIAL time
    # that caps strong-scaling efficiency at high parallelism
    cols = set(df.columns)
    return df.selectExpr(
        f"'{table}' AS `table`",
        *[
            (
                f"CAST({n} AS {t}) AS {n}"
                if n in cols
                else f"CAST(NULL AS {t}) AS {n}"
            )
            for n, t in _JUNCTION_COLS
        ],
    )


def _junction_path(workdir: str, epoch: int, table: str) -> str:
    return os.path.join(_epoch_dir(workdir, epoch), "junction", f"table={table}")


def _slice_paths(workdir: str, epochs: int, table: str) -> list[str]:
    """Every committed epoch's ``table`` slice that holds rows (the
    partitioned write creates no directory for an empty slice)."""
    paths = (_junction_path(workdir, e, table) for e in range(epochs))
    return [p for p in paths if os.path.exists(p)]


def _parquet_num_rows(path: str) -> int:
    """Row count from parquet footers — driver-local metadata read, no
    Spark job (the frontier-empty check)."""
    import glob

    import pyarrow.parquet as pq

    total = 0
    for f in glob.glob(os.path.join(path, "*.parquet")):
        total += pq.ParquetFile(f).metadata.num_rows
    return total


def _epoch_dir(workdir: str, epoch: int) -> str:
    return os.path.join(workdir, f"epoch={epoch:05d}")


def _write(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _base_epoch(workdir: str, last: int, name: str) -> int | None:
    """Highest committed epoch ≤ last holding a compaction base."""
    for e in range(last, -1, -1):
        if os.path.exists(os.path.join(_epoch_dir(workdir, e), name)):
            return e
    return None


def _read_seen_union(spark: SparkSession, workdir: str, last: int) -> DataFrame:
    """The seen set as of epoch ``last`` (``-1``: before epoch 0): the
    latest compaction base (``seen_base``, else the seed frontier) +
    the per-epoch junction deltas since. Append-only — each epoch
    writes O(new URLs), never rewrites the set (at 10^10 URLs a full
    rewrite per epoch would dominate the job); periodic compaction
    bounds the union width. Per-path reads unioned by name: the seed
    file and the junction slices have different physical schemas
    (narrow vs superset), so a single multi-path read would pick one
    footer's schema arbitrarily."""
    base = _base_epoch(workdir, last, "seen_base")
    if base is None:
        paths, start = [os.path.join(workdir, "frontier_seed")], 0
    else:
        paths, start = [os.path.join(_epoch_dir(workdir, base), "seen_base")], base + 1
    paths += [_junction_path(workdir, e, "seen") for e in range(start, last + 1)]
    reads = [
        spark.read.schema(_SEEN_SCHEMA).parquet(p) for p in paths if os.path.exists(p)
    ]
    return reduce(DataFrame.unionByName, reads)


def latest_complete_epoch(workdir: str) -> int | None:
    """Highest epoch with a commit marker (atomic: written last)."""
    best = None
    if not os.path.isdir(workdir):
        return None
    for name in os.listdir(workdir):
        if name.startswith("epoch=") and os.path.exists(
            os.path.join(workdir, name, "_COMMIT")
        ):
            e = int(name.split("=")[1])
            best = e if best is None or e > best else best
    return best


def run_crawl(
    spark: SparkSession,
    world: World,
    seeds: list[tuple[str, int]],
    workdir: str,
    max_epochs: int = 10,
    resume: bool = False,
    compact_every: int = 16,
    authority: DataFrame | None = None,
    authority_weight: float = 1.0,
    use_sitemaps: bool = False,
    trap_guard: "TrapGuard | None" = None,
) -> dict:
    """Run (or resume) the crawl; returns summary dict with table paths.

    Output tables under ``workdir``: images/, order/, lineage/ plus
    per-epoch state snapshots for resume.

    ``authority`` (url_hash, rank) reweights frontier priority to
    -depth + weight·rank (see schedule.with_frontier_columns) — the
    recrawl loop: crawl N's committed link graph (read_links) feeds
    linkrank.authority_from_crawl, whose output orders crawl N+1.
    Determinism: authority is itself a deterministic table; a resumed
    crawl must be handed the SAME table to stay bit-identical.

    ``use_sitemaps`` seeds the epoch-0 frontier from every host's
    sitemap tree (functions/sitemap.py) in addition to ``seeds`` —
    canonicalized, same-host-filtered, then deduped/robots-filtered by
    the shared seed path. Resume never re-fetches sitemaps (the seed
    frontier snapshot already carries their URLs).

    ``trap_guard`` (operators/trapguard.TrapGuard) drops spider-trap
    URLs (length/depth/param caps, repeating segments, session ids)
    from the frontier at BOTH insertion points — seeds and discovered
    links — as a codegen'd Column filter; the committed link graph
    still records raw edges (trap URLs are observed, never fetched),
    mirroring the oracle crawler. Like ``authority``, a resumed crawl
    must be handed the same guard to stay bit-identical.
    """
    from bisque_spark.functions.robots import fetch_robots
    from bisque_spark.functions.urlnorm import with_canonical

    # robots table via the one fetch+parse stage (functions/robots.py);
    # its verdicts equal robots_rows(world)'s prefix rules — pinned by
    # tests/test_robots.py — so the oracle contract is unchanged, and
    # its sitemaps column seeds the frontier (no second robots fetch)
    hosts = spark.createDataFrame(
        [(world.host(i),) for i in range(world.n_hosts)], "host string"
    )
    robots = fetch_robots(hosts, world).persist()

    start_epoch = 0
    if resume:
        last = latest_complete_epoch(workdir)
        if last is not None:
            start_epoch = last + 1
    elif os.path.isdir(workdir):
        shutil.rmtree(workdir)

    if start_epoch > 0:
        frontier_path = _junction_path(workdir, start_epoch - 1, "frontier")
    else:
        # ONE pre-loop write: the canonicalized, robots-filtered seed
        # frontier. Epoch 0's seen set is a column slice of the same
        # file (_read_seen_union) — round 1 spent two extra jobs here.
        raw = spark.createDataFrame(seeds, schema="url string, rank int")
        canon = with_canonical(raw).where(F.col("url").isNotNull())
        seed_urls_df = canon.select("url")
        if use_sitemaps:
            # sitemaps.org frontier seeding: every host's sitemap tree
            # contributes depth-0 URLs alongside the seed list; the
            # same-host rule is applied on the CANONICAL form (a
            # cross-host or case-mangled loc can't smuggle a foreign
            # URL in). Dedup + robots run in the shared path below —
            # sitemap URLs get no special treatment after this line,
            # which is what keeps the oracle differential simple.
            from bisque_spark.functions.sitemap import sitemap_seed_locs
            from bisque_spark.functions.urlnorm import host_col

            sm = sitemap_seed_locs(robots, world)
            smc = with_canonical(sm, url_col="loc", out_col="url").where(
                F.col("url").isNotNull()
                & (host_col("url") == F.col("host"))
            )
            seed_urls_df = seed_urls_df.unionByName(smc.select("url"))
        seeded = with_frontier_columns(
            seed_urls_df.withColumn("depth", F.lit(0)), epoch=0,
            authority=authority, authority_weight=authority_weight,
        ).dropDuplicates(["url_hash"])
        if trap_guard is not None:
            from bisque_spark.operators.trapguard import filter_traps

            seeded, _ = filter_traps(seeded, trap_guard)
        seeded = apply_robots(seeded, robots)
        frontier_path = os.path.join(workdir, "frontier_seed")
        # the seed write keeps its natural parallelism: it happens ONCE
        # per crawl (not per epoch), so its file count is not a
        # small-file concern, and both alternatives measured worse —
        # coalesce(small) propagates backward and squeezes the robots
        # fetch + canonicalize UDF to a handful of tasks (2x slower),
        # repartition(small) adds an exchange to the pre-loop critical
        # path (r6 A/B)
        _write(seeded.select(*FRONTIER_COLS), frontier_path)
        if use_sitemaps:
            # the seed write is the terminal action over the pinned
            # sitemap doc table (util.pin contract) — release it so the
            # crawl loop starts with a clean cache registry
            from bisque_spark.util import release_caches

            release_caches()

    epoch = start_epoch
    while epoch < max_epochs:
        # every frontier (seed, resume, committed junction) is read from
        # parquet: emptiness (and size) from the footers — a driver-local
        # metadata read, no Spark job; a path the write left out (no
        # rows) reads as 0. Reading the committed state back cuts lineage
        # growth across the loop and makes resume = continue exactly.
        frontier_rows = _parquet_num_rows(frontier_path)
        if frontier_rows == 0:
            break
        frontier = spark.read.schema(_FRONTIER_SCHEMA).parquet(frontier_path)
        # the salted two-phase rank is skew armor for huge frontiers;
        # below ~200k rows the single exact window is result-identical
        # and one shuffle cheaper (footer count makes this free)
        two_phase = frontier_rows > 200_000
        scheduled, deferred = politeness_select(
            frontier, world.host_budget_base, two_phase=two_phase
        )
        scheduled = scheduled.persist()
        order_log = scheduled.select(
            F.lit(epoch).alias("epoch"),
            "host",
            "host_rank",
            "priority",
            "url_hash",
            "url",
        )

        # fused fetch+decode+parse+extract: one Arrow stage per epoch.
        # Persisted because five junction slices consume it (images,
        # links, links→frontier, seen, lineage); the junction write job
        # populates the cache and reads it five ways.
        # (A repartition-exchange above the UDF would be reusable in
        # principle, but Catalyst pushes each slice's column pruning
        # BELOW the exchange, making the four exchanges non-identical —
        # measured 3-4x fetch recompute. Cache, not exchange, is the
        # sharing mechanism here.)
        extracted = (
            scheduled.select("url")
            .mapInPandas(make_fetch_extract_batches(world), schema=EXTRACT_SCHEMA)
            .persist()
        )

        images_flat = extracted.select(
            F.explode("images").alias("img")
        ).select("img.image_id", "img.caption")
        images = images_flat.mapInPandas(
            materialize_images_batches, schema=IMAGES_SCHEMA
        )

        links = extracted.select(F.explode("links").alias("url"))
        candidates = with_frontier_columns(
            links.withColumn("depth", F.lit(epoch + 1)), epoch=epoch + 1,
            authority=authority, authority_weight=authority_weight,
        )
        if trap_guard is not None:
            from bisque_spark.operators.trapguard import filter_traps

            candidates, _ = filter_traps(candidates, trap_guard)
        candidates = apply_robots(candidates, robots)

        # URL-seen: exact anti-join against the committed seen union
        seen_exact = _read_seen_union(spark, workdir, epoch - 1)
        # persisted: two junction slices read it (frontier, seen delta)
        new_urls = (
            filter_unseen(candidates, None, seen_exact, dedup_key="url_hash")
            .select(*FRONTIER_COLS)
            .persist()
        )

        # persisted so the junction's coalesced frontier slice reads
        # CACHE: deferred's politeness window is not otherwise
        # persisted, and a bare coalesce(small) would drag that window
        # rank down to `small` tasks inside the write job — at 10^10
        # frontiers exactly the serialization the salted rank avoids
        next_frontier = (
            deferred.select(*FRONTIER_COLS).unionByName(new_urls).persist()
        )
        new_hashes = new_urls.select("url_hash")

        # NO separate warm action (r8): the junction write job itself
        # populates the persisted chain — Spark's BlockManager takes a
        # per-block write lock in getOrElseUpdate, so concurrent slice
        # tasks serialize on the cache instead of recomputing it (the
        # r7 A/B probe, now the default: the dedicated warm count was
        # ~2 s/epoch of serial driver+action latency and the junction
        # job absorbs the same work for ~1 s — measured 14.7 → 13.0 s
        # on the bench world).

        # ---- commit epoch state ------------------------------------------
        # ONE write job per epoch: all six slices go to junction/ as one
        # partitioned table, then lineage.json, then _COMMIT — written
        # last, so a crash anywhere before it resumes from the previous
        # marker and redoes the whole epoch with overwrite semantics.
        d = _epoch_dir(workdir, epoch)
        lineage_row = extracted.agg(
            F.count(F.lit(1)).alias("n_scheduled"),
            F.sum(F.col("error").isNull().cast("long")).alias("n_fetched"),
        ).withColumn("epoch", F.lit(epoch))
        # the narrow slices are O(frontier) rows — at any parallelism
        # they'd otherwise contribute ~5×cores tiny tasks AND files per
        # epoch (measured ~2 s/epoch of fixed scheduling+commit cost at
        # local[8]; at cluster scale, small-file metadata pressure on
        # the object store). Coalesce each to a core-proportional
        # handful; images keeps full parallelism (it carries the bytes
        # and the materialize UDF).
        small = max(4, spark.sparkContext.defaultParallelism // 4)
        # link-graph slice: (src url_hash → dst_hash) straight off the
        # cached fetch+extract output — the raw observed graph (before
        # robots/dedup), which is what link-authority ranking consumes
        edges = (
            extracted.select(
                url_hash_col().alias("url_hash"),
                F.explode("links").alias("__dst"),
            )
            .withColumn("dst_hash", url_hash_col("__dst"))
            .select("url_hash", "dst_hash")
        )
        slices = [
            _junction_slice(next_frontier.coalesce(small), "frontier"),
            _junction_slice(new_hashes.coalesce(small), "seen"),
            _junction_slice(lineage_row, "lineage"),
            _junction_slice(order_log.coalesce(small), "order"),
            _junction_slice(images, "images"),
            _junction_slice(edges.coalesce(small), "links"),
        ]
        reduce(DataFrame.unionByName, slices).write.mode(
            "overwrite"
        ).partitionBy("table").parquet(os.path.join(d, "junction"))

        # periodic state compaction: collapse the seen delta chain into
        # one base so the read-side union width stays bounded (a
        # 10^4-epoch crawl would otherwise union 10^4 delta paths per
        # epoch). Written BEFORE _COMMIT, so a crash mid-compaction
        # redoes the whole epoch — commit atomicity unchanged.
        if compact_every and (epoch + 1) % compact_every == 0:
            _write(
                _read_seen_union(spark, workdir, epoch),
                os.path.join(d, "seen_base"),
            )

        # counters come from the lineage slice written above — a
        # one-row driver-local parquet read, not a Spark job
        import pyarrow.parquet as pq

        lin = pq.read_table(
            _junction_path(workdir, epoch, "lineage"),
            columns=["n_scheduled", "n_fetched"],
        ).to_pylist()[0]
        rows_scheduled = lin["n_scheduled"] or 0
        rows_fetched = lin["n_fetched"] or 0
        lineage = {
            "epoch": epoch,
            "rows_scheduled": rows_scheduled,
            "rows_fetched": rows_fetched,
            "rows_failed": rows_scheduled - rows_fetched,
        }
        with open(os.path.join(d, "lineage.json"), "w") as f:
            json.dump(lineage, f)
        with open(os.path.join(d, "_COMMIT"), "w") as f:
            f.write("ok")
        for c in (scheduled, extracted, new_urls, next_frontier):
            c.unpersist()
        frontier_path = _junction_path(workdir, epoch, "frontier")
        epoch += 1

    robots.unpersist()
    return {
        "workdir": workdir,
        "epochs": epoch,
        **{
            f"{table}_paths": _slice_paths(workdir, epoch, table)
            for table in ("order", "images", "links")
        },
    }


def read_order(spark: SparkSession, result: dict) -> DataFrame:
    return spark.read.schema(_ORDER_SCHEMA).parquet(*result["order_paths"])


def read_images(spark: SparkSession, result: dict) -> DataFrame:
    return spark.read.schema(IMAGES_SCHEMA).parquet(*result["images_paths"])


def read_seen(spark: SparkSession, result: dict) -> DataFrame:
    last = latest_complete_epoch(result["workdir"])
    return _read_seen_union(spark, result["workdir"], -1 if last is None else last)


def read_links(spark: SparkSession, result: dict) -> DataFrame:
    """The crawl's committed link graph: (url_hash src → dst_hash)
    across all epochs — the edge table linkrank.link_rank consumes."""
    return spark.read.schema(_LINKS_SCHEMA).parquet(*result["links_paths"])
