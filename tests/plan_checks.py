"""The plan-property check table.

One entry per plan the engine's claims rest on, each with the patterns
its formatted physical plan must match — filter/column pushdown to the
scan, broadcast dim joins, top-k pruned inside the window, no Python in
JVM-expressible stages — or, with a leading ``!``, must not match. ``tests/test_plans.py`` runs every entry in the
gate; ``scripts/explain_plans.py`` renders the same entries, plans and
verdicts into EXPLAIN.md. A helper module, not collected by pytest.
Explain only: nothing heavy executes.
"""

from __future__ import annotations

import contextlib
import io
import re

SF = "/root/testdata/sf0.001"


def plan_text(df) -> str:
    """``df``'s formatted physical plan, as ``explain`` prints it."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def check(plan: str, pattern: str) -> bool:
    """Whether ``plan`` has the property ``pattern`` states: a regex
    match, or no match when the pattern starts with ``!``."""
    if pattern.startswith("!"):
        return re.search(pattern[1:], plan) is None
    return re.search(pattern, plan) is not None


def exchange_count(df) -> int:
    """Number of shuffle Exchange operators in the physical plan —
    0 for a fully co-located join. (ShuffleExchange only;
    BroadcastExchange is not a shuffle.) Counts the formatted plan's
    per-node detail headers, ``(3) Exchange``, so each operator counts
    once, not again for its line in the tree."""
    return len(re.findall(r"(?m)^\(\d+\) Exchange\b", plan_text(df)))


def _q(name, checks):
    """Table entry for the graded query ``name`` over the SF tables."""

    def build(spark, tmp):
        import __spark_entry__ as entrymod

        return entrymod.queries()[name](spark, SF)

    return name, build, checks


def _seen_inputs(spark):
    import pyspark.sql.functions as F

    cand = spark.range(1000).select(
        F.concat(F.lit("http://h"), F.col("id")).alias("url"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
    )
    seen = spark.range(500).select(
        F.xxhash64((F.col("id") * 2).cast("string")).alias("url_hash")
    )
    return cand, seen


def filter_unseen_plan(spark, tmp):
    """Plan for the bloom membership stage: the shard blob must ride a
    COGROUP (one blob per bucket group), never a per-row join column
    (VERDICT r01 #4 done-criterion)."""
    from bisque_spark.operators.seen import build_shards, filter_unseen

    cand, seen = _seen_inputs(spark)
    shards = build_shards(seen)
    return filter_unseen(cand, shards, seen, dedup_key="url_hash")


def filter_unseen_exact_plan(spark, tmp):
    """Plan for the crawl's URL-seen path (shards=None): a
    dropDuplicates + left_anti join, with no Python worker at all."""
    from bisque_spark.operators.seen import filter_unseen

    cand, seen = _seen_inputs(spark)
    return filter_unseen(cand, None, seen, dedup_key="url_hash")


def diversity_sample_plan(spark, tmp):
    """Plan for cluster-stratified sampling: the per-cell cap must be a
    WindowGroupLimit (partitions pruned to k before full sort), no
    Python in the rank path."""
    import pyspark.sql.functions as F

    from bisque_spark.operators.similarity import diversity_sample

    assigned = spark.range(5000).select(
        F.col("id").cast("int").alias("vec_id"),
        (F.col("id") % 16).cast("int").alias("cell"),
    )
    return diversity_sample(assigned, k_per_cell=10)


def cuckoo_membership_plan(spark, tmp):
    """Plan for the cuckoo maybe-seen stage: same cogroup contract as
    the bloom shards — the filter blob never rides the row plan."""
    import pyspark.sql.functions as F

    from bisque_spark.operators.seen import (
        CUCKOO,
        Cuckoo,
        build_shards,
        mark_maybe_seen,
    )

    cand = spark.range(1000).select(F.xxhash64("id").alias("url_hash"))
    shards = build_shards(cand, n_buckets=8, kernel=Cuckoo(nb=1 << 9))
    return mark_maybe_seen(cand, shards, n_buckets=8, kernel=CUCKOO)


def linkrank_step_plan(spark, tmp):
    """Plan for one PageRank power-iteration step: the dangling-mass
    aggregate must ride a broadcast one-row join inside the SAME plan
    (no per-iteration driver collect — VERDICT r4 #3), and the whole
    step is Python-free."""
    import pyspark.sql.functions as F

    from bisque_spark.operators.linkrank import rank_step

    e = spark.range(2000).select(
        (F.col("id") % 97).alias("s"), ((F.col("id") * 7) % 101).alias("d")
    )
    verts = (
        e.select(F.col("s").alias("id"))
        .unionByName(e.select(F.col("d").alias("id")))
        .distinct()
    )
    out_deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    ed = e.join(out_deg, "s")
    ranks = verts.withColumn("rank", F.lit(1.0 / 101))
    return rank_step(verts, ed, out_deg, ranks, 0.85, 101)


def authority_schedule_plan(spark, tmp):
    """Plan for the authority-weighted politeness schedule: the
    (url_hash, rank) authority join must not push Python into the
    frontier path, and the two-phase salted rank must keep its
    WindowGroupLimit-free row_number windows JVM-side."""
    import pyspark.sql.functions as F

    from bisque_spark.operators.schedule import (
        politeness_select,
        with_frontier_columns,
    )

    raw = spark.range(5000).select(
        F.concat(
            F.lit("http://h"), (F.col("id") % 40).cast("string"),
            F.lit(".test/p"), F.col("id").cast("string"),
        ).alias("url"),
        (F.col("id") % 3).cast("int").alias("depth"),
    )
    authority = spark.range(500).select(
        F.xxhash64((F.col("id") * 3).cast("string")).alias("url_hash"),
        (F.lit(1.0) / (F.col("id") + 1)).alias("rank"),
    )
    fr = with_frontier_columns(
        raw, epoch=0, authority=authority, authority_weight=4.0
    ).withColumn("crawl_delay", F.lit(1.0))
    scheduled, _ = politeness_select(fr, budget_base=8)
    return scheduled


def trapguard_plan(spark, tmp):
    """Plan for the spider-trap frontier filter: pure codegen'd Column
    predicates (parse_url + rlike) — no Python stage, no shuffle, so
    the guard is free at 10^10-URL frontier scale."""
    import pyspark.sql.functions as F

    from bisque_spark.operators.trapguard import TrapGuard, filter_traps

    frontier = spark.range(5000).select(
        F.concat(
            F.lit("http://h"),
            (F.col("id") % 40).cast("string"),
            F.lit(".example/p"),
            F.col("id").cast("string"),
            F.lit(".html"),
        ).alias("url")
    )
    kept, _rejected = filter_traps(frontier, TrapGuard())
    return kept


def dedup_lines_plan(spark, tmp):
    """Plan for corpus line dedup: the keeper per line must come from
    a hash-partitioned groupBy MIN (map-side partial aggregation
    absorbs hot boilerplate lines) — never a window rank partitioned
    by the line, which would funnel a 10^8-occurrence line through
    one task."""
    import pyspark.sql.functions as F

    from bisque_spark.functions.text import dedup_lines_corpus

    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("shared boilerplate line\nbody "),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    return dedup_lines_corpus(docs)


def semantic_dedup_plan(spark, tmp):
    """Plan for SemDeDup: the within-cell pair space must come from a
    `cell` equi-join (never a cross join), the survivor filter is a
    left-anti join on ids only, and the whole comparison path is pure
    JVM Column arithmetic."""
    import pyspark.sql.functions as F

    from bisque_spark.operators.similarity import semantic_dedup

    assigned = spark.range(3000).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 16).cast("int").alias("cell"),
        F.array(
            (F.col("id") % 7).cast("double"),
            (F.col("id") % 13).cast("double"),
        ).alias("embedding"),
    )
    return semantic_dedup(assigned, tau=0.95)


def image_curation_plan(spark, tmp):
    """Pre-sink plan of the REAL run_image_curation composition
    (plan_only=True): the decode is ONE cached Arrow stage consumed by
    every downstream branch, both dedup pair spaces are equi-joins
    (band keys / content hashes — pixels never shuffle), the diversity
    cap is a WindowGroupLimit, and no row-at-a-time Python exists
    anywhere."""
    import pyspark.sql.functions as F

    from bisque_spark.operators.extract import materialize_images_batches
    from bisque_spark.plans.curate_images import run_image_curation

    images = spark.range(300).select(
        F.concat(F.lit("img-x-"), F.col("id")).alias("image_id"),
        F.lit("a caption").alias("caption"),
    ).mapInPandas(
        materialize_images_batches,
        schema="image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )
    return run_image_curation(spark, images, workdir="", plan_only=True)


def catalog_bucketed_plan(spark, tmp):
    """Zero-exchange equi-join on CATALOG-MANAGED bucketed tables
    (VERDICT r5 #6): both sides come out of the snapshot catalog via
    read_bucketed — the bucket distribution survives the manifest
    layer, so the SortMergeJoin plans without a shuffle on either
    side."""
    import pyspark.sql.functions as F

    from bisque_spark.sources.catalog import ParquetCatalog

    cat = ParquetCatalog(spark, tmp)
    ddl = "url_hash long, score double"
    for t in ("ebkt_a", "ebkt_b"):
        cat.create_table(t, ddl, bucket_by=("url_hash", 8))
        cat.append(
            t,
            spark.range(2000).select(
                F.col("id").alias("url_hash"),
                (F.col("id") % 7).cast("double").alias("score"),
            ),
        )
    a = cat.read_bucketed("ebkt_a")
    b = cat.read_bucketed("ebkt_b").select("url_hash")
    return a.hint("merge").join(b, "url_hash")


# (name, build(spark, tmp) -> DataFrame, [(pattern, why)]), in EXPLAIN.md
# order. ``tmp`` is a scratch directory that exists while the plan is
# built and rendered; the caller removes it.
CHECKS = [
    _q("pricing_summary", [
        ("PushedFilters", "filter reaches parquet scan"),
        ("HashAggregate", "hash aggregation"),
        ("partial", "map-side partial aggregation"),
        ("!EvalPython", "no Python in the agg pipeline"),
    ]),
    _q("revenue_by_nation", [
        ("BroadcastHashJoin", "dim joins broadcast"),
        ("!EvalPython", "no Python anywhere"),
    ]),
    _q("events_politeness_topk", [
        ("Window", "window rank"),
        ("WindowGroupLimit", "rank<=k pushed into the window (top-k prune)"),
        ("!EvalPython", "no Python"),
    ]),
    _q("emb_knn_query0", [
        ("BroadcastNestedLoopJoin", "query vector broadcast"),
        ("TakeOrderedAndProject", "top-k as ordered-take, not full sort"),
        ("!EvalPython", "cosine is a JVM expression"),
    ]),
    _q("doc_token_stats", [
        ("!EvalPython", "string metrics are JVM exprs (no Python)"),
        ("Scan parquet", "direct parquet scan"),
    ]),
    _q("minhash_near_dups", [
        ("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", "LSH equi-join planned"),
        ("InMemoryTableScan|TableCacheQueryStage", "signatures cached across self-join"),
        (
            "FlatMapCoGroupsInPandas",
            "est verify co-located on the pair grid (r8: signatures "
            "travel O(n·2g), never per-candidate)",
        ),
    ]),
    _q("crawl_epoch_schedule", [
        ("BroadcastHashJoin", "robots join broadcast"),
        ("Window", "politeness rank windows"),
        ("!EvalPython", "RFC 9309 robots matcher is JVM-only (no Python)"),
    ]),
    _q("doc_bpe_tokens", [
        ("!EvalPython", "BPE-ish token count is a JVM regex expression"),
        ("Scan parquet", "direct parquet scan"),
    ]),
    _q("doc_langid", [
        ("!EvalPython", "language ID is pure Column exprs (no UDF)"),
    ]),
    _q("lsh_embedding_pairs", [
        (
            r"hashpartitioning\(tkey",
            "ONE shuffle on the table-tagged bucket key (never a "
            "cross join)",
        ),
        (
            "MapInPandas",
            "bucket-grouped numpy GEMM verify (r8: candidate pairs "
            "never materialize as join rows; only survivors are "
            "emitted)",
        ),
        ("!BroadcastNestedLoopJoin", "no all-pairs fallback"),
        (
            "!SortMergeJoin",
            "no per-candidate vector-attach joins (r8)",
        ),
    ]),
    _q("emb_ivf_topk", [
        ("TakeOrderedAndProject", "top-k as ordered-take, not full sort"),
        (
            r"cell#\d+ (IN|INSET)",
            "probe pruning reaches the scan as a cell filter",
        ),
    ]),
    _q("shipping_priority", [
        ("PushedFilters", "segment/date filters reach the parquet scans"),
        ("TakeOrderedAndProject", "top-10 as ordered-take"),
        ("!EvalPython", "pure JVM"),
    ]),
    _q("regional_revenue", [
        ("BroadcastHashJoin", "nation/region broadcast in the 5-way join"),
        ("!EvalPython", "pure JVM"),
    ]),
    _q("events_rollup_incremental", [
        ("Expand", "delta rollup still one grouping-sets pass"),
        ("!EvalPython", "pure JVM"),
    ]),
    _q("crawl_refresh_schedule", [
        ("BroadcastHashJoin", "refresh policy dim broadcast"),
        ("WindowGroupLimit", "per-host cap pushed into the window"),
        ("!EvalPython", "pure JVM"),
    ]),
    ("catalog_bucketed_join", catalog_bucketed_plan, [
        ("SortMergeJoin", "bucketed join planned as SMJ"),
        ("!Exchange hashpartitioning", "ZERO shuffle exchanges"),
        ("!EvalPython", "pure JVM"),
    ]),
    ("image_curation_funnel", image_curation_plan, [
        ("InMemoryTableScan|TableCacheQueryStage",
         "decode-once: signals cached across every consumer"),
        ("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         "dedup pair spaces are equi-joins (band/content keys)"),
        ("!CartesianProduct", "no all-pairs pixel comparison"),
        ("WindowGroupLimit", "diversity cap pruned inside the window"),
        ("!BatchEvalPython", "no row-at-a-time Python anywhere"),
    ]),
    ("semantic_dedup", semantic_dedup_plan, [
        ("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         "within-cell pairs via cell equi-join"),
        ("!CartesianProduct", "cross-cell pair space never built"),
        ("LeftAnti", "survivors = ids-only anti-join"),
        ("!EvalPython", "cosine path pure JVM"),
    ]),
    ("trap_guard_filter", trapguard_plan, [
        ("Filter", "guard is a plain pushed filter"),
        ("!Exchange", "no shuffle added to the frontier path"),
        ("!EvalPython", "rules are codegen'd (parse_url/rlike), no UDF"),
    ]),
    ("dedup_lines_corpus", dedup_lines_plan, [
        ("partial_min|HashAggregate", "keeper = map-side partial MIN"),
        (r"!Window.*__line", "no per-line window rank (skew funnel)"),
        ("!EvalPython", "pure JVM"),
    ]),
    ("authority_schedule", authority_schedule_plan, [
        ("BroadcastHashJoin|SortMergeJoin", "authority is a JVM join"),
        ("RunningWindowFunction|Window", "politeness rank is a window"),
        ("!EvalPython", "frontier path pure JVM"),
    ]),
    ("linkrank_step", linkrank_step_plan, [
        ("BroadcastNestedLoopJoin|BroadcastExchange",
         "dangling-mass one-row aggregate broadcast, not collected"),
        ("!EvalPython", "pure JVM"),
        ("!CollectLimit", "no driver-side scalar in the step"),
    ]),
    ("filter_unseen_bloom", filter_unseen_plan, [
        ("FlatMapCoGroupsInPandas", "blob ships once per bucket group"),
        ("!BroadcastHashJoin.*bloom", "no per-row bloom join"),
        (r"!bloom#\d+\]\s*$", "bloom column never in the output row plan"),
    ]),
    ("filter_unseen_exact", filter_unseen_exact_plan, [
        ("LeftAnti", "seen set answered by a left_anti join"),
        ("!FlatMapCoGroupsInPandas", "no filter cogroup"),
        ("!(ArrowEvalPython|BatchEvalPython|InPandas|PythonUDF)",
         "no Python UDF node"),
    ]),
    ("diversity_sample", diversity_sample_plan, [
        ("WindowGroupLimit", "per-cell cap pruned inside the window"),
        ("!EvalPython", "rank path pure JVM"),
    ]),
    ("cuckoo_mark_maybe_seen", cuckoo_membership_plan, [
        ("FlatMapCoGroupsInPandas", "filter blob ships once per bucket"),
        (r"!cuckoo#\d+\]\s*$", "cuckoo column never in the row plan"),
    ]),
]
