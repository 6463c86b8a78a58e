"""Image-caption curation plan over the crawl's images table
(image_id, bytes, w, h, fmt, caption, phash).

One deterministic pass from raw crawled images to a curated,
deduplicated, diversity-sampled image-caption corpus in the snapshot
catalog (the LAION/DataComp-style funnel, re-expressed Spark-first):

 1. signals        — ONE fused decode per image: sharpness / entropy /
                     colorfulness + a fixed-length luma thumbnail
                     vector (multimodal.image_signals). Undecodable
                     rows carry an error and fall out at stage 2.
 2. validity gate  — decodable, min side length, bounded aspect ratio
                     (pure Column exprs over the metadata)
 3. quality gate   — blur cut (Laplacian variance), flat-fill cut
                     (luma entropy) — Column exprs over stage-1 output
 4. caption gate   — token count + language over the CAPTION text,
                     reusing the verified text operators (JVM exprs)
 5. exact dedup    — md5 over the raw bytes, min image_id wins
 6. near-dup keep  — phash pigeonhole pairs → connected components →
                     canonical representative per cluster
 7. diversity      — ≤ k images per IVF cell of the thumbnail-vector
                     space (no second decode: stage 1 already emitted
                     the vectors)
 8. sink           — MERGE into the snapshot catalog (copy-on-write,
                     file-stats pruned on image_id), so re-runs upsert
                     instead of duplicating

Every stage is an operator verified elsewhere (pure-python quality
oracles, DuckDB-hash-graded dedup, plan-asserted banding); this plan
pins their COMPOSITION: a monotone funnel, deterministic output (ties
by image_id, no rand()), and an idempotent sink. Scale shape: stage 1
is the single Arrow decode pass (the 100-TB cost center — everything
downstream reuses its output); 2-4 are codegen'd Column filters on a
narrow frame (bytes dropped immediately after stage 5's hash); 5-6
shuffle on content hashes / 64-bit band keys only, never pixels; 7 is
one window shuffle over (cell, rank); 8 rewrites only catalog files
whose image_id ranges intersect the delta.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def run_image_curation(
    spark: SparkSession,
    images: DataFrame,
    workdir: str,
    min_side: int = 8,
    max_aspect: float = 8.0,
    min_sharpness: float = 1.0,
    min_entropy: float = 0.5,
    min_caption_tokens: int = 1,
    require_caption_lang: bool = False,
    max_hamming: int = 4,
    sample_per_cell: int = 50,
    n_cells: int = 8,
    thumb_target: int = 8,
    semantic_tau: float | None = None,
    plan_only: bool = False,
) -> dict | DataFrame:
    """images(image_id, bytes, w, h, fmt, caption, phash) → curated
    image-caption corpus in the catalog at ``workdir``; returns stage
    counts (a monotone funnel).

    ``plan_only=True`` skips every count action and the sink and
    returns the lazy pre-sink frame — tests/plan_checks.py checks
    the REAL composition's physical plan through this path (one decode
    stage, equi-join-only pair spaces, WindowGroupLimit cap), not a
    hand-built replica that could drift."""
    from bisque_spark.functions.text import langid_col, quality_cols
    from bisque_spark.operators.cluster import keep_canonical
    from bisque_spark.operators.dedup import exact_dedup
    from bisque_spark.operators.multimodal import (
        image_signals,
        phash_near_pairs,
    )
    from bisque_spark.operators.similarity import diversity_sample, ivf_build
    from bisque_spark.sources.catalog import ParquetCatalog
    from bisque_spark.util import pin, release_caches, spread

    counts: dict[str, int] = {}
    if not plan_only:
        counts["input"] = images.count()

    # 1: the one decode pass. Pinned — five consumers (three gates,
    # the dedup joins, the diversity vectors) must NOT re-decode.
    # spread(): a small parquet-read corpus arrives as 1 partition and
    # would serialize the Arrow decode; guarded no-op at cluster scale.
    sig = pin(image_signals(spread(images), thumb_target=thumb_target))

    # 2-3: validity + quality, pure Column exprs. The metadata gate
    # works off the images frame (w/h/caption stay there); the decoded
    # signals join in on image_id. One shuffle-free broadcast is wrong
    # here — both sides are the full corpus — so this is a plain
    # equi-join on the id, and it stays ids+scalars wide.
    meta_ok = images.where(
        (F.least(F.col("w"), F.col("h")) >= min_side)
        & (
            F.greatest(F.col("w"), F.col("h"))
            <= max_aspect * F.least(F.col("w"), F.col("h"))
        )
    )
    quality_ok = sig.where(
        F.col("error").isNull()
        & (F.col("sharpness") >= min_sharpness)
        & (F.col("entropy") >= min_entropy)
    ).select("image_id", "thumb_vec")
    gated = pin(meta_ok.join(quality_ok, "image_id"))
    if not plan_only:
        counts["after_quality"] = gated.count()

    # 4: caption gate — the text side of the pair, reusing the
    # verified JVM text operators on the caption column.
    cap_tokens = quality_cols("caption")["n_tokens"]
    cap_filter = F.coalesce(cap_tokens, F.lit(0)) >= min_caption_tokens
    if require_caption_lang:
        cap_filter = cap_filter & (langid_col("caption") != "und")
    captioned = gated.where(cap_filter)
    if not plan_only:
        counts["after_caption"] = captioned.count()

    # 5: exact dedup — md5 over the raw bytes (byte-identical
    # re-crawls of the same asset), min image_id wins.
    exact_keep = exact_dedup(captioned, "image_id", "bytes").select(
        "image_id"
    )
    deduped = captioned.join(exact_keep, "image_id")

    # 6: perceptual near-dup — phash pigeonhole banding (100% recall
    # within max_hamming by construction) → connected components →
    # min-id canonical keep. Pixels never shuffle: the pair join moves
    # (id, 64-bit band key) only.
    pairs = phash_near_pairs(
        deduped.select("image_id", "phash"), max_hamming=max_hamming
    )
    kept = pin(
        keep_canonical(deduped, pairs, "image_id", src="id_a", dst="id_b")
    )
    if not plan_only:
        counts["after_dedup"] = kept.count()

    # 7: diversity sample over the thumbnail-vector space from stage 1
    # — no second decode. ≤ k per IVF cell, deterministic permutation
    # rank inside each cell.
    emb = kept.select("image_id", F.col("thumb_vec").alias("embedding"))
    assigned, _ = ivf_build(
        emb, id_col="image_id", n_cells=n_cells, pin_index=False
    )
    # 7b (optional): SemDeDup over the SAME index build — phash (6)
    # catches pixel-level twins; this drops images whose THUMBNAIL
    # VECTORS nearly coincide (rescaled/re-encoded variants whose
    # pixels, and hence phash, differ) at cosine ≥ tau, min id kept.
    if semantic_tau is not None:
        from bisque_spark.operators.similarity import semantic_dedup

        assigned = semantic_dedup(
            assigned, tau=semantic_tau, id_col="image_id"
        )
        if not plan_only:
            counts["after_semantic"] = assigned.count()
    sampled_ids = diversity_sample(
        assigned, k_per_cell=sample_per_cell, id_col="image_id"
    ).select("image_id")
    final = kept.join(sampled_ids.distinct(), "image_id")
    if not plan_only:
        counts["final"] = final.count()

    if plan_only:
        return final

    # 8: idempotent catalog sink — keyed on image_id, so re-running
    # the plan upserts rather than duplicating.
    cat = ParquetCatalog(spark, workdir)
    if not cat.exists("curated_images"):
        cat.create_table(
            "curated_images",
            "image_id string, caption string, w int, h int, fmt string,"
            " phash bigint, sharpness double, entropy double",
            stats_key="image_id",
        )
    sig_scores = sig.select("image_id", "sharpness", "entropy")
    cat.merge_by_key(
        "curated_images",
        final.select(
            "image_id", "caption", "w", "h", "fmt", "phash"
        ).join(sig_scores, "image_id"),
        key="image_id",
    )
    counts["catalog_version"] = cat.version("curated_images")
    release_caches()
    return counts
