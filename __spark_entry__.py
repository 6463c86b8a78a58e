"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship multi-operator pipeline on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 /
§2.7 plus the training-data pipeline operators).
``oracle_sql()`` — DuckDB-equivalent SQL for every query: relational /
text / crawl semantics re-expressed in ANSI SQL; approximate and
multimodal operators via driver-side fixture VALUES (python-twin or
seeded-numpy artifacts + SQL re-expression of banding/joins); the two
parse queries via VALUES computed by the REFERENCE parser itself
(rows-only fallback only when the reference tree is absent).
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

EN_STOP = sorted({"the", "a", "of", "and", "to", "in", "is", "it", "that", "for"})


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: document quality + fingerprint + near-dup pipeline on
    sf0.001 — exercises JVM text operators, Arrow UDFs, joins."""
    from bisque_spark.functions.text import (
        fingerprint_udf,
        langid_col,
        quality_cols,
    )

    docs = _load(spark, "/root/testdata/sf0.001", "documents")
    q = quality_cols("text")
    enriched = docs.select(
        "doc_id",
        "lang",
        q["n_tokens"].alias("n_tokens"),
        F.round(q["punct_ratio"], 6).alias("punct_ratio"),
        F.round(q["stopword_ratio"], 6).alias("stopword_ratio"),
        langid_col("text").alias("lang_pred"),
        fingerprint_udf(F.col("text")).alias("fingerprint"),
    )
    return enriched.orderBy("doc_id")


# ---------------------------------------------------------------------------
# queries — names stable across rounds; every aggregate aliased on both sides


def _q_doc_exact_dedup(spark, sf_dir):
    from bisque_spark.operators.dedup import exact_dedup

    return exact_dedup(_load(spark, sf_dir, "documents"), "doc_id", "text")


def _q_doc_token_stats(spark, sf_dir):
    from bisque_spark.functions.text import quality_cols
    from bisque_spark.util import spread

    # spread(): the documents parquet is 1-2 splits even at sf1.0, so
    # the regex-heavy quality expressions otherwise run on ≤2 cores
    # (measured 1.9 s → 0.45 s at sf1.0, r8)
    q = quality_cols("text")
    return spread(_load(spark, sf_dir, "documents")).select(
        "doc_id",
        q["n_tokens"].alias("n_tokens"),
        F.round(q["punct_ratio"], 6).alias("punct_ratio"),
        F.round(q["stopword_ratio"], 6).alias("stopword_ratio"),
        F.round(q["mean_token_len"], 6).alias("mean_token_len"),
    )


def _q_doc_lang_counts(spark, sf_dir):
    return (
        _load(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )


def _q_events_politeness_topk(spark, sf_dir):
    """The politeness window-rank operator shape on the events table:
    per 'host' (user_id), top-5 by priority (value) with deterministic
    tiebreak — identical plan to the frontier scheduler phase 2."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        _load(spark, sf_dir, "events")
        .withColumn("host_rank", F.row_number().over(w))
        .where(F.col("host_rank") <= 5)
        .select("user_id", "event_id", "host_rank", F.round("value", 6).alias("value"))
    )


def _q_events_sessionize(spark, sf_dir):
    """Stateful sessionization as windows: 30-min-gap sessions/user."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.col("ts").cast("timestamp").cast("double")
    ev = _load(spark, sf_dir, "events").withColumn(
        "gap_s", secs - F.lag(secs).over(w)
    )
    newsess = F.when(
        F.col("gap_s").isNull() | (F.col("gap_s") > 1800), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        ev.withColumn("new_session", newsess)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def _q_revenue_by_nation(spark, sf_dir):
    """Broadcast-dim join chain (the robots-join shape): orders ⋈
    customer ⋈ nation, revenue per nation."""
    orders = _load(spark, sf_dir, "orders")
    customer = _load(spark, sf_dir, "customer")
    nation = _load(spark, sf_dir, "nation")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def _q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped scan+agg (partial-agg/codegen showcase)."""
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_top_orders_per_customer(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        _load(spark, sf_dir, "orders")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "rk",
                F.round("o_totalprice", 2).alias("totalprice"))
    )


def _q_emb_label_stats(spark, sf_dir):
    from bisque_spark.operators.similarity import norm_col

    emb = _load(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label", norm_col(F.col("embedding").cast("array<double>")).alias("nrm")
        )
        .groupBy("label")
        .agg(
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


def _q_emb_knn_query0(spark, sf_dir):
    """Brute-force cosine top-10 vs vec_id=0 (ANN baseline)."""
    from bisque_spark.operators.similarity import cosine_col

    emb = _load(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qvec")
    )
    scored = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            cosine_col(
                F.col("embedding").cast("array<double>"), F.col("qvec")
            ).alias("cos_raw"),
        )
    )
    # order by the UNROUNDED cosine (vec_id tiebreak) and round only in
    # the final projection — same top-10 membership as the oracle, which
    # also orders raw and rounds afterwards (ADVICE r01)
    return (
        scored.orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.round("cos_raw", 4).alias("cosine"))
    )


def _q_minhash_near_dups(spark, sf_dir):
    from bisque_spark.operators.dedup import minhash_dedup_pairs

    docs = _load(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.35)
    return pairs.select(
        "id_a", "id_b", F.round("est_jaccard", 4).alias("est_jaccard")
    )


def _q_simhash_near_dups(spark, sf_dir):
    from bisque_spark.operators.dedup import simhash_dedup_pairs

    return simhash_dedup_pairs(
        _load(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=6
    )


def _q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact all-pairs n-gram Jaccard at oracle scale (DuckDB
    list_intersect/list_union hash-verified; VERDICT r02 Next-round
    #2b). The triangular join is quadratic; at corpus scale
    minhash_dedup_pairs's band join is the pruned near-dup path."""
    from bisque_spark.operators.dedup import ngram_jaccard_pairs_exact

    pairs = ngram_jaccard_pairs_exact(
        _load(spark, sf_dir, "documents"), "doc_id", "text", n=2, threshold=0.1
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def _q_lsh_embedding_pairs(spark, sf_dir):
    """OR-amplified multi-table LSH (12 tables × 3 bits): recall at the
    min_cosine=0.3 operating point is ≥ 0.94 BY CONSTRUCTION
    (1-(1-p^r)^b at the threshold angle) — round 2's single 4-bit table
    found ~13% (VERDICT r02 #1). Hash-graded (r5): the DuckDB oracle
    recomputes the deterministic bucket keys driver-side and rebuilds
    the candidate join + cosine verify in SQL; recall additionally
    pinned vs the exact baseline in tests/test_similarity.py."""
    from bisque_spark.operators.similarity import lsh_near_pairs

    pairs = lsh_near_pairs(
        _load(spark, sf_dir, "embeddings"), min_cosine=0.3, n_bits=3,
        n_tables=12,
    )
    return pairs.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def _q_doc_langid(spark, sf_dir):
    from bisque_spark.functions.text import langid_col

    return (
        _load(spark, sf_dir, "documents")
        .select("doc_id", langid_col("text").alias("lang_pred"))
    )


def _q_emb_exact_near_pairs(spark, sf_dir):
    """Exact embedding-cosine near-dup pairs (all-pairs baseline the
    LSH variant approximates): id_a < id_b, cosine >= 0.4. The a<b
    range condition keeps it a triangular join; at scale the LSH
    bucketed form (lsh_embedding_pairs) replaces this — the exact form
    is the correctness anchor, fully DuckDB-verified."""
    from bisque_spark.operators.similarity import cosine_col

    emb = _load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("v").alias("v_a"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("v").alias("v_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_raw", cosine_col(F.col("v_a"), F.col("v_b")))
        .where(F.col("cos_raw") >= 0.4)
        .select("id_a", "id_b", F.round("cos_raw", 4).alias("cosine"))
    )


def _q_doc_bpe_tokens(spark, sf_dir):
    """BPE-ish token counting (GPT-2 pretokenizer pieces, lookahead-free
    subset so Java regex and DuckDB RE2 agree) next to the whitespace
    count — the 'how many tokens will this cost' curation estimator."""
    from bisque_spark.functions.text import bpe_token_count_col, token_count_col

    return _load(spark, sf_dir, "documents").select(
        "doc_id",
        token_count_col("text").alias("ws_tokens"),
        bpe_token_count_col("text").alias("bpe_tokens"),
    )


def _q_doc_lang_run_clusters(spark, sf_dir):
    """Connected components (iterative min-label propagation) over a
    deterministic SQL-expressible edge set: consecutive doc_ids with
    the same lang form chain edges; clusters = maximal same-lang runs.
    Oracle = DuckDB recursive CTE (reachability closure + min label)."""
    from bisque_spark.operators.cluster import connected_components

    docs = _load(spark, sf_dir, "documents").select("doc_id", "lang")
    nxt = docs.select(
        F.col("doc_id").alias("bid"), F.col("lang").alias("blang")
    )
    edges = docs.join(
        nxt,
        (F.col("bid") == F.col("doc_id") + 1) & (F.col("blang") == F.col("lang")),
    ).select(F.col("doc_id").alias("id_a"), F.col("bid").alias("id_b"))
    return connected_components(edges).select("id", "cluster_id")


def _q_doc_dup_clusters(spark, sf_dir):
    """Near-dup cluster formation: connected components over the
    MinHash+LSH pair graph (the step after pair generation in a
    training-data dedup pipeline). Hash-graded (r5): the DuckDB oracle
    rebuilds the pair graph from signature VALUES + SQL banding and
    clusters it with a recursive CTE; union-find additionally pinned
    by tests/test_cluster.py."""
    from bisque_spark.operators.cluster import connected_components
    from bisque_spark.operators.dedup import minhash_dedup_pairs

    docs = _load(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.35)
    return connected_components(pairs).select("id", "cluster_id")


def _q_doc_curation_pipeline(spark, sf_dir):
    """End-to-end training-data curation: quality gate (JVM exprs) →
    exact dedup (min-id per md5) → near-dup cluster canonical-keep
    (exact 2-gram Jaccard pairs → connected components). Returns the
    surviving docs with their quality features.

    The pair stage uses the EXACT n-gram form so the WHOLE pipeline —
    corpus line dedup (r5), quality, langid, dedup, pair formation,
    recursive-CTE clustering, canonical keep — is DuckDB
    hash-verifiable end to end (r4; was rows-only with MinHash pairs).
    The LSH near-dup path, the 100-TB pair stage, stays exercised and
    recall-pinned by minhash_near_dups / doc_dup_clusters /
    test_dedup.py."""
    from bisque_spark.functions.text import (
        dedup_lines_corpus,
        langid_col,
        quality_cols,
    )
    from bisque_spark.operators.cluster import keep_canonical
    from bisque_spark.operators.dedup import exact_dedup, ngram_jaccard_pairs_exact

    raw = _load(spark, sf_dir, "documents")
    # stage 0 (r5): CCNet cross-document line dedup feeds the gates,
    # so shared boilerplate can't inflate token/stopword stats. The
    # synthetic docs are single-line and unique, so a shared nav line
    # is planted on every doc (mirrored in the oracle SQL) — the stage
    # provably strips it from all but the first document rather than
    # passing vacuously.
    boiler = "the shared navigation boilerplate line for every page"
    planted = raw.select(
        "doc_id",
        F.concat(
            F.lit(boiler + "\n"), F.coalesce(F.col("text"), F.lit(""))
        ).alias("text"),
    )
    docs = dedup_lines_corpus(planted).select("doc_id", "text")
    q = quality_cols("text")
    scored = docs.select(
        "doc_id",
        "text",
        q["n_tokens"].alias("n_tokens"),
        F.round(q["stopword_ratio"], 6).alias("stopword_ratio"),
        langid_col("text").alias("lang_pred"),
    )
    quality = scored.where(
        (F.col("n_tokens") >= 5) & (F.col("lang_pred") != "und")
    )
    from bisque_spark.util import pin

    exact_keep = exact_dedup(quality, "doc_id", "text").select("doc_id")
    # survivors feeds the pair self-join (both sides), the cluster
    # stage, and the final keep — pin so the scan+langid exprs run once
    survivors = pin(quality.join(exact_keep, "doc_id"))
    pairs = ngram_jaccard_pairs_exact(
        survivors, "doc_id", "text", n=2, threshold=0.5
    )
    kept = keep_canonical(survivors, pairs, "doc_id")
    return kept.select("doc_id", "n_tokens", "stopword_ratio", "lang_pred")


def _q_extract_captions(spark, sf_dir):
    """bisque find_all/get_text semantics as a batch operator: wrap each
    document's text into figure/figcaption markup (deterministically)
    and extract byte-faithful captions. Hash-graded: the DuckDB oracle
    is a VALUES fixture computed by the REFERENCE parser itself
    (_extract_captions_oracle_sql); tests/test_extract.py pins the
    same chain over the crawl corpus."""
    from bisque_spark.operators.extract import EXTRACT_SCHEMA, extract_batches
    from bisque_spark.util import spread

    docs = _load(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("http://docs.test/d"), F.col("doc_id")).alias("url"),
        F.lit(200).alias("status"),
        F.encode(
            F.concat(
                F.lit('<html><body><figure><img src="/i.png"/><figcaption>'),
                F.substring("text", 1, 120),
                F.lit("</figcaption></figure></body></html>"),
            ),
            "utf-8",
        ).alias("content"),
    )
    # spread() before the Arrow stage: the documents parquet is a
    # single split even at sf1.0 (~6 MB), so without it ONE task pays
    # the whole 50k-doc parse (measured 9.4 s; 32-way it is ~1 s) —
    # the CLAUDE.md small-parquet gotcha, missed here until r8
    extracted = spread(pages).mapInPandas(extract_batches, schema=EXTRACT_SCHEMA)
    return extracted.select(
        "url", F.explode("images").alias("img")
    ).select("url", "img.image_id", "img.caption")


def _q_crawl_refresh_schedule(spark, sf_dir):
    """Recrawl scheduling (operators/recrawl.due_for_refresh) re-shaped
    over the events parquet so the whole chain — policy broadcast join,
    age gate, priority, per-host window cap — is DuckDB hash-verified
    (the synth-seen variant stays pinned by test_recrawl.py's
    in-process oracle + the cuckoo re-open e2e). url_hash = event_id
    (unique ⇒ the rank tie-break never fires and the oracle is
    order-free)."""
    from bisque_spark.operators.recrawl import due_for_refresh, policy_table

    ev = _load(spark, sf_dir, "events")
    seen = ev.select(
        F.col("event_id").alias("url_hash"),
        F.concat(
            F.lit("http://u"), F.col("user_id").cast("string"),
            F.lit(".test/e"), F.col("event_id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("u"), F.col("user_id").cast("string"), F.lit(".test")
        ).alias("host"),
        (F.col("event_id") % 9).cast("int").alias("fetched_epoch"),
        (F.col("event_id") % 4).cast("int").alias("change_hint"),
    )
    out = due_for_refresh(seen, 9, policy_table(spark), limit_per_host=3)
    return out.select(
        "url_hash", "url", "host", "age",
        F.round("priority", 6).alias("priority"),
    )


def _q_crawl_epoch(spark, sf_dir):
    """One frontier epoch — robots broadcast-⋈ (RFC 9309 longest-match
    rules) → two-phase salted politeness window rank — the
    north-star operator chain, re-shaped over the events parquet so the
    WHOLE chain is DuckDB hash-verified (VERDICT r02 Next-round #2a;
    round 2 built the frontier from synth, invisible to the oracle).

    URLs derive deterministically from events rows; priorities are
    globally unique (-event_id), so politeness_select's url_hash
    tie-break never fires and the oracle can rank by priority alone —
    the scheduled set and every host_rank are tie-free. Robots dim:
    every 7th host's robots.txt says ``Disallow: /p1``; crawl_delay cycles
    1–4 s, so per-host budgets exercise all of {8,4,2,2}. The synth-web
    variant of this chain stays pinned by tests/test_crawl.py's
    single-process oracle crawler."""
    from bisque_spark.functions.robots import parse_robots_txt
    from bisque_spark.functions.urlnorm import url_hash_col
    from bisque_spark.operators.schedule import apply_robots, politeness_select

    ev = _load(spark, sf_dir, "events")
    hostnum = (F.col("user_id") % 40).cast("int")
    frontier = ev.select(
        F.concat(
            F.lit("http://h"),
            F.lpad(hostnum.cast("string"), 3, "0"),
            F.lit(".test/p"),
            F.col("event_id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("h"), F.lpad(hostnum.cast("string"), 3, "0"), F.lit(".test")
        ).alias("host"),
        # +1 keeps event_id=0 away from the -0.0/0.0 formatting seam
        (-(F.col("event_id") + 1).cast("double")).alias("priority"),
    ).withColumn("url_hash", url_hash_col())
    hosts = frontier.select("host").distinct()
    hnum = F.substring("host", 2, 3).cast("int")
    [p1] = parse_robots_txt("User-agent: *\nDisallow: /p1\n")["rules"]
    robots = hosts.select(
        "host",
        (F.lit(1.0) + (hnum % 4)).alias("crawl_delay"),
        F.when(
            hnum % 7 == 0,
            F.array(F.struct(*(F.lit(v).alias(k) for k, v in p1.items()))),
        )
        .otherwise(F.array().cast("array<struct<re:string,len:int,allow:int>>"))
        .alias("rules"),
    )
    frontier = apply_robots(frontier, robots)
    scheduled, _ = politeness_select(frontier, budget_base=8)
    return scheduled.select(
        "host", "host_rank", "url", F.round("priority", 1).alias("priority")
    )


def _q_image_phash_pairs(spark, sf_dir):
    """Perceptual-hash near-dup pairs through the pigeonhole banding
    (shared with SimHash). Content derives from image_id, so the 120
    rows planted over 40 distinct contents (unique labels ride the
    caption column through materialization) yield exactly the
    byte-identical triples as hamming-0 pairs. Hash-graded: the DuckDB
    oracle does the exact all-pairs bit_count(xor) <= k join over the
    SAME 120 phashes (VALUES literals from the deterministic synth
    fixture) — full recall of the banding is the pigeonhole guarantee,
    additionally pinned in test_dedup/test_multimodal."""
    from bisque_spark.operators.extract import materialize_images_batches
    from bisque_spark.operators.multimodal import phash_near_pairs

    ids = spark.range(120).select(
        F.concat(F.lit("img-"), (F.col("id") % 40).cast("string")).alias(
            "image_id"
        ),
        F.concat(F.lit("u"), F.lpad(F.col("id").cast("string"), 3, "0")).alias(
            "caption"
        ),
    )
    images = ids.mapInPandas(
        materialize_images_batches,
        schema="image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )
    relabeled = images.withColumn("image_id", F.col("caption"))
    return phash_near_pairs(relabeled, max_hamming=8).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def _q_audio_features(spark, sf_dir):
    """Audio-column operator: deterministic s16le PCM clips → duration /
    rms / peak (numpy decode in the Arrow batch). Rows-only; the
    numpy oracle is in test_multimodal.py."""
    import pandas as pd

    from bisque_spark.operators.multimodal import audio_features, synth_audio

    ids = spark.range(100).select(
        F.concat(F.lit("au-"), F.col("id").cast("string")).alias("media_id")
    )

    def gen(batches):
        for pdf in batches:
            rows = {"media_id": [], "bytes": [], "fmt": [], "sample_rate": []}
            for mid in pdf["media_id"]:
                a = synth_audio(mid)
                rows["media_id"].append(mid)
                rows["bytes"].append(a["bytes"])
                rows["fmt"].append(a["fmt"])
                rows["sample_rate"].append(a["sample_rate"])
            yield pd.DataFrame(rows)

    media = ids.mapInPandas(
        gen, "media_id string, bytes binary, fmt string, sample_rate int"
    )
    return audio_features(media).select(
        "media_id",
        "fmt",
        "sample_rate",
        F.round("duration_s", 4).alias("duration_s"),
        F.round("rms", 4).alias("rms"),
        F.round("peak", 4).alias("peak"),
    )


def _q_image_features(spark, sf_dir):
    """Multimodal decode + feature + thumbnail plumbing over
    deterministic images (absorbs the former image_thumbnails entry —
    the driver grades only the first 50 queries, VERDICT r3 #2; the
    resize path keeps its own operator + pixel-level pytest oracle).
    Uses the FUSED image_pipeline stage: one decode per image feeds
    both the features and the thumbnail (decode dominates at scale).
    orient=True (r7): EXIF tag-274 rows — a third of the synth jpegs
    carry APP1 with orientations 1-8 — are featured in VIEWER space,
    so the graded hash now pins the orientation transform end-to-end
    (dims swap for 5-8, thumbnails are of the rotated pixels)."""
    from bisque_spark.operators.extract import (
        IMAGES_SCHEMA,
        materialize_images_batches,
    )
    from bisque_spark.operators.multimodal import image_pipeline

    ids = spark.range(200).select(
        F.concat(F.lit("img-bench-"), F.col("id")).alias("image_id"),
        F.lit("").alias("caption"),
    )
    images = ids.mapInPandas(materialize_images_batches, schema=IMAGES_SCHEMA)
    out = image_pipeline(images, thumb_target=8, orient=True)
    return out.select(
        "image_id", "w", "h", "fmt",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
        F.md5(F.col("thumb")).alias("thumb_md5"),
    )


def _q_validate_images(spark, sf_dir):
    """Pydantic-style batch validation over the images sink rows
    (north_star: 'Pydantic field-extraction/validation schemas
    re-expressed as pandas UDF batch validators'). Hash-graded (r5)
    via a driver-side fixture of the same spec machinery; the
    INDEPENDENT oracle (real Pydantic model, verdict-for-verdict) is
    tests/test_validate.py."""
    from bisque_spark.operators.extract import materialize_images_batches
    from bisque_spark.operators.validate import validate_images

    ids = spark.range(300).select(
        F.concat(F.lit("img-q-"), F.col("id")).alias("image_id"),
        F.lit("cap").alias("caption"),
    )
    images = ids.mapInPandas(
        materialize_images_batches,
        schema="image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )
    out = validate_images(images)
    return out.select(
        "image_id", "valid", F.size("errors").alias("n_errors")
    )


def _q_parts_by_brand(spark, sf_dir):
    return (
        _load(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
            F.max("p_size").alias("max_size"),
        )
    )


def _q_supplier_balance_by_nation(spark, sf_dir):
    s = _load(spark, sf_dir, "supplier")
    n = _load(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.min("s_acctbal"), 2).alias("min_bal"),
            F.round(F.max("s_acctbal"), 2).alias("max_bal"),
            F.round(F.avg("s_acctbal"), 2).alias("avg_bal"),
        )
    )


def _q_orders_by_month(spark, sf_dir):
    o = _load(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "month", F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd")
        )
        .groupBy("month", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def _q_events_value_histogram(spark, sf_dir):
    ev = _load(spark, sf_dir, "events")
    return (
        ev.withColumn("bucket", F.floor(F.col("value") / 10).cast("long"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_events_props_extract(spark, sf_dir):
    """Scalar JSON-ish extraction via regexp (dialect-portable)."""
    ev = _load(spark, sf_dir, "events")
    k = F.regexp_extract("props", r":\s*(\d+)", 1).cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def _q_customer_segments(spark, sf_dir):
    return (
        _load(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
        )
    )


def _q_region_nation_counts(spark, sf_dir):
    r = _load(spark, sf_dir, "region")
    n = _load(spark, sf_dir, "nation")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


def _q_top_suppliers_per_nation(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("s_nationkey").orderBy(
        F.desc("s_acctbal"), F.asc("s_suppkey")
    )
    return (
        _load(spark, sf_dir, "supplier")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 2)
        .select("s_nationkey", "s_suppkey", "rk",
                F.round("s_acctbal", 2).alias("acctbal"))
    )


def _q_events_user_daily(spark, sf_dir):
    ev = _load(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
        )
        .groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


def _q_pricing_rollup(spark, sf_dir):
    """ROLLUP over (returnflag, linestatus): subtotal + grand-total rows."""
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def _q_orders_status_cube(spark, sf_dir):
    """CUBE over (status, priority)."""
    o = _load(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def _q_customers_without_orders(spark, sf_dir):
    """Anti-join / EXCEPT shape: customers with at most 2 orders
    (includes the no-orders anti-join case)."""
    c = _load(spark, sf_dir, "customer")
    o = _load(spark, sf_dir, "orders")
    counts = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    joined = c.join(counts, c.c_custkey == counts.o_custkey, "left")
    return joined.where(
        F.coalesce(F.col("n"), F.lit(0)) <= 2
    ).select("c_custkey", "c_mktsegment", F.coalesce(F.col("n"), F.lit(0)).alias("n_orders"))


def _q_active_users_both_types(spark, sf_dir):
    """INTERSECT shape: users with both 'click' and 'view' events
    (semi-join composition)."""
    from pyspark.sql import Window

    ev = _load(spark, sf_dir, "events")
    # the two smallest event types are selected INSIDE the query (rank
    # over the distinct-type dimension, broadcast back) — no driver
    # collect at plan-build time (VERDICT r01 minor #8)
    tw = Window.orderBy("event_type")
    tt = F.broadcast(
        ev.select("event_type")
        .distinct()
        .withColumn("rk", F.row_number().over(tw))
        .where(F.col("rk") <= 2)
    )
    # one broadcast build (identical subplan → ReusedExchange); the
    # rank filter is applied after the join
    tagged = ev.join(tt, "event_type")
    a = tagged.where(F.col("rk") == 1).select("user_id").distinct()
    b = tagged.where(F.col("rk") == 2).select("user_id").distinct()
    return a.intersect(b)


def _q_events_pivot_by_type(spark, sf_dir):
    """Pivot shape (portable CASE WHEN form): per-user counts by the
    first three event types."""
    ev = _load(spark, sf_dir, "events")
    # pivot COLUMNS are plan-time by nature (fixed output schema), so
    # the type domain is discovered with one tiny distinct job — the
    # same thing Spark's own df.pivot(col) does when values are omitted
    types = sorted(
        r["event_type"] for r in ev.select("event_type").distinct().collect()
    )[:3]
    aggs = [
        F.sum((F.col("event_type") == t).cast("long")).alias(f"n_{i}")
        for i, t in enumerate(types)
    ]
    return ev.groupBy("user_id").agg(*aggs)


def _q_events_value_stats(spark, sf_dir):
    """Exact percentiles + sample stddev per event type."""
    ev = _load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.stddev_samp("value"), 4).alias("sd"),
        F.round(F.min("value"), 4).alias("vmin"),
        F.round(F.max("value"), 4).alias("vmax"),
    )


_IVF_INDEX: dict = {}


def _q_emb_ivf_topk(spark, sf_dir):
    """IVF approximate top-k (probe-pruned ANN; the 100-TB search
    path). Build/query split (VERDICT r02 Next-round #4): the index —
    (cell-assigned corpus, centroids) — is built ONCE per (session,
    dataset) and memoized here as the deliberate long-lived artifact;
    every query after the first is a pure probe-pruned scan with no
    sample/Lloyd jobs and no collects. Hash-graded against the
    independent numpy-twin fixture oracle (_ivf_topk_oracle_sql);
    recall vs exact is pinned in tests/test_similarity.py."""
    from bisque_spark.operators.similarity import ivf_build, ivf_query

    emb = _load(spark, sf_dir, "embeddings")
    q = [float(v) for v in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    app = spark.sparkContext.applicationId
    # evict entries from previous (stopped) sessions: their DataFrames
    # point into dead JVMs and can never be reused (the key includes
    # the application id), so without this the memo is a pure leak
    for stale in [k for k in _IVF_INDEX if k[0] != app]:
        df_old, _ = _IVF_INDEX.pop(stale)
        try:
            df_old.unpersist()
        except Exception:
            pass
    key = (app, sf_dir, 16)
    if key not in _IVF_INDEX:
        # pin_index=False: the memoized index is a long-lived artifact
        # owned HERE, outside the pin registry — release_caches() in
        # bench replicate loops must not evict it
        _IVF_INDEX[key] = ivf_build(
            emb.where(F.col("vec_id") != 0), n_cells=16, pin_index=False
        )
    assigned, centroids = _IVF_INDEX[key]
    out = ivf_query(assigned, centroids, q, k=10, n_probe=6)
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


def _q_events_rollup_incremental(spark, sf_dir):
    """Continuous-aggregate REFRESH (TimescaleDB shape): the rollup is
    materialized over facts before the cutoff (raw partials), then
    maintained by merging only the delta's rollup — the base fact
    table is never rescanned, so refresh cost is O(delta) at 100 TB.
    DuckDB-verified against a full-recompute oracle: the incremental
    merge must be indistinguishable from rescanning everything."""
    from bisque_spark.operators.rollup import (
        time_rollup,
        time_rollup_increment,
    )

    ev = _load(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    cutoff = F.lit("2024-01-20").cast("timestamp")
    base = time_rollup(ev.where(F.col("ts") < cutoff), rounded=False)
    return time_rollup_increment(base, ev.where(F.col("ts") >= cutoff))


def _q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: unshipped-order revenue by order for one market
    segment. Selective dim filter → join → agg → deterministic top-10
    (revenue desc, orderkey tiebreak — group keys are functionally
    dependent on l_orderkey, so the tiebreak is unique)."""
    cutoff = F.lit("1998-01-01").cast("timestamp")
    cust = _load(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _load(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = _load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        cust, orders.o_custkey == cust.c_custkey
    )
    out = (
        j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )
    return out.select(
        "l_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "o_orderpriority",
        "revenue",
    )


def _q_regional_revenue(spark, sf_dir):
    """TPC-H Q5 shape: revenue by nation for one region and year range,
    with the LOCAL-supplier condition (c_nationkey = s_nationkey) — a
    5-way join where nation/region broadcast."""
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    cust = _load(spark, sf_dir, "customer")
    orders = _load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = _load(spark, sf_dir, "lineitem")
    supp = _load(spark, sf_dir, "supplier")
    nat = _load(spark, sf_dir, "nation")
    reg = _load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    )
    return j.groupBy("n_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


def _q_events_time_rollup(spark, sf_dir):
    """Hypertable-style multi-granularity rollup in one grouping-sets
    pass (hour + day buckets from a single scan)."""
    from bisque_spark.operators.rollup import time_rollup

    ev = _load(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    return time_rollup(ev, grans=("hour", "day"))


def _q_emb_dim_stats(spark, sf_dir):
    """Per-dimension embedding stats (array element access)."""
    emb = _load(spark, sf_dir, "embeddings")
    cols = []
    for d in (1, 2, 32, 64):
        cols.append(
            F.round(
                F.avg(F.element_at("embedding", d).cast("double")), 4
            ).alias(f"avg_d{d}")
        )
    return emb.groupBy("label").agg(*cols)


def _q_events_asof_join(spark, sf_dir):
    """As-of join: each event of the first type gets the most recent
    prior-or-equal event value of the second type for the same user."""
    from pyspark.sql import Window

    from bisque_spark.operators.asof import asof_join

    ev = _load(spark, sf_dir, "events")
    # first/second event type selected inside the query (rank over the
    # distinct-type dimension, broadcast semi-join) — no plan-build
    # collect (VERDICT r01 minor #8)
    tw = Window.orderBy("event_type")
    tt = F.broadcast(
        ev.select("event_type")
        .distinct()
        .withColumn("rk", F.row_number().over(tw))
        .where(F.col("rk") <= 2)
    )
    tagged = ev.join(tt, "event_type")
    left = tagged.where(F.col("rk") == 1).select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    right = tagged.where(F.col("rk") == 2).select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("value").alias("rv"),
    )
    out = asof_join(left, right, on="ts", by="user_id", value_cols=["rv"])
    return out.select(
        "event_id",
        "user_id",
        F.round("rv_right", 6).alias("prev_value"),
    )


def _q_parse_pipeline(spark, sf_dir):
    """Composite parse surface (SURVEY §2.2) as ONE graded entry — the
    driver grades only the first 50 ``queries()`` keys (VERDICT r3 #2),
    so the three parse demonstrations fold into one row per document
    while each keeps its authentic code path: ``find_all`` runs as
    DataFrame ops over exploded nodes (string co-filter semi-join),
    CSS through the fused Arrow ``select_stage``, and the
    parse→serialize fixpoint in its own Arrow pass. Hash-graded: the
    DuckDB oracle is a VALUES fixture computed by the REFERENCE parser
    (_parse_pipeline_oracle_sql); the broad semantic pins stay in the
    reference-diff pytest suites (test_nodes / test_css /
    test_serialize, byte-equal)."""
    import re

    import pandas as pd

    from bisque_spark.functions.css import select_stage
    from bisque_spark.operators.nodes import explode_nodes, find_all, strainer
    from bisque_spark.parse import parse_nodes, serialize_nodes
    from bisque_spark.util import pin

    docs = _load(spark, sf_dir, "documents")
    pages = pin(
        docs.select(
            F.concat(F.lit("http://docs.test/d"), F.col("doc_id")).alias("url"),
            F.concat(
                F.lit('<div class="outer"><p class="body  text a">'),
                F.substring("text", 1, 120),
                F.lit(' &amp; tail</p><p class="a b">x</p>'),
                F.lit('<ul><li><a href="/n.html" rel="next  page">n</a></li></ul>'),
                F.lit("<br><pre> k </pre></div>"),
            ).alias("html"),
        )
    )
    nodes = explode_nodes(pages, html_col="html")
    fa = (
        find_all(nodes, strainer("p", class_="text"), string=re.compile("the"))
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("n_find_all"))
    )
    css = (
        select_stage(pages, "div.outer > p.a.b, a[rel~=next]")
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("n_css"))
    )

    def roundtrip(batches):
        for pdf in batches:
            urls, fix = [], []
            for url, html in zip(pdf["url"], pdf["html"]):
                once = serialize_nodes(parse_nodes(html))
                twice = serialize_nodes(parse_nodes(once))
                urls.append(url)
                fix.append(once == twice)
            yield pd.DataFrame({"url": urls, "fixpoint": fix})

    rt = pages.mapInPandas(roundtrip, schema="url string, fixpoint boolean")
    return (
        rt.join(fa, "url", "left")
        .join(css, "url", "left")
        .select(
            "url",
            F.coalesce("n_find_all", F.lit(0)).alias("n_find_all"),
            F.coalesce("n_css", F.lit(0)).alias("n_css"),
            "fixpoint",
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 50 entries, every DuckDB-verifiable (oracle-backed)
    query BEFORE the rows-only ones: the driver grades the first 50
    keys, so this ordering guarantees CORRECTNESS_r{N} carries a row
    for every key and the full hash-verified set every round
    (VERDICT r3 Next-round #2). The former nodes_find_all / css_select
    / serialize_roundtrip entries are folded into parse_pipeline, and
    image_thumbnails into image_features — same code paths, fewer
    slots; their pytest oracles are unchanged."""
    return {
        # -- 48 oracle-backed (DuckDB row+schema+hash verified; the two
        #    reference-fixture parse keys below make it 50/50) ---------
        "doc_exact_dedup": _q_doc_exact_dedup,
        "doc_token_stats": _q_doc_token_stats,
        "doc_lang_counts": _q_doc_lang_counts,
        "events_politeness_topk": _q_events_politeness_topk,
        "events_sessionize": _q_events_sessionize,
        "revenue_by_nation": _q_revenue_by_nation,
        "pricing_summary": _q_pricing_summary,
        "top_orders_per_customer": _q_top_orders_per_customer,
        "emb_label_stats": _q_emb_label_stats,
        "emb_knn_query0": _q_emb_knn_query0,
        "ngram_jaccard_pairs": _q_ngram_jaccard_pairs,
        "doc_langid": _q_doc_langid,
        "doc_bpe_tokens": _q_doc_bpe_tokens,
        "emb_exact_near_pairs": _q_emb_exact_near_pairs,
        "doc_lang_run_clusters": _q_doc_lang_run_clusters,
        "crawl_epoch_schedule": _q_crawl_epoch,
        "crawl_refresh_schedule": _q_crawl_refresh_schedule,
        "parts_by_brand": _q_parts_by_brand,
        "supplier_balance_by_nation": _q_supplier_balance_by_nation,
        "orders_by_month": _q_orders_by_month,
        "events_value_histogram": _q_events_value_histogram,
        "events_props_extract": _q_events_props_extract,
        "customer_segments": _q_customer_segments,
        "region_nation_counts": _q_region_nation_counts,
        "top_suppliers_per_nation": _q_top_suppliers_per_nation,
        "events_user_daily": _q_events_user_daily,
        "events_asof_join": _q_events_asof_join,
        "emb_dim_stats": _q_emb_dim_stats,
        "events_time_rollup": _q_events_time_rollup,
        "events_rollup_incremental": _q_events_rollup_incremental,
        "shipping_priority": _q_shipping_priority,
        "regional_revenue": _q_regional_revenue,
        "events_pivot_by_type": _q_events_pivot_by_type,
        "events_value_stats": _q_events_value_stats,
        "pricing_rollup": _q_pricing_rollup,
        "orders_status_cube": _q_orders_status_cube,
        "customers_without_orders": _q_customers_without_orders,
        "active_users_both_types": _q_active_users_both_types,
        "doc_curation_pipeline": _q_doc_curation_pipeline,
        "image_phash_pairs": _q_image_phash_pairs,
        "simhash_near_dups": _q_simhash_near_dups,
        "minhash_near_dups": _q_minhash_near_dups,
        "doc_dup_clusters": _q_doc_dup_clusters,
        "lsh_embedding_pairs": _q_lsh_embedding_pairs,
        "image_features": _q_image_features,
        "audio_features": _q_audio_features,
        "validate_images": _q_validate_images,
        "emb_ivf_topk": _q_emb_ivf_topk,
        # -- 2 graded via REFERENCE-computed VALUES fixtures (the one
        #    non-circular oracle for parse semantics; rows-only
        #    fallback when /root/reference is absent) ------------------
        "extract_captions": _q_extract_captions,
        "parse_pipeline": _q_parse_pipeline,
    }


def _oracle_sf_dir() -> str:
    """The sf dir fixture-VALUES oracles read. The driver grades at
    sf0.01; scripts/check_entry.py overrides via env when pointed at a
    different sf so the fixtures stay aligned with the query input."""
    import os

    return os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _simhash_pairs_oracle_sql() -> str:
    """Exact all-pairs Hamming oracle for _q_simhash_near_dups: the
    signatures come from simhash_py — the pure-Python twin pinned
    bit-identical to the vectorized executor UDF by tests/test_text.py
    — computed driver-side over the same documents table and embedded
    as VALUES. DuckDB then does the exact quadratic join the pigeonhole
    banding must fully recall (hamming <= 6 ⇒ >= 1 untouched band)."""
    import pyarrow.parquet as pq

    from bisque_spark.functions.text import simhash_py

    rows = pq.read_table(
        f"{_oracle_sf_dir()}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    vals = ",\n                   ".join(
        f"(CAST({r['doc_id']} AS BIGINT),"
        f" CAST({simhash_py(r['text'] or '')} AS BIGINT))"
        for r in rows
    )
    return f"""
            WITH sh(doc_id, sh) AS (
                VALUES {vals}
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sh, b.sh)) <= 6
        """


def _minhash_pairs_oracle_sql() -> str:
    """Differential oracle for _q_minhash_near_dups: signatures are
    computed driver-side by the same deterministic (a·h+b) mod M61
    family (seed 42 — test-pinned), embedded as BIGINT[] VALUES; the
    BANDING, candidate dedup, est-Jaccard and threshold are then
    re-expressed independently in SQL (band = exact slice equality —
    the engine's xxhash64 band key equals iff the slice equals, modulo
    a 2^-64 collision the est filter would reject anyway). Verifies
    the distributed LSH join end-to-end against a quadratic anchor."""
    import pandas as pd
    import pyarrow.parquet as pq

    from bisque_spark.operators.dedup import (
        _minhash_params,
        _minhash_series,
        tune_signature,
    )

    n_hashes, bands, rows_per_band = tune_signature(0.35)
    a, b = _minhash_params(n_hashes)
    rows = pq.read_table(
        f"{_oracle_sf_dir()}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    sigs = _minhash_series(
        pd.Series([r["text"] or "" for r in rows]), a, b, 8
    )
    vals = ",\n                   ".join(
        f"(CAST({r['doc_id']} AS BIGINT),"
        f" [{','.join(str(int(x)) for x in sig)}]::BIGINT[])"
        for r, sig in zip(rows, sigs)
    )
    est = (
        f"len(list_filter(range(1, {n_hashes}+1), i -> sa[i] = sb[i]))"
        f" * 1.0 / {n_hashes}"
    )
    return f"""
            WITH sg(doc_id, sig) AS (
                VALUES {vals}
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                       a.sig AS sa, b.sig AS sb
                FROM sg a JOIN sg b ON a.doc_id < b.doc_id
                WHERE EXISTS (
                    SELECT 1 FROM range({bands}) r(i)
                    WHERE list_slice(a.sig, i*{rows_per_band}+1,
                                     (i+1)*{rows_per_band})
                        = list_slice(b.sig, i*{rows_per_band}+1,
                                     (i+1)*{rows_per_band})
                )
            )
            SELECT id_a, id_b, round({est}, 4) AS est_jaccard
            FROM cand
            WHERE {est} >= 0.35
        """


def _dup_clusters_oracle_sql() -> str:
    """Oracle for _q_doc_dup_clusters: the SAME signature-VALUES +
    SQL banding as _minhash_pairs_oracle_sql produces the pair graph,
    then a recursive CTE computes min-label connected components —
    the independent re-expression of operators/cluster.py's
    label-propagation loop (same shape as doc_curation_pipeline's
    clustering stage, there verified over exact n-gram pairs)."""
    import pandas as pd
    import pyarrow.parquet as pq

    from bisque_spark.operators.dedup import (
        _minhash_params,
        _minhash_series,
        tune_signature,
    )

    n_hashes, bands, rows_per_band = tune_signature(0.35)
    a, b = _minhash_params(n_hashes)
    rows = pq.read_table(
        f"{_oracle_sf_dir()}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    sigs = _minhash_series(
        pd.Series([r["text"] or "" for r in rows]), a, b, 8
    )
    vals = ",\n                   ".join(
        f"(CAST({r['doc_id']} AS BIGINT),"
        f" [{','.join(str(int(x)) for x in sig)}]::BIGINT[])"
        for r, sig in zip(rows, sigs)
    )
    est = (
        f"len(list_filter(range(1, {n_hashes}+1), i -> sa[i] = sb[i]))"
        f" * 1.0 / {n_hashes}"
    )
    return f"""
            WITH RECURSIVE sg(doc_id, sig) AS (
                VALUES {vals}
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                       a.sig AS sa, b.sig AS sb
                FROM sg a JOIN sg b ON a.doc_id < b.doc_id
                WHERE EXISTS (
                    SELECT 1 FROM range({bands}) r(i)
                    WHERE list_slice(a.sig, i*{rows_per_band}+1,
                                     (i+1)*{rows_per_band})
                        = list_slice(b.sig, i*{rows_per_band}+1,
                                     (i+1)*{rows_per_band})
                )
            ),
            fwd AS (
                SELECT id_a, id_b FROM cand WHERE {est} >= 0.35
            ),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM fwd
                UNION ALL
                SELECT id_b, id_a FROM fwd
            ),
            verts AS (SELECT DISTINCT src AS id FROM edges),
            reach(id, lbl) AS (
                SELECT id, id FROM verts
                UNION
                SELECT e.dst, r.lbl
                FROM reach r JOIN edges e ON e.src = r.id
            )
            SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id
        """


def _lsh_embedding_oracle_sql() -> str:
    """Differential oracle for _q_lsh_embedding_pairs: the hyperplane
    bucket keys are recomputed driver-side with the SAME deterministic
    construction (seed-42 normal planes, table-tagged sign bits — the
    operator's numpy path, here applied outside Spark) and embedded as
    VALUES; DuckDB independently re-expresses the any-table bucket
    join, pair dedup, exact-cosine verify and threshold against the
    embeddings view. Verifies the distributed candidate join + verify
    end-to-end; the hash family's recall is pinned separately by
    tests/test_similarity.py."""
    import numpy as np
    import pyarrow.parquet as pq

    dim, n_tables, n_bits, seed = 64, 12, 3, 42
    planes = np.random.RandomState(seed).normal(size=(dim, n_tables * n_bits))
    weights = 1 << np.arange(n_bits, dtype=np.int64)
    table_tag = np.arange(n_tables, dtype=np.int64) << n_bits
    rows = pq.read_table(
        f"{_oracle_sf_dir()}/embeddings.parquet",
        columns=["vec_id", "embedding"],
    ).to_pylist()
    mat = np.stack(
        [np.asarray(r["embedding"], dtype=np.float32) for r in rows]
    )
    bits = (mat @ planes > 0).reshape(len(mat), n_tables, n_bits)
    keys = (bits @ weights) | table_tag[None, :]
    vals = ",\n                   ".join(
        f"(CAST({r['vec_id']} AS BIGINT),"
        f" [{','.join(map(str, k))}]::BIGINT[])"
        for r, k in zip(rows, keys.tolist())
    )
    return f"""
            WITH ks(vec_id, keys) AS (
                VALUES {vals}
            ),
            flat AS (SELECT vec_id, unnest(keys) AS k FROM ks),
            cand AS (
                SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                FROM flat a JOIN flat b
                  ON a.k = b.k AND a.vec_id < b.vec_id
            ),
            cos AS (
                SELECT c.id_a, c.id_b,
                       list_dot_product(
                          list_transform(ea.embedding,
                                         x -> CAST(x AS DOUBLE)),
                          list_transform(eb.embedding,
                                         x -> CAST(x AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(ea.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                        * sqrt(list_sum(list_transform(eb.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                           AS cosine
                FROM cand c
                JOIN embeddings ea ON ea.vec_id = c.id_a
                JOIN embeddings eb ON eb.vec_id = c.id_b
            )
            SELECT id_a, id_b, round(cosine, 4) AS cosine
            FROM cos WHERE cosine >= 0.3
        """


def _ivf_topk_oracle_sql() -> str:
    """Differential oracle for _q_emb_ivf_topk: the IVF coarse
    quantizer is recomputed driver-side by an INDEPENDENT numpy twin
    of the same deterministic construction — seed centroids are the 16
    corpus rows with the smallest (xxhash64(str(vec_id)), vec_id)
    via the Python XXH64 parity twin (hashing.py, itself pinned
    bit-identical to Spark's F.xxhash64), one Lloyd pass whose means
    are rounded to 9dp exactly as ivf_assign does, then the final
    cell assignment and the 6 probe cells nearest the query. Only the
    per-row artifacts (vec_id → cell, the probe-cell set) are embedded
    as VALUES; DuckDB independently re-expresses the probe-pruned scan,
    exact cosine vs the embeddings view, and the (cosine DESC, vec_id)
    top-10 — so the distributed index scan + TakeOrderedAndProject is
    hash-verified end to end. Recall vs exact search is pinned
    separately in tests/test_similarity.py."""
    import numpy as np
    import pyarrow.parquet as pq

    from bisque_spark.hashing import xxhash64_str

    n_cells, kmeans_iters, n_probe, k = 16, 1, 6, 10
    rows = pq.read_table(
        f"{_oracle_sf_dir()}/embeddings.parquet",
        columns=["vec_id", "embedding"],
    ).to_pylist()
    q64 = next(
        np.asarray(r["embedding"], dtype=np.float64)
        for r in rows
        if r["vec_id"] == 0
    )
    corpus = [r for r in rows if r["vec_id"] != 0]
    ids = [int(r["vec_id"]) for r in corpus]
    mat = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in corpus]
    )
    # seed centroids: smallest (xxhash64(cast(id as string)), id), the
    # deterministic uniform pseudo-random draw ivf_assign documents
    order = sorted(
        range(len(ids)), key=lambda i: (xxhash64_str(str(ids[i])), ids[i])
    )[:n_cells]
    cmat = mat[order].copy()
    cmat /= np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-12)
    matn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    for _ in range(kmeans_iters):
        assign = (matn @ cmat.T).argmax(axis=1)
        new = cmat.copy()  # empty cells keep their seed centroid
        for c in range(n_cells):
            members = mat[assign == c]
            if len(members):
                new[c] = np.round(members.mean(axis=0), 9)
        cmat = new / np.maximum(
            np.linalg.norm(new, axis=1, keepdims=True), 1e-12
        )
    assign = (matn @ cmat.T).argmax(axis=1)
    qn = q64 / np.linalg.norm(q64)
    probe = [int(c) for c in (cmat @ qn).argsort()[::-1][:n_probe]]
    vals = ",\n                   ".join(
        f"(CAST({i} AS BIGINT), {int(c)})" for i, c in zip(ids, assign)
    )
    qv = ",".join(repr(float(v)) for v in q64)
    return f"""
            WITH assign(vec_id, cell) AS (
                VALUES {vals}
            ),
            probed AS (
                SELECT vec_id FROM assign
                WHERE cell IN ({",".join(map(str, probe))})
            ),
            cos AS (
                SELECT e.vec_id,
                       list_dot_product(
                          list_transform(e.embedding,
                                         x -> CAST(x AS DOUBLE)),
                          [{qv}]::DOUBLE[])
                       / (sqrt(list_sum(list_transform(e.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                        * sqrt(list_sum(list_transform([{qv}]::DOUBLE[],
                              x -> x * x)))) AS cosine
                FROM embeddings e JOIN probed USING (vec_id)
            )
            SELECT vec_id, round(cosine, 4) AS cosine
            FROM cos ORDER BY cos.cosine DESC, vec_id LIMIT {k}
        """


def _round_like_spark(x: float, places: int = 4) -> float:
    """Mirror F.round on a double: Spark rounds HALF_UP over the
    shortest decimal repr (BigDecimal.valueOf), which is exactly
    Decimal(repr(x)) in Python — so fixture oracles can pre-round
    driver-side instead of relying on DuckDB's double rounding."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _audio_features_oracle_sql() -> str:
    """Fixture oracle for _q_audio_features: the 100 deterministic PCM
    clips are re-derived driver-side (synth_audio bytes → int16 →
    duration/rms/peak via the same numpy formulas the pytest oracle
    uses) and embedded pre-rounded; the hash row then pins the
    distributed Arrow decode path end to end."""
    import numpy as np

    from bisque_spark.operators.multimodal import synth_audio

    rows = []
    for i in range(100):
        mid = f"au-{i}"
        a = synth_audio(mid)
        wave = np.frombuffer(a["bytes"], dtype=np.int16)
        f = wave.astype(np.float64)
        dur = _round_like_spark(len(wave) / a["sample_rate"])
        rms = _round_like_spark(float(np.sqrt((f * f).mean())))
        peak = _round_like_spark(float(np.abs(f).max()))
        rows.append(
            f"('{mid}', '{a['fmt']}', CAST({a['sample_rate']} AS INTEGER),"
            f" CAST({dur!r} AS DOUBLE), CAST({rms!r} AS DOUBLE),"
            f" CAST({peak!r} AS DOUBLE))"
        )
    vals = ",\n                   ".join(rows)
    return f"""
            SELECT * FROM (
                VALUES {vals}
            ) AS t(media_id, fmt, sample_rate, duration_s, rms, peak)
        """


def _image_features_oracle_sql() -> str:
    """Fixture oracle for _q_image_features: the 200 deterministic
    images are re-derived driver-side (synth_image bytes →
    decode_image → EXIF tag-274 orientation transform (r7: the query
    runs image_pipeline(orient=True)) → channel means + linspace
    nearest-neighbor thumbnail → md5), pre-rounded with the Spark
    round semantics. The codec itself is pinned by test_jpeg's
    exactness oracles and the orientation algebra by test_exif; this
    hash row pins the fused decode-once pipeline's distributed
    execution including the viewer-space transform."""
    import hashlib

    import numpy as np

    from bisque_spark.functions.exif import apply_orientation, extract_exif
    from bisque_spark.synth import decode_image, synth_image

    rows = []
    for i in range(200):
        iid = f"img-bench-{i}"
        meta = synth_image(iid)
        w, h, fmt = meta["w"], meta["h"], meta["fmt"]
        arr = np.frombuffer(
            decode_image(bytes(meta["bytes"]), fmt), dtype=np.uint8
        ).reshape(h, w, 3)
        o = extract_exif(bytes(meta["bytes"])).get("orientation") or 1
        arr = apply_orientation(arr, o)
        h, w = arr.shape[0], arr.shape[1]
        means = [
            _round_like_spark(float(arr[..., c].mean())) for c in range(3)
        ]
        ys = np.linspace(0, h - 1, min(8, h)).astype(int)
        xs = np.linspace(0, w - 1, min(8, w)).astype(int)
        md5 = hashlib.md5(arr[np.ix_(ys, xs)].tobytes()).hexdigest()
        rows.append(
            f"('{iid}', CAST({w} AS INTEGER), CAST({h} AS INTEGER),"
            f" '{fmt}', CAST({means[0]!r} AS DOUBLE),"
            f" CAST({means[1]!r} AS DOUBLE), CAST({means[2]!r} AS DOUBLE),"
            f" '{md5}')"
        )
    vals = ",\n                   ".join(rows)
    return f"""
            SELECT * FROM (
                VALUES {vals}
            ) AS t(image_id, w, h, fmt, mean_r, mean_g, mean_b, thumb_md5)
        """


def _validate_images_oracle_sql() -> str:
    """Fixture oracle for _q_validate_images: the 300 deterministic
    image rows are validated driver-side with the same spec machinery
    (validate_rows) and embedded as VALUES — pinning the distributed
    Arrow execution; the INDEPENDENT semantic oracle (a real Pydantic
    model must agree verdict-for-verdict) lives in
    tests/test_validate.py."""
    import pandas as pd

    from bisque_spark.operators.validate import IMAGES_SPEC, validate_rows
    from bisque_spark.synth import synth_image

    rows = []
    for i in range(300):
        iid = f"img-q-{i}"
        meta = synth_image(iid)
        rows.append(
            {
                "image_id": iid,
                "bytes": meta["bytes"],
                "w": meta["w"],
                "h": meta["h"],
                "fmt": meta["fmt"],
                "caption": "cap",
                "phash": meta["phash"],
            }
        )
    valid, errors = validate_rows(pd.DataFrame(rows), IMAGES_SPEC)
    vals = ",\n                   ".join(
        f"('{r['image_id']}', CAST({bool(v)} AS BOOLEAN),"
        f" CAST({len(e)} AS INTEGER))"
        for r, v, e in zip(rows, valid, errors)
    )
    return f"""
            SELECT * FROM (
                VALUES {vals}
            ) AS t(image_id, valid, n_errors)
        """


def _phash_pairs_oracle_sql() -> str:
    """Exact all-pairs Hamming oracle for _q_image_phash_pairs: the
    same 120 (caption-label, phash) rows the Spark query materializes,
    embedded as VALUES literals — the phash is a pure function of
    image_id via the deterministic synth fixture, computed driver-side
    with no Spark. bit_count(xor(..)) <= 8 over all pairs is the exact
    reference the pigeonhole banding must fully recall."""
    from bisque_spark.synth import synth_image

    rows = []
    for i in range(120):
        ph = synth_image(f"img-{i % 40}")["phash"]
        rows.append(f"('u{i:03d}', CAST({ph} AS BIGINT))")
    vals = ",\n                   ".join(rows)
    return f"""
            WITH ph(img, ph) AS (
                VALUES {vals}
            )
            SELECT a.img AS id_a, b.img AS id_b,
                   CAST(bit_count(xor(a.ph, b.ph)) AS INTEGER) AS hamming
            FROM ph a JOIN ph b ON a.img < b.img
            WHERE bit_count(xor(a.ph, b.ph)) <= 8
        """


def _ref_bisque():
    """Import the REFERENCE parser (/root/reference/src) for
    driver-side fixture computation — the north_rule's own oracle.
    Oracle-side ONLY: ``queries()`` / engine code never import the
    reference; this mirrors how tests/ref_oracle.py pins parse
    semantics. Returns None when the reference tree is absent so the
    driver falls back to the rows-only grade for the two parse keys."""
    import sys
    import warnings

    if "/root/reference/src" not in sys.path:
        sys.path.append("/root/reference/src")
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            from bisque import Bisque  # noqa: PLC0415
        return Bisque
    except Exception:  # noqa: BLE001 — reference tree not mounted
        return None


def _sql_str(s: str) -> str:
    """A DuckDB single-quoted literal (standard '' doubling; captions
    can carry any document text incl. newlines — legal in literals)."""
    return "'" + s.replace("'", "''") + "'"


def _extract_captions_oracle_sql() -> str | None:
    """Fixture oracle for _q_extract_captions, computed by the
    REFERENCE parser itself: rebuild each page's figure markup
    driver-side, then walk reference navigation exactly as
    operators/extract.extract_page documents its chain —
    img.find_parent('figure') → figure.find('figcaption').get_text(),
    else alt, else find_next_sibling('p', class_='caption') — and
    embed (url, image_id, caption) as VALUES. An independent
    end-to-end pin of decode → parse → caption extraction (reference
    src/bisque/element/tag_core/tag.py find/get_text semantics)."""
    Bisque = _ref_bisque()
    if Bisque is None:
        return None
    import pyarrow.parquet as pq

    from bisque_spark.hashing import xxhash64_str

    docs = pq.read_table(
        f"{_oracle_sf_dir()}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    rows = []
    for r in docs:
        if r["text"] is None:
            continue  # NULL text → NULL content → no images row
        url = f"http://docs.test/d{r['doc_id']}"
        html = (
            '<html><body><figure><img src="/i.png"/><figcaption>'
            + r["text"][:120]
            + "</figcaption></figure></body></html>"
        )
        soup = Bisque(html, features="html.parser")
        page_hash = xxhash64_str(url)
        for k, img in enumerate(soup.find_all("img")):
            cap = None
            fig = img.find_parent("figure")
            if fig is not None:
                fc = fig.find("figcaption")
                if fc is not None:
                    cap = fc.get_text()
            if cap is None and img.has_attr("alt"):
                cap = img["alt"]
            if cap is None:
                sib = img.find_next_sibling("p", class_="caption")
                if sib is not None:
                    cap = sib.get_text()
            rows.append(
                f"({_sql_str(url)}, {_sql_str(f'img-{page_hash}-{k}')},"
                f" {_sql_str(cap if cap is not None else '')})"
            )
    vals = ",\n                   ".join(rows)
    return f"""
            SELECT * FROM (
                VALUES {vals}
            ) AS t(url, image_id, caption)
        """


def _parse_pipeline_oracle_sql() -> str | None:
    """Fixture oracle for _q_parse_pipeline, computed by the REFERENCE
    parser: per page, n_find_all = len(soup.find_all('p',
    class_='text', string=re.compile('the'))); n_css re-expresses the
    selector 'div.outer > p.a.b, a[rel~=next]' through reference
    navigation primitives (class/rel are multi-valued attrs — the
    reference's CSS engine needs the absent chinois package, so the
    selector semantics are re-derived independently, like the SQL
    re-expressions of LSH banding); fixpoint = str(Bisque(html))
    reaches a serialize fixpoint in one round — the reference's own
    parse→serialize loop, independent of the engine's
    parse_nodes/serialize_nodes."""
    Bisque = _ref_bisque()
    if Bisque is None:
        return None
    import re

    import pyarrow.parquet as pq

    docs = pq.read_table(
        f"{_oracle_sf_dir()}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    pat = re.compile("the")
    rows = []
    for r in docs:
        if r["text"] is None:
            continue
        url = f"http://docs.test/d{r['doc_id']}"
        html = (
            '<div class="outer"><p class="body  text a">'
            + r["text"][:120]
            + ' &amp; tail</p><p class="a b">x</p>'
            '<ul><li><a href="/n.html" rel="next  page">n</a></li></ul>'
            "<br><pre> k </pre></div>"
        )
        soup = Bisque(html, features="html.parser")
        n_fa = len(soup.find_all("p", class_="text", string=pat))
        n_css = 0
        for p in soup.find_all("p"):
            cls = p.get("class") or []
            if "a" in cls and "b" in cls:
                par = p.parent
                if (
                    par is not None
                    and par.name == "div"
                    and "outer" in (par.get("class") or [])
                ):
                    n_css += 1
        for a in soup.find_all("a"):
            if "next" in (a.get("rel") or []):
                n_css += 1
        once = str(soup)
        fix = once == str(Bisque(once, features="html.parser"))
        rows.append(
            f"({_sql_str(url)}, CAST({n_fa} AS BIGINT),"
            f" CAST({n_css} AS BIGINT), CAST({bool(fix)} AS BOOLEAN))"
        )
    vals = ",\n                   ".join(rows)
    return f"""
            SELECT * FROM (
                VALUES {vals}
            ) AS t(url, n_find_all, n_css, fixpoint)
        """


def oracle_sql() -> dict[str, str]:
    from bisque_spark.functions.text import STOPWORDS

    stop_list = ",".join(f"'{w}'" for w in EN_STOP)
    langs = sorted(STOPWORDS)  # de, en, es, fr
    lang_counts = ",\n                   ".join(
        "len(list_filter(words, x -> x IN ({lst}))) AS c_{lang}".format(
            lst=",".join(f"'{w}'" for w in sorted(STOPWORDS[lang])), lang=lang
        )
        for lang in langs
    )
    best = "greatest(" + ",".join(f"c_{lang}" for lang in langs) + ")"
    lang_case = (
        f"CASE WHEN {best} <= 0 OR {best} IS NULL THEN 'und' "
        + " ".join(f"WHEN c_{lang} = {best} THEN '{lang}'" for lang in langs)
        + " ELSE 'und' END"
    )
    out = {
        "emb_exact_near_pairs": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(
                     list_dot_product(
                        list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                        list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(a.embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                        * sqrt(list_sum(list_transform(b.embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                     4) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_dot_product(
                        list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                        list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(a.embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                        * sqrt(list_sum(list_transform(b.embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                   >= 0.4
        """,
        "doc_bpe_tokens": """
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                       AS ws_tokens,
                   len(list_filter(
                       regexp_extract_all(text,
                           $$'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+$$),
                       p -> trim(p) != '')) AS bpe_tokens
            FROM documents
        """,
        "doc_lang_run_clusters": """
            WITH RECURSIVE fwd AS (
                SELECT a.doc_id AS src, b.doc_id AS dst
                FROM documents a JOIN documents b
                  ON b.doc_id = a.doc_id + 1 AND b.lang = a.lang
            ), edges AS (
                SELECT src, dst FROM fwd
                UNION ALL
                SELECT dst, src FROM fwd
            ), verts AS (
                SELECT DISTINCT src AS id FROM edges
            ), reach(id, lbl) AS (
                SELECT id, id FROM verts
                UNION
                SELECT e.dst, r.lbl
                FROM reach r JOIN edges e ON e.src = r.id
            )
            SELECT id, CAST(min(lbl) AS BIGINT) AS cluster_id
            FROM reach GROUP BY id
        """,
        "doc_langid": f"""
            WITH w AS (
                SELECT doc_id,
                       regexp_extract_all(lower(text), '[a-zA-Zà-ÿÀ-ß]+') AS words
                FROM documents
            ), sc AS (
                SELECT doc_id,
                   {lang_counts}
                FROM w
            )
            SELECT doc_id, {lang_case} AS lang_pred FROM sc
        """,
        "doc_exact_dedup": """
            SELECT md5(text) AS text_hash,
                   min(doc_id) AS doc_id,
                   count(*) AS dup_count
            FROM documents GROUP BY md5(text)
        """,
        "crawl_refresh_schedule": """
            WITH seen AS (
                SELECT event_id AS url_hash,
                       'http://u' || CAST(user_id AS VARCHAR) || '.test/e'
                           || CAST(event_id AS VARCHAR) AS url,
                       'u' || CAST(user_id AS VARCHAR) || '.test' AS host,
                       CAST(event_id % 9 AS INT) AS fetched_epoch,
                       CAST(event_id % 4 AS INT) AS change_hint
                FROM events
            ), policy(change_hint, refresh_interval, weight) AS (
                -- explicit DOUBLE: DuckDB's VALUES would infer DECIMAL
                VALUES (0, 8, CAST(1.0 AS DOUBLE)),
                       (1, 4, CAST(2.0 AS DOUBLE)),
                       (2, 2, CAST(4.0 AS DOUBLE)),
                       (3, 1, CAST(8.0 AS DOUBLE))
            ), aged AS (
                SELECT s.url_hash, s.url, s.host,
                       CAST(9 - s.fetched_epoch AS INT) AS age,
                       (9 - s.fetched_epoch) * p.weight AS priority
                FROM seen s JOIN policy p USING (change_hint)
                WHERE 9 - s.fetched_epoch >= p.refresh_interval
            )
            SELECT url_hash, url, host, age,
                   round(priority, 6) AS priority
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY host
                    ORDER BY priority DESC, url_hash ASC) AS rk
                FROM aged
            ) WHERE rk <= 3
        """,
        # the WHOLE curation pipeline, hash-verified end to end (r4):
        # quality gate -> langid -> exact dedup (min id per md5) ->
        # exact 2-gram jaccard pairs -> recursive-CTE connected
        # components -> canonical keep (min id per cluster)
        "doc_curation_pipeline": f"""
            WITH RECURSIVE ls AS (
                SELECT doc_id,
                       string_split(
                           'the shared navigation boilerplate line for '
                           || 'every page' || chr(10)
                           || COALESCE(text, ''),
                           chr(10)
                       ) AS lls
                FROM documents
            ), lines AS (
                SELECT doc_id,
                       generate_subscripts(lls, 1) - 1 AS idx,
                       unnest(lls) AS line
                FROM ls
            ), ranked AS (
                SELECT doc_id, idx, line,
                       row_number() OVER (
                           PARTITION BY line ORDER BY doc_id, idx
                       ) AS rn
                FROM lines WHERE length(line) >= 6
            ), kept_lines AS (
                SELECT doc_id, idx, line FROM ranked WHERE rn = 1
                UNION ALL
                SELECT doc_id, idx, line FROM lines WHERE length(line) < 6
            ), rebuilt AS (
                SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY idx) AS text
                FROM kept_lines GROUP BY doc_id
            ), docs2 AS (
                SELECT d.doc_id, COALESCE(r.text, '') AS text
                FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
            ), w AS (
                SELECT doc_id, text,
                       regexp_extract_all(lower(text), '[a-zA-Zà-ÿÀ-ß]+') AS words
                FROM docs2
            ), sc AS (
                SELECT doc_id, text,
                   {lang_counts}
                FROM w
            ), scored AS (
                SELECT doc_id, text,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                       AS n_tokens,
                   round(CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE
                       len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                       w -> lower(w) IN ({stop_list})))
                       * 1.0 / len(regexp_split_to_array(trim(text), '\\s+')) END, 6)
                       AS stopword_ratio,
                   {lang_case} AS lang_pred
                FROM sc
            ), quality AS (
                SELECT * FROM scored WHERE n_tokens >= 5 AND lang_pred != 'und'
            ), keepers AS (
                SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(text)
            ), s AS (
                SELECT q.* FROM quality q JOIN keepers k ON q.doc_id = k.doc_id
            ), g AS (
                SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0
                             OR len(regexp_split_to_array(trim(text), '\\s+')) < 2
                        THEN CAST([] AS VARCHAR[])
                        ELSE list_distinct(list_transform(
                             generate_series(1,
                                 len(regexp_split_to_array(trim(text), '\\s+')) - 1),
                             i -> array_to_string(
                                 regexp_split_to_array(trim(text), '\\s+')[i:i+1],
                                 ' ')))
                   END AS grams
                FROM s
            ), fwd AS (
                SELECT a.doc_id AS src, b.doc_id AS dst
                FROM g a JOIN g b ON a.doc_id < b.doc_id
                WHERE len(list_distinct(list_concat(a.grams, b.grams))) > 0
                  AND len(list_intersect(a.grams, b.grams)) * 1.0
                      / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
            ), edges AS (
                SELECT src, dst FROM fwd
                UNION ALL
                SELECT dst, src FROM fwd
            ), verts AS (
                SELECT DISTINCT src AS id FROM edges
            ), reach(id, lbl) AS (
                SELECT id, id FROM verts
                UNION
                SELECT e.dst, r.lbl
                FROM reach r JOIN edges e ON e.src = r.id
            ), comps AS (
                SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id
            )
            SELECT doc_id, n_tokens, stopword_ratio, lang_pred
            FROM s
            WHERE doc_id NOT IN (
                SELECT id FROM comps WHERE id != cluster_id
            )
        """,
        "image_phash_pairs": _phash_pairs_oracle_sql(),
        "simhash_near_dups": _simhash_pairs_oracle_sql(),
        "minhash_near_dups": _minhash_pairs_oracle_sql(),
        "doc_dup_clusters": _dup_clusters_oracle_sql(),
        "lsh_embedding_pairs": _lsh_embedding_oracle_sql(),
        "image_features": _image_features_oracle_sql(),
        "audio_features": _audio_features_oracle_sql(),
        "validate_images": _validate_images_oracle_sql(),
        "emb_ivf_topk": _ivf_topk_oracle_sql(),
        "doc_token_stats": f"""
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                       AS n_tokens,
                   round(CASE WHEN length(text) = 0 THEN 0.0 ELSE
                         (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
                         / length(text) END, 6) AS punct_ratio,
                   round(CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE
                       len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                       w -> lower(w) IN ({stop_list})))
                       * 1.0 / len(regexp_split_to_array(trim(text), '\\s+')) END, 6)
                       AS stopword_ratio,
                   round(CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE
                       length(regexp_replace(text, '\\s+', '', 'g')) * 1.0
                       / len(regexp_split_to_array(trim(text), '\\s+')) END, 6)
                       AS mean_token_len
            FROM documents
        """,
        "doc_lang_counts": """
            SELECT lang, source, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY lang, source
        """,
        # exact all-pairs 2-gram Jaccard: grams replicate tokens_col +
        # ngrams_col semantics (trim-split on \s+, <n tokens -> empty,
        # distinct space-joined windows); union = distinct concat
        "ngram_jaccard_pairs": r"""
            WITH g AS (
                SELECT doc_id,
                       CASE WHEN length(trim(text)) = 0
                                 OR len(regexp_split_to_array(trim(text), '\s+')) < 2
                            THEN CAST([] AS VARCHAR[])
                            ELSE list_distinct(list_transform(
                                 generate_series(1,
                                     len(regexp_split_to_array(trim(text), '\s+')) - 1),
                                 i -> array_to_string(
                                     regexp_split_to_array(trim(text), '\s+')[i:i+1],
                                     ' ')))
                       END AS grams
                FROM documents
            )
            SELECT id_a, id_b, round(jac, 4) AS jaccard FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       len(list_intersect(a.grams, b.grams)) * 1.0
                           / len(list_distinct(list_concat(a.grams, b.grams))) AS jac
                FROM g a JOIN g b ON a.doc_id < b.doc_id
                WHERE len(list_distinct(list_concat(a.grams, b.grams))) > 0
            ) WHERE jac >= 0.1
        """,
        # north-star scheduler chain: robots prefix filter + per-host
        # budget window rank. Priorities are unique per host (-event_id)
        # so ORDER BY priority DESC alone reproduces Spark's
        # (priority DESC, url_hash ASC) ordering exactly.
        "crawl_epoch_schedule": """
            WITH f AS (
                SELECT 'http://h' ||
                           lpad(CAST(CAST(user_id % 40 AS INT) AS VARCHAR), 3, '0')
                           || '.test/p' || CAST(event_id AS VARCHAR) AS url,
                       'h' || lpad(CAST(CAST(user_id % 40 AS INT) AS VARCHAR), 3, '0')
                           || '.test' AS host,
                       CAST(user_id % 40 AS INT) AS hostnum,
                       -CAST(event_id + 1 AS DOUBLE) AS priority,
                       '/p' || CAST(event_id AS VARCHAR) AS path
                FROM events
            ), allowed AS (
                SELECT *, 1.0 + (hostnum % 4) AS crawl_delay
                FROM f
                WHERE NOT (hostnum % 7 = 0 AND path LIKE '/p1%')
            ), ranked AS (
                SELECT host, url, priority,
                       row_number() OVER (PARTITION BY host
                                          ORDER BY priority DESC) AS host_rank,
                       greatest(1, CAST(floor(8 / crawl_delay) AS INT)) AS budget
                FROM allowed
            )
            SELECT host, host_rank, url, round(priority, 1) AS priority
            FROM ranked WHERE host_rank <= budget
        """,
        "events_politeness_topk": """
            SELECT user_id, event_id, host_rank, round(value, 6) AS value
            FROM (
                SELECT user_id, event_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY value DESC, event_id ASC)
                           AS host_rank
                FROM events
            ) WHERE host_rank <= 5
        """,
        "events_sessionize": """
            WITH g AS (
                SELECT user_id,
                       epoch_ms(ts) / 1000.0 - lag(epoch_ms(ts) / 1000.0) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
                FROM events
            )
            SELECT user_id,
                   CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > 1800
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM g GROUP BY user_id
        """,
        "revenue_by_nation": """
            SELECT n_name,
                   round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS sum_disc_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_orders_per_customer": """
            SELECT o_custkey, o_orderkey, rk, round(o_totalprice, 2) AS totalprice
            FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_custkey
                                          ORDER BY o_totalprice DESC, o_orderkey ASC)
                           AS rk
                FROM orders
            ) WHERE rk <= 3
        """,
        "emb_label_stats": """
            SELECT label,
                   round(avg(sqrt(list_sum(list_transform(embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)
                       AS avg_norm,
                   count(*) AS n_vecs
            FROM embeddings GROUP BY label
        """,
        "parts_by_brand": """
            SELECT p_brand, count(*) AS n_parts,
                   round(avg(p_retailprice), 2) AS avg_price,
                   max(p_size) AS max_size
            FROM part GROUP BY p_brand
        """,
        "supplier_balance_by_nation": """
            SELECT n_name, count(*) AS n_suppliers,
                   round(min(s_acctbal), 2) AS min_bal,
                   round(max(s_acctbal), 2) AS max_bal,
                   round(avg(s_acctbal), 2) AS avg_bal
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "orders_by_month": """
            SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')
                       AS month, o_orderstatus,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders GROUP BY 1, 2
        """,
        "events_value_histogram": """
            SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS bucket,
                   count(*) AS n
            FROM events GROUP BY event_type, bucket
        """,
        "events_props_extract": """
            SELECT event_type,
                   round(avg(CAST(regexp_extract(props, ':\\s*(\\d+)', 1)
                                  AS BIGINT)), 4) AS avg_k,
                   max(CAST(regexp_extract(props, ':\\s*(\\d+)', 1) AS BIGINT))
                       AS max_k,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "customer_segments": """
            SELECT c_mktsegment, count(*) AS n_customers,
                   round(avg(c_acctbal), 2) AS avg_bal
            FROM customer GROUP BY c_mktsegment
        """,
        "region_nation_counts": """
            SELECT r_name, count(*) AS n_nations
            FROM nation JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "top_suppliers_per_nation": """
            SELECT s_nationkey, s_suppkey, rk, round(s_acctbal, 2) AS acctbal
            FROM (
                SELECT s_nationkey, s_suppkey, s_acctbal,
                       row_number() OVER (PARTITION BY s_nationkey
                                          ORDER BY s_acctbal DESC, s_suppkey)
                           AS rk
                FROM supplier
            ) WHERE rk <= 2
        """,
        "events_user_daily": """
            SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   count(*) AS n_events,
                   round(avg(value), 4) AS avg_value
            FROM events GROUP BY user_id, day
        """,
        "events_time_rollup": """
            SELECT 'hour' AS gran,
                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS bucket,
                   count(*) AS n, round(sum(value), 4) AS sum_v,
                   round(min(value), 4) AS min_v, round(max(value), 4) AS max_v
            FROM events GROUP BY bucket
            UNION ALL
            SELECT 'day' AS gran,
                   strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
                   count(*) AS n, round(sum(value), 4) AS sum_v,
                   round(min(value), 4) AS min_v, round(max(value), 4) AS max_v
            FROM events GROUP BY bucket
        """,
        # incremental refresh must equal the FULL recompute — the
        # oracle deliberately rescans everything
        "events_rollup_incremental": """
            SELECT 'hour' AS gran,
                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS bucket,
                   count(*) AS n, round(sum(value), 4) AS sum_v,
                   round(min(value), 4) AS min_v, round(max(value), 4) AS max_v
            FROM events GROUP BY bucket
            UNION ALL
            SELECT 'day' AS gran,
                   strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
                   count(*) AS n, round(sum(value), 4) AS sum_v,
                   round(min(value), 4) AS min_v, round(max(value), 4) AS max_v
            FROM events GROUP BY bucket
        """,
        "shipping_priority": """
            SELECT l_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'),
                     o_orderpriority
            ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        "regional_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY n_name
        """,
        "events_pivot_by_type": """
            WITH t AS (SELECT event_type,
                              row_number() OVER (ORDER BY event_type) - 1
                                  AS idx
                       FROM (SELECT DISTINCT event_type FROM events)
                       ORDER BY event_type LIMIT 3)
            SELECT user_id,
                   CAST(sum(CASE WHEN event_type =
                       (SELECT event_type FROM t WHERE idx = 0)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_0,
                   CAST(sum(CASE WHEN event_type =
                       (SELECT event_type FROM t WHERE idx = 1)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_1,
                   CAST(sum(CASE WHEN event_type =
                       (SELECT event_type FROM t WHERE idx = 2)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_2
            FROM events GROUP BY user_id
        """,
        "events_value_stats": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.9), 4) AS p90,
                   round(stddev_samp(value), 4) AS sd,
                   round(min(value), 4) AS vmin,
                   round(max(value), 4) AS vmax
            FROM events GROUP BY event_type
        """,
        "emb_dim_stats": """
            SELECT label,
                   round(avg(CAST(embedding[1] AS DOUBLE)), 4) AS avg_d1,
                   round(avg(CAST(embedding[2] AS DOUBLE)), 4) AS avg_d2,
                   round(avg(CAST(embedding[32] AS DOUBLE)), 4) AS avg_d32,
                   round(avg(CAST(embedding[64] AS DOUBLE)), 4) AS avg_d64
            FROM embeddings GROUP BY label
        """,
        "events_asof_join": """
            WITH tt AS (
                SELECT DISTINCT event_type FROM events
                ORDER BY event_type LIMIT 2
            ),
            a AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = (SELECT min(event_type) FROM tt)),
            b AS (SELECT user_id, ts, value AS rv FROM events
                  WHERE event_type = (SELECT max(event_type) FROM tt))
            SELECT a.event_id, a.user_id, round(b.rv, 6) AS prev_value
            FROM a ASOF LEFT JOIN b
              ON a.user_id = b.user_id AND a.ts >= b.ts
        """,
        "pricing_rollup": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   count(*) AS n_rows
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "orders_status_cube": """
            SELECT o_orderstatus, o_orderpriority,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_mktsegment,
                   coalesce(n, 0) AS n_orders
            FROM customer
            LEFT JOIN (SELECT o_custkey, count(*) AS n FROM orders
                       GROUP BY o_custkey) oc
              ON c_custkey = oc.o_custkey
            WHERE coalesce(n, 0) <= 2
        """,
        "active_users_both_types": """
            WITH t AS (SELECT DISTINCT event_type FROM events
                       ORDER BY event_type LIMIT 2)
            SELECT user_id FROM events
            WHERE event_type = (SELECT min(event_type) FROM t)
            INTERSECT
            SELECT user_id FROM events
            WHERE event_type = (SELECT max(event_type) FROM t)
        """,
        "emb_knn_query0": """
            WITH q AS (
                SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0
            ),
            scored AS (
                SELECT e.vec_id,
                       list_dot_product(
                           list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                           list_transform(q.qvec, x -> CAST(x AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(e.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(q.qvec,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                           AS cos_raw
                FROM embeddings e, q
                WHERE e.vec_id <> 0
            )
            SELECT vec_id, round(cos_raw, 4) AS cosine
            FROM scored
            ORDER BY cos_raw DESC, vec_id ASC
            LIMIT 10
        """,
    }
    # Reference-backed parse oracles (50/50 when the reference tree is
    # mounted; driver falls back to rows-only for these two otherwise).
    cap_sql = _extract_captions_oracle_sql()
    if cap_sql is not None:
        out["extract_captions"] = cap_sql
    pp_sql = _parse_pipeline_oracle_sql()
    if pp_sql is not None:
        out["parse_pipeline"] = pp_sql
    return out
