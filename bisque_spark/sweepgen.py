"""Deterministic sf-sweep data generator (VERDICT r5 Next-round #3).

The 100×-scale story needs measured time-vs-rows evidence, not only
plan shapes: ``bench.py --sf-sweep`` times the top bench entries on
two generated datasets whose row counts differ by exactly 10× (the
sf0.1 → sf1 step) and reports time-ratio vs data-ratio. /root/testdata
is read-only and has no sf1, so the sweep generates BOTH points itself
with this module — same generator at both scales, so the ratio is
apples-to-apples.

Everything derives from xxhash64(id) Column expressions: fully
JVM-side (no Python in the generate path), deterministic regardless of
partitioning, and embarrassingly parallel — the same generator would
mint a 100 TB corpus on a real cluster by widening ``spark.range``.

Near-dup structure is PLANTED LINEARLY: every id ≡ 1 (mod 10) document
(and embedding) is a light perturbation of its id-1 neighbor, so the
near-dup pair count — the output size of minhash/LSH entries — grows
linearly with rows and the sweep measures engine scaling, not a
quadratic pair explosion. Background rows draw from a 200-word vocab
(documents) / 64-dim hash-uniform vectors (embeddings) whose pairwise
similarity sits far below the operating thresholds.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

# row counts at scale=1.0 — matches /root/testdata/sf0.1 per table so
# "scale 10" is an sf1-equivalent volume
BASE_ROWS = {
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

_VOCAB = [
    f"w{i:03d}{'abcdefgh'[i % 8]}" for i in range(200)
]  # 200 distinct ~5-char words → background 8-byte-shingle Jaccard ≪ 0.35


def _u(seed: str, *cols) -> F.Column:
    """Deterministic non-negative long from (seed, cols)."""
    return F.abs(F.xxhash64(F.lit(seed), *cols))


def gen_lineitem(spark: SparkSession, n: int, parts: int) -> DataFrame:
    idc = F.col("id")
    return spark.range(0, n, 1, parts).select(
        (idc / 4).cast("long").alias("l_orderkey"),
        F.pmod(_u("pk", idc), F.lit(200_000)).alias("l_partkey"),
        F.pmod(_u("sk", idc), F.lit(10_000)).alias("l_suppkey"),
        (F.pmod(idc, F.lit(4)) + 1).cast("int").alias("l_linenumber"),
        (F.pmod(_u("qty", idc), F.lit(50)) + 1)
        .cast("double")
        .alias("l_quantity"),
        F.round(900 + F.pmod(_u("px", idc), F.lit(90_000)) / 1.0, 2).alias(
            "l_extendedprice"
        ),
        (F.pmod(_u("disc", idc), F.lit(11)) / 100).alias("l_discount"),
        (F.pmod(_u("tax", idc), F.lit(9)) / 100).alias("l_tax"),
        F.element_at(
            F.array(F.lit("A"), F.lit("N"), F.lit("R")),
            (F.pmod(_u("rf", idc), F.lit(3)) + 1).cast("int"),
        ).alias("l_returnflag"),
        F.element_at(
            F.array(F.lit("O"), F.lit("F")),
            (F.pmod(_u("ls", idc), F.lit(2)) + 1).cast("int"),
        ).alias("l_linestatus"),
        F.to_timestamp(
            F.date_add(
                F.lit("1992-01-01").cast("date"),
                F.pmod(_u("sd", idc), F.lit(2500)).cast("int"),
            )
        ).alias("l_shipdate"),
    )


def gen_events(spark: SparkSession, n: int, parts: int) -> DataFrame:
    idc = F.col("id")
    n_users = max(50, n // 100)
    return spark.range(0, n, 1, parts).select(
        idc.alias("event_id"),
        F.timestamp_seconds(
            F.lit(1_735_689_600)  # 2025-01-01
            + F.pmod(_u("ts", idc), F.lit(30 * 86_400))
        ).alias("ts"),
        F.pmod(_u("user", idc), F.lit(n_users)).alias("user_id"),
        F.element_at(
            F.array(
                F.lit("signup"),
                F.lit("click"),
                F.lit("error"),
                F.lit("view"),
                F.lit("purchase"),
            ),
            (F.pmod(_u("et", idc), F.lit(5)) + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod(_u("val", idc), F.lit(10_000)) / 100).alias("value"),
        F.concat(
            F.lit('{"k": '),
            F.pmod(_u("props", idc), F.lit(100)).cast("string"),
            F.lit("}"),
        ).alias("props"),
    )


def gen_documents(spark: SparkSession, n: int, parts: int) -> DataFrame:
    idc = F.col("id")
    vocab = F.array(*[F.lit(w) for w in _VOCAB])
    # id ≡ 1 (mod 10) rows share their word stream with id-1 (group g),
    # differing only in the final word → planted near-dup, linear count
    is_dup = F.pmod(idc, F.lit(10)) == 1
    g = F.when(is_dup, idc - 1).otherwise(idc)
    n_words = (F.pmod(_u("len", g), F.lit(30)) + 40).cast("int")
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda i: F.element_at(
            vocab, (F.pmod(_u("w", g, i), F.lit(len(_VOCAB))) + 1).cast("int")
        ),
    )
    words = F.when(
        is_dup, F.concat(F.slice(words, 1, n_words - 1), F.array(F.lit("xx")))
    ).otherwise(words)
    text = F.array_join(words, " ")
    return spark.range(0, n, 1, parts).select(
        idc.alias("doc_id"),
        text.alias("text"),
        F.element_at(
            F.array(
                F.lit("en"), F.lit("es"), F.lit("de"), F.lit("fr"), F.lit("zh")
            ),
            (F.pmod(_u("lang", idc), F.lit(5)) + 1).cast("int"),
        ).alias("lang"),
        F.concat(
            F.lit("src"), F.pmod(_u("src", idc), F.lit(20)).cast("string")
        ).alias("source"),
        F.length(text).cast("long").alias("n_chars"),
    )


def gen_embeddings(spark: SparkSession, n: int, parts: int) -> DataFrame:
    dim = 64
    idc = F.col("id")
    is_dup = F.pmod(idc, F.lit(10)) == 1
    g = F.when(is_dup, idc - 1).otherwise(idc)
    base = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.pmod(_u("e", g, i), F.lit(2001)) / 1000.0 - 1.0,
    )
    # dup rows: base + per-dim noise in [-0.005, 0.005] → cosine ≈ 1;
    # independent 64-dim hash-uniform vectors concentrate near cos 0
    vec = F.when(
        is_dup,
        F.zip_with(
            base,
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: (F.pmod(_u("n", idc, i), F.lit(11)) - 5) / 1000.0,
            ),
            lambda a, b: a + b,
        ),
    ).otherwise(base)
    return spark.range(0, n, 1, parts).select(
        idc.alias("vec_id"),
        vec.cast("array<float>").alias("embedding"),
        F.pmod(_u("lbl", idc), F.lit(10)).cast("int").alias("label"),
    )


_GENS = {
    "lineitem": gen_lineitem,
    "events": gen_events,
    "documents": gen_documents,
    "embeddings": gen_embeddings,
}


def generate_sweep_tables(
    spark: SparkSession, out_dir: str, scale: float
) -> None:
    """Write the four swept tables at ``scale``× BASE_ROWS into
    ``out_dir/{table}.parquet`` (the testdata layout `_load` expects).
    Idempotent: a `_SWEEP_DONE` marker skips regeneration."""
    marker = os.path.join(out_dir, "_SWEEP_DONE")
    if os.path.exists(marker):
        return
    os.makedirs(out_dir, exist_ok=True)
    for table, gen in _GENS.items():
        n = int(BASE_ROWS[table] * scale)
        parts = max(8, min(64, n // 50_000 + 8))
        gen(spark, n, parts).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{table}.parquet")
        )
    with open(marker, "w") as f:
        f.write(f"scale={scale}\n")
